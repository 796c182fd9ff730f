"""Driver block sources — where the driver branch of every query operator
reads its inputs from.

Two implementations answer the same calls:

* :class:`ResidentSource` — the whole (small) index collected into driver
  memory by ``SearchEngine.warm()``: postings blocks, the positional
  sidecar, the doc_id-sorted meta frame and the tombstone ids, held as ONE
  immutable object.
* :class:`~gofias_spark.query.serve.ServeCache` — the term-bucketed
  parquet cache, read driver-side with pyarrow.

The calls: ``fetch(terms)`` (posting blocks), ``fetch_positions(terms)``
(positional blocks, when ``has_positions``), ``fetch_meta(ids, cols)``
(attribute rows), ``meta_columns()``, ``tombs`` (sorted tombstoned
doc_ids, or None) and ``allowed(filters)`` (sorted live doc_ids passing
the filters, or None when the source cannot enumerate them — the serve
cache holds no meta in memory, so its callers score all candidates and
post-filter them against ``fetch_meta``). ``route`` names the source in
``explain_query``.

A query binds its source once (``SearchEngine._driver_source``) and reads
only through that reference. Eviction and ``close()`` drop the engine's
reference, never the object's contents, so a query in flight finishes on
the snapshot it started on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_RANGE_OPS = {
    "gte": lambda c, v: c >= v,
    "gt": lambda c, v: c > v,
    "lte": lambda c, v: c <= v,
    "lt": lambda c, v: c < v,
    "neq": lambda c, v: c != v,
}


def pandas_filter_mask(pdf: pd.DataFrame, filters: dict) -> pd.Series:
    """``compile_filters`` semantics over a pandas frame — the single
    driver-side filter evaluator (resident source + serve tier), kept
    bit-consistent with the Spark column expressions.

    Spark null semantics are applied explicitly: a null attribute fails
    EVERY predicate, including ``neq`` (``col != v`` is null → dropped),
    which pandas would otherwise pass (``NaN != v`` is True)."""
    mask = pd.Series(True, index=pdf.index)
    for field, val in filters.items():
        if field == "path_prefix":
            mask &= pdf["path"].str.startswith(val).fillna(False)
            continue
        s = pdf[field]
        notna = s.notna()
        if isinstance(val, dict):
            for op, v in val.items():
                if op == "exists":
                    mask &= notna if v else ~notna
                    continue
                if op not in _RANGE_OPS:
                    raise ValueError(f"unknown range operator {op!r}")
                sub = np.zeros(len(pdf), dtype=bool)
                sub[notna.to_numpy()] = _RANGE_OPS[op](
                    s[notna], v
                ).to_numpy(dtype=bool)
                mask &= pd.Series(sub, index=pdf.index)
        elif isinstance(val, (list, tuple, set)):
            mask &= s.isin(list(val)) & notna
        else:
            mask &= (s == val) & notna
    return mask


def _term_index(frame: pd.DataFrame | None):
    """(sorted term keys, stable argsort of ``frame``'s term column): the
    rows of a few terms are then a few binary searches, not a scan of the
    whole frame. Costs two pointer-sized arrays; ``frame`` is not copied."""
    if frame is None:
        return None
    terms = frame["term"].to_numpy()
    order = np.argsort(terms, kind="stable")
    return terms[order], order


def _rows_of(frame: pd.DataFrame, index, terms) -> pd.DataFrame:
    """The rows of ``terms`` in ``frame``, each term's rows in frame order."""
    keys, order = index
    want = np.unique(np.asarray(list(terms), dtype=object))
    lo = np.searchsorted(keys, want, side="left")
    hi = np.searchsorted(keys, want, side="right")
    return frame.iloc[np.concatenate(
        [np.empty(0, dtype=np.int64)]
        + [order[a:b] for a, b in zip(lo, hi)]
    )]


class ResidentSource:
    """The whole index in driver memory. Blocks and positions are indexed
    by term and ``meta`` is kept sorted by doc_id, so a query's rows are
    binary searches + ``take`` — never a scan of or a merge against a
    whole frame."""

    route = "local"

    def __init__(self, blocks: pd.DataFrame, meta: pd.DataFrame,
                 tombs: np.ndarray | None,
                 positions: pd.DataFrame | None = None,
                 state: tuple | None = None):
        """``state``: the index state the snapshot holds
        (``store.manifest_state``: segments and tombstone files), or None
        when unknown. A bulk resolves its keys against the snapshot only
        when this equals the state on disk."""
        self.blocks, self.positions = blocks, positions
        self.state = state
        self._block_index = _term_index(blocks)
        self._pos_index = _term_index(positions)
        self.meta = meta.sort_values("doc_id", ignore_index=True)
        self._ids = self.meta["doc_id"].to_numpy(dtype=np.int64)
        self.tombs = tombs
        # pandas deep bytes of the frames: measuring them walks every
        # object (~0.1 s on 100k blocks), so extend() adds the measure of
        # just the added rows to this one's
        self._frame_bytes: int | None = None

    def extend(self, blocks: pd.DataFrame | None, meta: pd.DataFrame | None,
               positions: pd.DataFrame | None, tombs: np.ndarray | None,
               state: tuple | None) -> ResidentSource:
        """A new source holding this one's rows plus the added ``blocks``,
        ``meta`` and ``positions`` rows (same columns; None adds none),
        with ``tombs`` and ``state`` in place of this one's. This source
        is left as it is; only the added frames are measured."""
        def cat(old, new):
            if old is None or new is None or not len(new):
                return old
            # copy() consolidates the per-column blocks that concat leaves
            # (one 2D block per dtype): a row take per query on 13 blocks
            # measured ~2 ms slower than on the 3 of a full warm's frame
            return pd.concat([old, new], ignore_index=True).copy()

        out = ResidentSource(cat(self.blocks, blocks), cat(self.meta, meta),
                             tombs, cat(self.positions, positions), state)
        out._frame_bytes = self._deep_bytes() + _deep_bytes(
            blocks, meta, None if self.positions is None else positions)
        return out

    @property
    def has_positions(self) -> bool:
        return self.positions is not None and "dls" in self.positions.columns

    def fetch(self, terms: list[str]) -> pd.DataFrame:
        return _rows_of(self.blocks, self._block_index, terms)

    def fetch_positions(self, terms: list[str]) -> pd.DataFrame:
        return _rows_of(self.positions, self._pos_index, terms)

    def fetch_meta(self, doc_ids, columns: list[str] | None = None
                   ) -> pd.DataFrame:
        """Rows of the distinct ``doc_ids`` present, doc_id ascending,
        ``columns`` in the given order (all when None) — the same frame
        ``ServeCache.fetch_meta`` returns for the same index."""
        want = np.unique(np.asarray(doc_ids, dtype=np.int64))
        pos = np.searchsorted(self._ids, want)
        hit = pos < self._ids.size
        hit[hit] = self._ids[pos[hit]] == want[hit]
        cols = self.meta.columns if columns is None else pd.Index(columns)
        ci = self.meta.columns.get_indexer(cols)
        if (ci < 0).any():
            raise KeyError(f"not in resident meta: {list(cols[ci < 0])}")
        return self.meta.iloc[pos[hit], ci].reset_index(drop=True)

    def meta_columns(self) -> set[str]:
        return set(self.meta.columns)

    def allowed(self, filters: dict | None) -> np.ndarray | None:
        """Sorted live doc_ids passing ``filters`` (an empty dict passes
        every live doc); None means no restriction (``filters=None``)."""
        if filters is None:
            return None
        ids = self._ids[pandas_filter_mask(self.meta, filters).to_numpy()]
        if self.tombs is not None and ids.size:
            ids = ids[~np.isin(ids, self.tombs, assume_unique=True)]
        return ids

    def nbytes(self) -> int:
        """Measured bytes held: pandas deep memory + numpy nbytes (what
        the CacheGovernor accounts)."""
        arrays = [self.tombs, *(self._block_index or ()),
                  *(self._pos_index or ())]
        return self._deep_bytes() + sum(
            int(a.nbytes) for a in arrays if a is not None)

    def _deep_bytes(self) -> int:
        if self._frame_bytes is None:
            self._frame_bytes = _deep_bytes(
                self.blocks, self.meta, self.positions)
        return self._frame_bytes


def _deep_bytes(*frames: pd.DataFrame | None) -> int:
    """pandas deep memory of the frames' columns (objects' own sizes
    included; the row index left out, so the bytes of concatenated
    frames are the sum of theirs)."""
    return sum(int(pdf.memory_usage(deep=True, index=False).sum())
               for pdf in frames if pdf is not None)
