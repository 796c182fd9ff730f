"""SearchEngine — the query API surface over a built index.

Reproduces the reference's query entry points (SURVEY.md §2.11:
GetAddressByTerm / GetSuggests / GetByGuid / count / version-stats,
/root/reference/app/interfaces/grpc/proto/v1/fias/fias.proto:80-119 and
elasticAddressRepository.go:335-640) as a Python API over DataFrames:

    engine.search(query, k, filters=..., mode="and"|"or", offset=...)
    engine.count(query=None, filters=...)
    engine.get_doc(repo=..., path=..., commit=...) / get_doc(doc_id=...)
    engine.stats()

Every operator has two branches. The driver branch binds one driver
block source (query/source.py: the resident index or the term-bucketed
serve cache, chosen by ``_driver_source``) and runs the numpy kernels on
what it fetches — no Spark job. The distributed branch
(``_per_partition``) has this execution shape:
    analyze query (driver)  →  term-stats lookup (warm driver dict / tiny
       filtered scan)
    →  postings scan filtered to query terms (parquet row-group pruned:
       files sorted by term; cached batches term-major sorted for in-memory
       min/max pruning)
    →  scoring kernel — fast path: mapInPandas, ONE python call per cache
       partition (no attribute filters; tombstones via broadcast); filter
       path: cogroup by doc_part with the allowed/excluded doc_id side
       (co-partitioned with the cache — no shuffle; filters push down to
       the doc_meta scan)
    →  global top-k via TakeOrderedAndProject (score desc, doc_id asc)
    →  k-row display lookup: doc_id IN (ids) pruned scan of the
       doc_id-sorted meta cache, merged driver-side.

Attribute-first composite sorts (``sort_by``) run the kernel in
all-matches mode with sort attributes riding the cogroup side, take the
per-partition composite top-n, and merge globally on the composite key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gofias_spark.analyzer import analyze_query, tokenize_text
from gofias_spark.config import AnalyzerConfig, BM25Params
from gofias_spark.index.store import (
    STATS_DELTA_SCHEMA,
    TOMBSTONE_SCHEMA,
    IndexStore,
    arrow_table_dataset,
    data_files,
    manifest_state,
    read_parquet,
)
from gofias_spark.query import kernel as K
from gofias_spark.query.memgov import GOVERNOR
from gofias_spark.query.serve import ServeCache, state_token
from gofias_spark.query.source import (  # noqa: F401 - re-exported
    _RANGE_OPS,
    ResidentSource,
    pandas_filter_mask,
)

RESULT_SCHEMA = "doc_id long, score double"
DISPLAY_SCHEMA = (
    "doc_id long, score double, repo string, path string, "
    "commit string, lang string, sha256 string"
)
# the doc_meta columns every driver source holds (display + doclen)
META_COLS = ["doc_id", "repo", "path", "commit", "lang", "sha256", "doclen"]

# Lucene-style multi-term rewrite bound: the default cap on how many
# vocabulary terms a wildcard/regexp/prefix rewrite may expand to. At
# code-corpus scale the term dictionary is 10^8+; a pattern like ``a*``
# with no cap means an unbounded driver collect and an OR-query over
# millions of variants (Lucene caps its own rewrites the same way).
# Pass ``max_expansions=None`` explicitly for exact expansion (oracles).
DEFAULT_MAX_EXPANSIONS = 512


def _by_score(r: pd.DataFrame) -> pd.DataFrame:
    """Rows in the engine's result order: score desc, doc_id asc."""
    return r.sort_values(["score", "doc_id"], ascending=[False, True],
                         kind="mergesort")


def _term_sums(files, col: str):
    """(term, Σ col) pairs over the parquet ``files``, read with pyarrow."""
    import pyarrow.dataset as ds

    if not files:
        return []
    tbl = ds.dataset([str(f) for f in files], format="parquet").to_table(
        columns=["term", col]
    ).group_by("term").aggregate([(col, "sum")])
    return zip(tbl["term"].to_pylist(), tbl[f"{col}_sum"].to_pylist())


def _weighted_quantiles(vals: np.ndarray, cnts: np.ndarray, ps) -> list:
    """Exact linear-interpolation quantiles over a (value, count) table —
    numpy 'linear' == DuckDB ``quantile_cont`` — without expanding the
    counts (the driver holds distinct values only, never per-doc
    copies)."""
    order = np.argsort(vals, kind="mergesort")
    vals, cnts = vals[order], cnts[order]
    cum = np.cumsum(cnts)          # 1-based rank of each value's LAST copy
    n = int(cum[-1])
    out = []
    for p in ps:
        h = (p / 100.0) * (n - 1)  # fractional 0-based rank (linear)
        lo_rank, frac = int(np.floor(h)), h - np.floor(h)
        # value at 0-based rank r = first i with cum[i] > r
        i_lo = int(np.searchsorted(cum, lo_rank, side="right"))
        if frac == 0.0 or lo_rank + 1 >= n:
            out.append(float(vals[i_lo]))
            continue
        i_hi = int(np.searchsorted(cum, lo_rank + 1, side="right"))
        out.append(float(vals[i_lo] + frac * (vals[i_hi] - vals[i_lo])))
    return out


def _phrase_position_kernel(seq: list[str], score_params: dict | None = None,
                            excluded_bc=None, allowed: np.ndarray | None = None,
                            slop: int = 0,
                            prefix_terms: list[str] | None = None,
                            first_end: int | None = None,
                            not_seq: list[str] | None = None,
                            not_pre: int = 0, not_post: int = 0,
                            span_gate: str = "not",
                            unordered: bool = False):
    """applyInPandas kernel over one doc_part of the positional sidecar:
    decode the phrase terms' position blocks, find the doc_ids where the
    token sequence ``seq`` occurs consecutively. Runs on the sidecar's own
    doc_part partitioning (all of a doc's terms live in one doc_part), so
    the grouping shuffles only position blocks of the query's terms.

    With ``score_params`` ({idf, avgdl, k1, b}) the kernel ALSO scores the
    survivors from the dls it already decoded and emits (doc_id, score) —
    the one-pass phrase plan: a phrase query then runs a single scan of
    the positions table, no separate scoring stage and no join.
    ``excluded_bc`` is the tombstone doc_id broadcast (or a plain sorted
    array on the driver-side call path); ``allowed`` is a sorted
    allowed-doc_id array (the local filtered path). Without score_params
    it emits doc_id only (the verify half of the two-stage filtered
    plan). The same kernel serves three callers: the distributed
    groupby(doc_part) plan, and the driver-side searcher which calls it
    directly on the resident sidecar frame (multi-doc_part input — the
    (doc_part, block_id) sort keeps per-term doc_ids ascending because
    doc_id embeds doc_part in its high bits).

    ``prefix_terms`` extends the verified sequence by ONE more slot (ES
    ``match_phrase_prefix``): after the fixed chain ``seq`` matches at
    start position p, ANY of the prefix-expansion terms must occur at
    p + len(seq). Expansion rows ride the same pdf; they gate matches but
    never score (the conjunctive-candidate and BM25 stages see only
    ``seq``). Mutually exclusive with ``slop`` (a sloppy prefix phrase is
    ill-defined — the chain end varies per match).

    ``not_seq`` (ES/Lucene ``span_not``) drops every match of ``seq``
    whose span overlaps a span of ``not_seq`` in the same doc, the
    overlap window widened by ``not_pre`` tokens before and ``not_post``
    after (Lucene's pre/post). Exclude spans are located with the SAME
    chain machinery over masked any-presence keys (candidates need not
    contain the exclude phrase), then each include start runs one
    sorted-range probe against the exclude-start key array — fully
    vectorized, no per-candidate loop. Exclude rows gate; they never
    score. Requires slop=0 (exact include spans).

    ``span_gate`` selects the relation when ``not_seq`` is given:
    ``"not"`` (default) DROPS matches overlapping an other-phrase span
    (window widened by pre/post); ``"containing"`` KEEPS only matches
    whose span fully contains an other-phrase span (Lucene
    ``span_containing`` with ``seq`` as big); ``"within"`` KEEPS only
    matches whose span lies fully inside an other-phrase span (Lucene
    ``span_within`` with ``seq`` as little). All three are the same
    two-searchsorted sorted-range probe with different bounds."""
    if prefix_terms is not None and slop:
        raise ValueError("prefix_terms cannot combine with slop")
    if not_seq is not None and (slop or prefix_terms is not None):
        raise ValueError("not_seq requires slop=0 and no prefix_terms")
    if span_gate not in ("not", "containing", "within"):
        raise ValueError("span_gate must be not|containing|within")
    if unordered and (prefix_terms is not None or not_seq is not None):
        raise ValueError(
            "unordered span_near combines with neither prefix_terms nor "
            "not_seq"
        )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from gofias_spark.index.codec import (
            decode_block_positions,
            delta_decode,
            varbyte_decode,
        )

        if score_params is not None:
            empty = pd.DataFrame(
                {
                    "doc_id": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="float64"),
                }
            )
        else:
            empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64")})
        if len(pdf) == 0:
            return empty
        uniq = list(dict.fromkeys(seq))
        # decode each term's blocks into flat sorted arrays (blocks are
        # doc-ascending within a term once ordered by block_id)
        per_term: dict[str, tuple] = {}
        for t, g in pdf.groupby("term", sort=False):
            # `base` sorts a term's blocks into global doc_id order on
            # every caller's layout (bases are strictly increasing within
            # a term, and doc_ids ascend with doc_part across partitions)
            g = g.sort_values("base", kind="mergesort")
            ids = np.concatenate(
                [
                    delta_decode(varbyte_decode(d), int(b))
                    for d, b in zip(g["docs"], g["base"])
                ]
            )
            tf = varbyte_decode(b"".join(g["tfs"])).astype(np.int64)
            flat, starts = decode_block_positions(b"".join(g["poss"]), tf)
            dl = (
                varbyte_decode(b"".join(g["dls"])).astype(np.float64)
                if score_params is not None
                else None
            )
            per_term[t] = (ids, tf, flat, starts, dl)
        if any(t not in per_term for t in uniq):
            return empty
        exp_present: list[str] = []
        if prefix_terms is not None:
            exp_present = [t for t in prefix_terms if t in per_term]
            if not exp_present:
                return empty
        # conjunctive candidates, rarest term first (score_and's shape)
        order = sorted(uniq, key=lambda t: per_term[t][0].size)
        cand = per_term[order[0]][0]
        excluded = getattr(excluded_bc, "value", excluded_bc)
        if excluded is not None and cand.size:
            cand = cand[
                ~np.isin(cand, excluded, assume_unique=True)
            ]
        if allowed is not None and cand.size:
            cand = cand[np.isin(cand, allowed, assume_unique=True)]
        for t in order[1:]:
            if cand.size == 0:
                return empty
            ids = per_term[t][0]
            pos = np.searchsorted(ids, cand)
            pos_c = np.minimum(pos, ids.size - 1)
            cand = cand[ids[pos_c] == cand]
        if cand.size == 0:
            return empty
        # adjacency verify, fully vectorized across candidates: encode a
        # candidate's positions for term j as composite keys
        # owner*BIG + (pos - j); a phrase occurrence at start position p in
        # candidate c is then the SAME key c*BIG + p in every term's key
        # set, so the chain check is a running sorted-set intersection —
        # no per-candidate python loop (that loop measured ~4 s at 100k
        # candidates; this path is ~ms)
        idx = {
            t: np.searchsorted(per_term[t][0], cand) for t in uniq
        }
        big = np.int64(1) << np.int64(40)  # positions < dl << 2^40

        def term_keys(t: str, shift: int) -> np.ndarray:
            _, tf_t, flat_t, starts_t, _ = per_term[t]
            p = idx[t]
            cnt = tf_t[p]
            total = int(cnt.sum())
            if total == 0:
                return np.empty(0, dtype=np.int64)
            ends = np.cumsum(cnt)
            within = np.arange(total, dtype=np.int64) - np.repeat(
                ends - cnt, cnt
            )
            take = np.repeat(starts_t[p], cnt) + within
            owner = np.repeat(
                np.arange(cand.size, dtype=np.int64), cnt
            )
            vals = flat_t[take] - np.int64(shift)
            if shift:
                # an occurrence at position < shift can't start a phrase
                # and a negative offset would leak into the previous
                # owner's key band
                m = vals >= 0
                owner, vals = owner[m], vals[m]
            return owner * big + vals

        def term_keys_any(t: str, shift: int) -> np.ndarray:
            # masked variant for prefix-expansion terms: candidates are
            # NOT guaranteed to contain t (expansions gate, they don't
            # filter candidates), so owners where the searchsorted slot
            # belongs to a different doc must be dropped — their position
            # blocks would otherwise mint keys for the wrong candidate
            ids_t, tf_t, flat_t, starts_t, _ = per_term[t]
            p = np.searchsorted(ids_t, cand)
            pc = np.minimum(p, ids_t.size - 1)
            valid = ids_t[pc] == cand
            if not valid.any():
                return np.empty(0, dtype=np.int64)
            sel = pc[valid]
            cnt = tf_t[sel]
            total = int(cnt.sum())
            if total == 0:
                return np.empty(0, dtype=np.int64)
            ends = np.cumsum(cnt)
            within = np.arange(total, dtype=np.int64) - np.repeat(
                ends - cnt, cnt
            )
            take = np.repeat(starts_t[sel], cnt) + within
            owner = np.repeat(
                np.arange(cand.size, dtype=np.int64)[valid], cnt
            )
            vals = flat_t[take] - np.int64(shift)
            m = vals >= 0
            owner, vals = owner[m], vals[m]
            return owner * big + vals

        if unordered:
            # UNORDERED proximity (Lucene span_near in_order=false with
            # single-term clauses): every unique query term occurs inside
            # a window of len(uniq)+slop tokens, in ANY order (duplicate
            # query terms collapse — one occurrence satisfies them, a
            # documented divergence from Lucene's per-clause spans).
            # Exact minimal-window test, vectorized: a valid window can
            # always start at an occurrence of SOME term, and the minimal
            # window starting at key x ends at max over terms of the
            # smallest same-owner occurrence >= x — one searchsorted per
            # term over the merged occurrence set, no per-candidate loop.
            keysets = {t: term_keys(t, 0) for t in uniq}
            allk = np.unique(np.concatenate(list(keysets.values())))
            ok = np.ones(allk.size, dtype=bool)
            endk = allk.copy()
            for t in uniq:
                arr = keysets[t]
                if arr.size == 0:
                    ok[:] = False
                    break
                i = np.searchsorted(arr, allk, side="left")
                has = i < arr.size
                nx = arr[np.minimum(i, arr.size - 1)]
                has &= (nx // big) == (allk // big)
                ok &= has
                endk = np.maximum(endk, np.where(has, nx, endk))
            fits = ok & (
                (endk - allk) <= np.int64(len(uniq) - 1 + slop)
            )
            if first_end is not None:
                # span end (exclusive) within the first ``first_end``
                # positions — same contract as the ordered gates
                fits &= (endk % big) + 1 <= np.int64(first_end)
            keys = allk[fits]
        elif slop:
            # ordered proximity (ES span_near in_order=true / match_phrase
            # slop analogue, restricted to in-order matches): positions
            # strictly increase term-to-term and the whole span fits a
            # window of len(seq)-1+slop tokens. Greedy chaining is exact —
            # advancing every chain to the SMALLEST same-owner next-term
            # position > current minimizes the end position for a given
            # start, so a start survives iff SOME in-order match starting
            # there fits the window. All-numpy: one searchsorted per term.
            keysets = {t: term_keys(t, 0) for t in dict.fromkeys(seq)}
            start = cur = keysets[seq[0]]
            for t in seq[1:]:
                nxt_set = keysets[t]
                if cur.size == 0 or nxt_set.size == 0:
                    start = cur = cur[:0]
                    break
                nxt_i = np.searchsorted(nxt_set, cur, side="right")
                ok = nxt_i < nxt_set.size
                nxt = nxt_set[np.minimum(nxt_i, nxt_set.size - 1)]
                ok &= (nxt // big) == (cur // big)
                start, cur = start[ok], nxt[ok]
            fits = (cur - start) <= np.int64(len(seq) - 1 + slop)
            if first_end is not None:
                # ES span_first: the whole span must END within the first
                # ``first_end`` positions — span end (exclusive) is the
                # final term's position + 1, tracked in ``cur``
                fits &= (cur % big) + 1 <= np.int64(first_end)
            keys = start[fits]
        else:
            keys = term_keys(seq[0], 0)
            for j, t in enumerate(seq[1:], 1):
                if keys.size == 0:
                    break
                # both sides ascending: owner blocks are in candidate
                # order and positions ascend within a posting
                keys = np.intersect1d(
                    keys, term_keys(t, j), assume_unique=True
                )
            if first_end is not None and keys.size:
                # exact phrase: span end = start + len(seq); keep spans
                # ending within the first ``first_end`` positions
                keys = keys[
                    (keys % big) + np.int64(len(seq))
                    <= np.int64(first_end)
                ]
        if exp_present and keys.size:
            # the one-more-slot gate: some expansion of the prefix sits at
            # start + len(seq); keys are start-position keys, so shifting
            # every expansion occurrence back by len(seq) aligns the sets
            exp_keys = np.unique(
                np.concatenate(
                    [term_keys_any(t, len(seq)) for t in exp_present]
                )
            )
            keys = np.intersect1d(keys, exp_keys, assume_unique=True)
        if not_seq is not None and keys.size:
            # exclude-span starts via the masked chain (docs need not
            # contain the exclude phrase); absent terms -> no exclusions
            ex_keys = (
                term_keys_any(not_seq[0], 0)
                if not_seq[0] in per_term else np.empty(0, dtype=np.int64)
            )
            for j, t in enumerate(not_seq[1:], 1):
                if ex_keys.size == 0:
                    break
                nxt = (
                    term_keys_any(t, j)
                    if t in per_term else np.empty(0, dtype=np.int64)
                )
                ex_keys = np.intersect1d(ex_keys, nxt, assume_unique=True)
            len_a = np.int64(len(seq))
            len_b = np.int64(len(not_seq))
            if ex_keys.size:
                owners_k = keys // big
                starts_k = keys % big
                if span_gate == "not":
                    # overlap of [s-pre, s+len_a+post) with [e, e+len_b):
                    # e > s - pre - len_b  AND  e < s + len_a + post
                    lo = owners_k * big + np.maximum(
                        starts_k - np.int64(not_pre) - len_b + 1,
                        np.int64(0),
                    )
                    hi = (owners_k * big + starts_k + len_a
                          + np.int64(not_post))
                elif span_gate == "containing":
                    # some little span inside [s, s+len_a):
                    # s <= e AND e + len_b <= s + len_a
                    lo = owners_k * big + starts_k
                    hi = owners_k * big + starts_k + len_a - len_b + 1
                else:  # within: some big span around [s, s+len_a):
                    # e <= s AND s + len_a <= e + len_b
                    lo = owners_k * big + np.maximum(
                        starts_k + len_a - len_b, np.int64(0)
                    )
                    hi = owners_k * big + starts_k + 1
                has = np.searchsorted(ex_keys, lo) < np.searchsorted(
                    ex_keys, hi
                )
                keys = keys[~has] if span_gate == "not" else keys[has]
            elif span_gate in ("containing", "within"):
                # the other phrase never occurs -> nothing can qualify
                keys = keys[:0]
        owners = np.unique(keys // big) if keys.size else keys
        verified = cand[owners] if owners.size else cand[:0]
        if score_params is None:
            return pd.DataFrame({"doc_id": verified})
        if verified.size == 0:
            return empty
        idf, avgdl = score_params["idf"], score_params["avgdl"]
        k1, b = score_params["k1"], score_params["b"]
        scores = np.zeros(verified.size, dtype=np.float64)
        for t in uniq:  # oracle summation order (first occurrence)
            ids_t, tf_t, _, _, dl_t = per_term[t]
            p = np.searchsorted(ids_t, verified)
            # the exact arithmetic the scoring kernels use (rank-identity
            # is defined at rtol 1e-9 — same helper, same float ops)
            scores += K._bm25_contrib(
                tf_t[p].astype(np.float64), dl_t[p], idf[t], k1, b, avgdl
            )
        return pd.DataFrame({"doc_id": verified, "score": scores})

    return kernel


def _sloppy_verify_udf(seq: list[str], slop: int, analyzer):
    """Boolean pandas UDF: does lowercased content contain an in-order
    occurrence of ``seq`` inside a ``len(seq)-1+slop`` token window? Same
    semantics as the positional kernel's slop branch (greedy chaining is
    exact — see there), re-derived from content for indexes built without
    the positional sidecar. Tokenization is the engine's own
    ``tokenize_text`` so verify parity with the index is definitional."""
    import bisect

    from gofias_spark.analyzer import tokenize_text as _tok

    cfg = AnalyzerConfig(mode="standard", token_pattern=analyzer.token_pattern)
    uniq = list(dict.fromkeys(seq))
    window = len(seq) - 1 + slop

    def _ok(text: str) -> bool:
        occ: dict[str, list[int]] = {t: [] for t in uniq}
        for i, tok in enumerate(_tok(text or "", cfg)):
            if tok in occ:
                occ[tok].append(i)
        if any(not occ[t] for t in uniq):
            return False
        for s in occ[seq[0]]:
            cur, dead = s, False
            for t in seq[1:]:
                j = bisect.bisect_right(occ[t], cur)
                if j == len(occ[t]):
                    dead = True
                    break
                cur = occ[t][j]
            if dead:
                break  # later starts only chain further right
            if cur - s <= window:
                return True
        return False

    @F.pandas_udf("boolean")
    def verify(content: pd.Series) -> pd.Series:
        return content.map(_ok)

    return verify


def _lev_le1(a: str, b: str) -> bool:
    """Exact levenshtein(a, b) <= 1 in one linear scan (the only distance
    the deletion-neighborhood candidates can reach, so no DP table)."""
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la > lb:
        a, b, la, lb = b, a, lb, la
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    if i == la:
        return True  # a is a prefix of b (equal, or one trailing insert)
    if la == lb:
        return a[i + 1 :] == b[i + 1 :]  # one substitution
    return a[i:] == b[i + 1 :]  # one insertion into a


def filters_impossible(filters: dict | None) -> bool:
    """True when the filter can never match — an empty IN-list (the F7
    analogue of the reference's house-filter short-circuit: a KladrId
    filter disqualifies the houses index outright and the repo returns
    empty without querying, elasticHouseRepository.go:371-402)."""
    if not filters:
        return False
    return any(
        isinstance(v, (list, tuple, set)) and len(v) == 0
        for v in filters.values()
    )


def compile_filters(filters: dict | None):
    """Filter dict -> pyspark Column over doc_meta, mirroring the reference's
    filter-object compilation (F7, elasticAddressRepository.go:516-540):
    equality / IN-list on keyword-ish fields, path prefix, and range
    predicates ``{"field": {"gte": v, "lte": v, ...}}`` (F4 — the reference
    compiles Level.Min/Max into ES `range` queries,
    elasticAddressRepository.go:521-530, and a date-range watermark :779)."""
    if not filters:
        return None
    cond = F.lit(True)
    for field, val in filters.items():
        if field == "path_prefix":
            cond = cond & F.col("path").startswith(val)
        elif isinstance(val, dict):
            for op, v in val.items():
                if op == "exists":
                    # ES exists/missing query: presence test, the ONE
                    # predicate a null passes (when exists=False)
                    cond = cond & (
                        F.col(field).isNotNull()
                        if v
                        else F.col(field).isNull()
                    )
                elif op in _RANGE_OPS:
                    cond = cond & _RANGE_OPS[op](F.col(field), F.lit(v))
                else:
                    raise ValueError(f"unknown range operator {op!r}")
        elif isinstance(val, (list, tuple, set)):
            cond = cond & F.col(field).isin(list(val))
        else:
            cond = cond & (F.col(field) == F.lit(val))
    return cond


class SearchEngine:
    def __init__(
        self,
        spark: SparkSession,
        index_root: str,
        cache: bool = True,
        serve: bool = True,
        serve_max_postings: int = 1_000_000,
        serve_filtered_max: int = 500_000,
        predecessor: SearchEngine | None = None,
    ):
        """``predecessor``: an open, warmed engine on an earlier state of
        the same index (``FulltextAPI._reopen`` passes the engine it
        replaces). When this state only adds segments and tombstone files
        to the predecessor's, ``warm()`` extends the predecessor's
        resident source and stats dict with just what was added instead
        of recollecting the index; any other state warms in full.

        ``serve``/``serve_max_postings``: the term-bucketed serve cache
        (query/serve.py) handles unfiltered queries whose total posting
        volume Σ df(term) fits the driver budget — a partition-pruned scan
        of 1-3 tasks + driver-side kernel, so p50 is independent of index
        partition count AND core count.

        The default budget sits at the measured serve/distributed latency
        crossover, not at the driver's memory ceiling: driver-side cost is
        linear in volume (~0.15 s + ~0.5 s per million postings on the
        2M-doc reference setup) while the distributed path is roughly flat
        in volume (~0.3-0.6 s — task count tracks index partitions, not the
        query), so above ~1M postings the cluster wins and the query SHOULD
        cost a Spark job. The earlier 4M default served 3.5M-posting
        queries ~2 s driver-side that the distributed path runs 3x faster.
        The build-side cache exclusion threshold follows this value, which
        also keeps the Zipf head (any term in >1M docs) out of the cache's
        pid buckets.

        ``serve_filtered_max``: tighter Σ df budget for attribute-filtered
        and composite-sorted queries on the serve tier — these score ALL
        candidates (no relevance pruning) and evaluate the filter/sort
        attributes against the doc_id-sorted meta sidecar driver-side, so
        the budget bounds the candidate meta read. Queries above either
        budget stay on the distributed doc_part paths."""
        self.spark = spark
        self.store = IndexStore(index_root)
        self._serve: ServeCache | None = None
        self._serve_enabled = serve
        self._serve_max = serve_max_postings
        self._serve_filtered_max = serve_filtered_max
        self.manifest = self.store.read_manifest()
        cfg = self.manifest["config"]
        self.analyzer = AnalyzerConfig(**cfg["analyzer"])
        self.bm25 = BM25Params(**cfg.get("bm25", {}))
        self._seg_ids = self.manifest["segments"]
        self._seg_metas = {
            s: self.store.read_seg_meta(s) for s in self._seg_ids
        }
        self._state_token: str | None = None
        # driver-resident snapshot of a small index (warm()); queries read
        # this reference once, eviction/close() only drop it
        self._resident: ResidentSource | None = None
        # read by warm() only, then dropped (no chain of old engines)
        self._predecessor = predecessor
        self._delta_files = frozenset(
            p.name for p in data_files(self.store.root / "stats_delta")
        )
        tomb = self.manifest.get("tombstones", {"n_docs": 0, "sum_dl": 0})
        self.n_docs = sum(m.n_docs for m in self._seg_metas.values()) - tomb[
            "n_docs"
        ]
        self.sum_dl = sum(m.sum_dl for m in self._seg_metas.values()) - tomb[
            "sum_dl"
        ]
        self.avgdl = self.sum_dl / self.n_docs if self.n_docs else 0.0

        self.postings = self._union("postings", seg_col=True)
        self.doc_meta = self._union("doc_meta")
        self._tombstones = self._read_tombstones()
        self._tomb_arr = self._read_tomb_ids()
        # the stats_delta files of this state, read now; the live-df frame
        # over them is built on first use (``_stats``)
        self._delta_read = None if not self._delta_files else (
            self.spark.read.schema(STATS_DELTA_SCHEMA)
            .parquet(str(self.store.root / "stats_delta"))
        )
        self._stats_df: DataFrame | None = None
        self._cache = cache
        self._stats_cache: dict[str, int] | None = None
        self._fuzzy_map: dict[str, list[str]] | None = None
        self._fuzzy_map_token: str | None = None
        # index-state token at which the governor refused the enlarged
        # (stats + fuzzy-map) entry; blocks per-query rebuilds until the
        # next delta/warm
        self._fuzzy_map_refused_token: str | None = None
        # lazily built (stats dict, its sorted keys) for prefix-cut
        # expansion scans (wildcard/regexp/complete_prefix warm tier); the
        # dict it was built from is pinned so a re-warm invalidates it
        self._sorted_vocab: tuple[dict, list[str]] | None = None
        # identity key for the process-wide CacheGovernor (byte budget
        # across every warmed engine on this driver)
        self._gov_key = object()
        self._positions = self._load_positions()
        # doclen rides along (8 bytes/doc): function_score's distributed
        # join then hits the doc_id-partitioned cache — only the scored
        # side exchanges, instead of shuffling a full doc_meta scan
        self._meta_slim = self.doc_meta.select(*META_COLS)
        if cache:
            # Latency path: a parquet-read union has no partitioning info, so
            # every query's groupBy(doc_part) would reshuffle the filtered
            # blocks. Hash-repartition ON doc_part once at load — the cached
            # frame's HashPartitioning then satisfies the per-query
            # applyInPandas clustering (no per-query exchange). Sort
            # TERM-major within partitions: the in-memory scan prunes cached
            # batches on min/max stats, so `term IN (...)` touches only the
            # few batches whose term range covers a query term (sorting
            # doc_part-major instead makes every batch span ~the whole
            # vocabulary — zero pruning, measured 4x slower queries on a 4M
            # block cache). The per-query groupBy re-sorts its own few
            # thousand filtered rows, so within-partition order is free.
            # Cache partition count is a function of INDEX SIZE, not core
            # count: per-query latency has a floor proportional to tasks
            # scheduled, so tying it to defaultParallelism makes the same
            # query SLOWER on a bigger cluster (measured p50 0.20s at
            # local[8] -> 0.72s at local[32] in round 1). ~400k block rows
            # per partition keeps each task's scan+kernel a few ms.
            total_blocks = sum(
                int(p.get("rows", 0))
                for m in self._seg_metas.values()
                for p in m.partitions
            )
            n_cache_parts = int(min(512, max(8, total_blocks // 400_000)))
            self.postings = (
                self.postings.repartition(n_cache_parts, "doc_part")
                .sortWithinPartitions("term", "doc_part", "block_id")
                .persist()
            )
            # doc_id-sorted: the top-k meta lookup filters doc_id IN (k ids),
            # which prunes cached batches on min/max doc_id stats
            self._meta_slim = (
                self._meta_slim.repartition(n_cache_parts, "doc_id")
                .sortWithinPartitions("doc_id")
                .persist()
            )
        # small tombstone sets ride a broadcast so the unfiltered query path
        # can use mapInPandas (one python call per cache partition) instead
        # of a 1-call-per-doc_part cogroup; big tombstone sets (or attribute
        # filters) keep the shuffle-free cogroup-by-doc_part path.
        self._tomb_bc = None
        if self._tomb_arr is not None:
            self._tomb_bc = spark.sparkContext.broadcast(self._tomb_arr)

    # -- loading ------------------------------------------------------------
    def _union(self, table: str, seg_col: bool = False) -> DataFrame:
        """Union a table across segments. Schemas may drift between format
        versions (e.g. term_stats gained a doc_part partition column in v2);
        align by name with missing columns as nulls so an index holding
        pre- and post-change segments still opens."""
        dfs = []
        for s in self._seg_ids:
            df = self._seg_read(s, table)
            if seg_col:
                df = df.withColumn("seg", F.lit(s))
            dfs.append(df)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def _seg_read(self, seg: int, table: str) -> DataFrame:
        """One segment's ``table`` as a Spark frame."""
        df = read_parquet(self.spark, self.store.seg_dir(seg) / table)
        if "doc_part" in df.columns:
            # partition-dir columns are inferred as INT; every computed
            # doc_part (e.g. shiftright(doc_id)) is LONG. Normalize here:
            # hash(int x) != hash(long x) in Spark, so a cached
            # HashPartitioning on the int column would NOT co-partition
            # with the long side in cogroups (tombstones silently
            # unpaired — caught by test_incremental).
            df = df.withColumn("doc_part", F.col("doc_part").cast("long"))
        return df

    def _load_positions(self) -> DataFrame | None:
        """Positional-sidecar union across live segments, or None when the
        index wasn't built with positions — or when ANY live segment with
        postings lacks them (mixed lineage after a pre-positions delta):
        phrase queries then fall back to the content-verify slow path,
        which is always correct."""
        if not self.manifest.get("config", {}).get("positions"):
            return None
        any_pos = False
        for s in self._seg_ids:
            pos_dir = self.store.seg_dir(s) / "positions"
            has_pos = pos_dir.exists() and any(
                pos_dir.glob("doc_part=*/*.parquet")
            )
            any_pos = any_pos or has_pos
            if not has_pos and any(
                (self.store.seg_dir(s) / "postings").glob(
                    "doc_part=*/*.parquet"
                )
            ):
                return None
        if not any_pos:  # empty index: nothing to read (and nothing to match)
            return None
        dfs = []
        for s in self._seg_ids:
            pos_dir = self.store.seg_dir(s) / "positions"
            if pos_dir.exists() and any(pos_dir.glob("doc_part=*/*.parquet")):
                dfs.append(self._seg_read(s, "positions"))
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def _read_tombstones(self) -> DataFrame | None:
        files = self.manifest.get("tombstones", {}).get("files", [])
        if not files:
            return None
        return self.spark.read.schema(TOMBSTONE_SCHEMA).parquet(
            *[str(self.store.root / f) for f in files]
        )

    def _read_tomb_ids(self) -> np.ndarray | None:
        """Sorted tombstoned doc_ids, read on the driver with pyarrow —
        None without tombstones or above 5M of them (those stay
        Spark-side only)."""
        import pyarrow.dataset as ds

        files = self.manifest.get("tombstones", {}).get("files", [])
        if not files:
            return None
        dset = ds.dataset(
            [str(p) for f in files for p in data_files(self.store.root / f)],
            format="parquet",
        )
        if dset.count_rows() > 5_000_000:
            return None
        ids = dset.to_table(columns=["doc_id"])["doc_id"].to_numpy()
        return np.sort(ids.astype(np.int64))

    @property
    def _stats(self) -> DataFrame:
        """Live per-term document frequency as a Spark frame (persisted
        with ``cache``), built on first use: a warmed engine looks dfs up
        in its stats dict and may never need it."""
        stats = self._stats_df
        if stats is None:
            stats = self._build_stats()
            if self._cache:
                stats = stats.persist()
            self._stats_df = stats
        return stats

    def _build_stats(self) -> DataFrame:
        """Live per-term document frequency: per-segment df summed, minus
        deletions recorded in stats_delta at merge time."""
        stats = self._union("term_stats").groupBy("term").agg(
            F.sum("df").alias("df")
        )
        if self._delta_read is not None:
            ddf = (
                self._delta_read
                .groupBy("term")
                .agg(F.sum("ddf").alias("ddf"))
            )
            stats = (
                stats.join(ddf, "term", "left")
                .withColumn(
                    "df", F.col("df") - F.coalesce(F.col("ddf"), F.lit(0))
                )
                .drop("ddf")
            )
        return stats.filter(F.col("df") > 0)

    def warm(
        self,
        max_terms: int = 2_000_000,
        local_max_blocks: int = 200_000,
    ) -> None:
        """Materialize the caches and collect term stats to a driver dict
        (latency path for repeated queries; the stats dict is skipped
        automatically for huge vocabularies). Without this, the first real
        query pays the postings repartition+sort materialization.

        Warming picks the driver block source the engine's driver branch
        reads (query/source.py). When the whole index holds at most
        ``local_max_blocks`` posting blocks, it is collected once into a
        ``ResidentSource`` — postings, positions, the doc_id-sorted meta
        and the tombstone ids as one immutable snapshot — and queries run
        driver-side with the SAME numpy kernels: a Spark job per query
        costs ~200ms of scheduling regardless of data size, the wrong
        architecture for a small index (the Lucene-searcher analogue of
        the reference's single-node ES). Bigger indexes get the
        term-bucketed serve cache as their driver source instead, which
        answers queries whose posting volume fits the driver budget.
        Every other query takes the distributed branch. Either source
        gives the same results; each query reads the engine's source
        reference once, so a cache-governor eviction or ``close()``
        during a query cannot change what that query reads. Pass
        ``local_max_blocks=0`` to skip the resident source.

        An engine opened with a ``predecessor`` whose state this one only
        extends (every segment and tombstone file kept, same config; only
        segments, tombstone files and stats-delta files added) warms
        incrementally: the predecessor's resident source and stats dict
        are extended with just the added files, read on the driver with
        pyarrow — no Spark job, and the Spark-side caches, which the
        resident tier never reads, stay lazy. Its cost is that of the
        change, not of the index. The trade-off: should the resident
        source later be dropped (a governor eviction in a gateway hosting
        several indexes) or an operator without a driver branch run, the
        first Spark query after that bulk materializes the postings and
        meta caches itself (repartition, sort and cache of every posting,
        seconds on a 100k-block index) where a full warm had done it up
        front. Any other state (a compaction, a config change, no
        resident predecessor, a result over either budget) takes the full
        warm."""
        pred, self._predecessor = self._predecessor, None
        if pred is None or not self._warm_from(pred, max_terms,
                                               local_max_blocks):
            self._warm_full(max_terms, local_max_blocks)
        # process-level BYTE governance across engines (a gateway can
        # host several warmed indexes): register what this warm actually
        # holds; over-budget admission drops our caches (cold routing
        # still serves correctly), under-budget admission evicts LRU
        # peers instead
        self._fuzzy_map_refused_token = None  # budget may have changed
        nbytes = self._resident_cache_bytes()
        if nbytes and not GOVERNOR.admit(
            self._gov_key, nbytes, self._drop_resident_caches
        ):
            self._drop_resident_caches()

    def _warm_full(self, max_terms: int, local_max_blocks: int) -> None:
        """Materialize the Spark-side caches and collect the stats dict and
        (for a small index) the resident source from them."""
        n_blocks = self.postings.count()
        self._meta_slim.count()
        if self._stats.count() <= max_terms:
            pdf = self._stats.toPandas()
            self._stats_cache = dict(zip(pdf["term"], pdf["df"].astype(int)))
        if self._serve_enabled and n_blocks > local_max_blocks:
            self._build_serve(n_blocks)
            if self._stats_cache is None:
                # vocabulary too large for the driver dict: term-sorted
                # stats sidecar keeps per-query df lookup a pruned pyarrow
                # read instead of a Spark job (keyed by delta state — see
                # ServeCache.attach_stats)
                self._serve.attach_stats(self._stats, self._delta_token())
        if 0 < n_blocks <= local_max_blocks:
            tombs = self._tomb_arr
            if tombs is None and self._tombstones is not None:
                tombs = np.sort(
                    self._tombstones.select("doc_id")
                    .toPandas()["doc_id"]
                    .to_numpy(dtype=np.int64)
                )
            self._resident = ResidentSource(
                self.postings.toPandas(),
                self.doc_meta.select(*META_COLS).toPandas(),
                tombs,
                # positions rows == posting rows, so the same budget covers
                # the sidecar: phrase queries on a small index run entirely
                # driver-side (the same one-pass kernel, no Spark job)
                None if self._positions is None
                else self._positions.toPandas(),
                state=manifest_state(self.manifest),
            )

    def _warm_from(self, pred: SearchEngine, max_terms: int,
                   local_max_blocks: int) -> bool:
        """Warm by extending ``pred``'s resident source and stats dict with
        what this state added (see ``warm``). Returns False, having changed
        nothing, when this state is not an extension of ``pred``'s or the
        result exceeds a budget."""
        res, sc = pred._resident, pred._stats_cache
        if res is None or sc is None:
            return False
        old_segs, old_tombs = manifest_state(pred.manifest)
        segs, tombs = manifest_state(self.manifest)
        if (
            res.state != (old_segs, old_tombs)
            or pred.manifest["config"] != self.manifest["config"]
            or tombs[: len(old_tombs)] != old_tombs
            or not set(old_segs) <= set(segs)
            or any(pred._seg_metas[s] != self._seg_metas[s]
                   for s in old_segs)
            or not pred._delta_files <= self._delta_files
            or (pred._positions is None) != (self._positions is None)
            or (self._tombstones is not None and self._tomb_arr is None)
        ):
            return False
        new_segs = [s for s in segs if s not in old_segs]
        added = {
            table: None if like is None
            else self._added_rows(new_segs, table, like)
            for table, like in (("postings", res.blocks),
                                ("doc_meta", res.meta),
                                ("positions", res.positions))
        }
        n_added = 0 if added["postings"] is None else len(added["postings"])
        if not 0 < len(res.blocks) + n_added <= local_max_blocks:
            return False
        # live df = Σ segment df − Σ ddf, terms at df <= 0 dropped: the
        # predecessor's dict plus the new segments' dfs minus the new ddfs
        stats = dict(sc)
        for s in new_segs:
            for t, df in _term_sums(
                data_files(self.store.seg_dir(s) / "term_stats"), "df"
            ):
                stats[t] = stats.get(t, 0) + df
        delta_dir = self.store.root / "stats_delta"
        for t, ddf in _term_sums(
            [delta_dir / f
             for f in sorted(self._delta_files - pred._delta_files)],
            "ddf",
        ):
            df = stats.get(t, 0) - ddf
            if df > 0:
                stats[t] = df
            else:
                stats.pop(t, None)
        if len(stats) > max_terms:
            return False
        self._stats_cache = stats
        self._resident = res.extend(
            added["postings"], added["doc_meta"], added["positions"],
            self._tomb_arr, (segs, tombs),
        )
        return True

    def _added_rows(self, segs: list[int], table: str, like: pd.DataFrame
                    ) -> pd.DataFrame | None:
        """The rows of ``table`` in the segments ``segs``, read with
        pyarrow as the rows ``toPandas()`` of the engine's Spark union
        gives for them: the columns and dtypes of ``like`` (``seg`` filled
        in, ``doc_part`` long). None when there are none."""
        parts = []
        for seg in segs:
            table_dir = self.store.seg_dir(seg) / table
            if not data_files(table_dir):
                continue
            dset = arrow_table_dataset(table_dir)
            cols = [c for c in like.columns if c in dset.schema.names]
            pdf = dset.to_table(columns=cols).to_pandas()
            if "seg" in like.columns:
                pdf["seg"] = seg
            parts.append(pdf[list(like.columns)])
        if not parts:
            return None
        return pd.concat(parts, ignore_index=True).astype(
            like.dtypes.to_dict()
        )

    @property
    def _local_blocks(self) -> pd.DataFrame | None:
        """Postings blocks of the resident source (None when the index is
        not driver-resident)."""
        res = self._resident
        return None if res is None else res.blocks

    def _resident_cache_bytes(self) -> int:
        """Measured bytes of the driver-resident caches warm() built:
        the resident source's frames + a per-entry estimate for the stats
        dict. This is what the CacheGovernor accounts."""
        res = self._resident
        total = 0 if res is None else res.nbytes()
        if self._stats_cache:
            # dict overhead ~100 B/slot + key string bytes + int value
            total += sum(len(t) for t in self._stats_cache) + 128 * len(
                self._stats_cache
            )
        if self._fuzzy_map:
            # deletion-variant dict is a MULTIPLE of the stats dict:
            # ~(len(term)+1) slots per vocab term. Keys are new strings
            # (count their bytes + slot overhead); list values hold
            # pointers to the stats dict's existing term strings (already
            # counted above), so charge pointer + list overhead only.
            total += (
                sum(len(k) for k in self._fuzzy_map)
                + 128 * len(self._fuzzy_map)
                + 8 * sum(len(v) for v in self._fuzzy_map.values())
                + 64 * len(self._fuzzy_map)
            )
        if self._sorted_vocab is not None:
            # pointer array over the stats dict's own key strings
            total += 8 * len(self._sorted_vocab[1]) + 64
        return total

    def _drop_resident_caches(self) -> None:
        """Eviction callback: return the engine to its cold routing state
        (serve-cache parquet / distributed paths — same results). Called
        by the CacheGovernor when a peer engine's warm needs the bytes.
        Queries in flight keep the source and stats dict they already
        read."""
        self._resident = None
        self._stats_cache = None
        self._fuzzy_map = None
        self._sorted_vocab = None

    def _build_serve(self, n_blocks: int) -> None:
        """Materialize the term-bucketed serve cache (idempotent per index
        state: the token fingerprints committed segments/partitions, so a
        re-opened engine reuses the existing parquet).

        Terms whose df exceeds the serve budget are EXCLUDED from the
        cache: any query containing one has Σ df over budget and routes
        distributed, so their postings would be dead weight — and at web
        scale they are exactly the hot terms that would skew the pid
        buckets (a 50%-df term is half the index). The threshold is
        persisted with the cache so an engine opened with a different
        ``serve_max_postings`` still routes correctly against it."""
        n_buckets = int(min(512, max(8, n_blocks // 1_500_000)))
        postings = self._union("postings")
        dest = ServeCache.resolve_dir(self.store.root)
        token = state_token(self.manifest, self._seg_metas)
        # RAW df (tombstoned docs included, no stats_delta correction) is
        # the basis for both the exclusion set and the volume sidecar:
        # it is what the cache physically holds per term
        raw_stats = self._union("term_stats").groupBy("term").agg(
            F.sum("df").alias("df")
        )
        big = raw_stats.filter(
            F.col("df") > self._serve_max
        ).select("term")
        # the excluded set is tiny by construction (terms in > serve_max
        # docs — the Zipf head) and is PERSISTED with the cache: routing
        # checks membership in it rather than live dfs, because a
        # delete-only delta can drop a term's df under the threshold
        # without rotating the postings token (the cache still lacks it).
        # On reuse (_DONE present) the persisted file is authoritative —
        # skip the stats job entirely (ServeCache.build early-returns and
        # never consumes the lazy frames below).
        excluded_terms = (
            None
            if (dest / token / "_DONE").exists()
            else [r["term"] for r in big.collect()]
        )
        postings = postings.join(F.broadcast(big), "term", "left_anti")
        serve_positions = None
        if self._positions is not None and "dls" in self._positions.columns:
            serve_positions = self._positions.join(
                F.broadcast(big), "term", "left_anti"
            )
        self._serve = ServeCache.build(
            self.spark,
            postings,
            dest,
            n_buckets,
            token,
            df_threshold=self._serve_max,
            excluded_terms=excluded_terms,
            build_stats=raw_stats,
            positions=serve_positions,
            # the sidecar carries every filterable/sortable attribute (not
            # just the display set): the serve tier evaluates filters and
            # composite sort keys against it driver-side
            doc_meta=self.doc_meta.select(*META_COLS),
        )
        self._serve.tombs = self._tomb_arr

    @staticmethod
    def _filter_fields(filters: dict | None) -> set[str]:
        return {
            "path" if f == "path_prefix" else f for f in (filters or {})
        }

    def _validate_filters(self, filters: dict | None) -> None:
        """Range operands must match the attribute's column type. The two
        filter evaluators diverge on a mismatch — Spark casts (string col
        vs int literal → null → row dropped) while pandas either
        TypeErrors (gte/gt/lte/lt on an object column) or silently keeps
        every row (neq) — so a mistyped operand fails loudly HERE, the
        same way on every route."""
        if not filters:
            return
        from pyspark.sql import types as T

        meta = {f.name: f.dataType for f in self.doc_meta.schema.fields}
        for field, val in filters.items():
            if field == "path_prefix" or not isinstance(val, dict):
                continue
            dt = meta.get(field)
            if dt is None:
                raise ValueError(f"unknown filter field {field!r}")
            numeric = isinstance(dt, T.NumericType)
            for op, v in val.items():
                if op == "exists":
                    if not isinstance(v, bool):
                        raise ValueError(
                            f"filter {field}.exists: operand {v!r} must "
                            "be a bool"
                        )
                    continue
                ok = (
                    isinstance(v, (int, float)) and not isinstance(v, bool)
                    if numeric
                    else isinstance(v, str)
                )
                if not ok:
                    raise ValueError(
                        f"filter {field}.{op}: operand {v!r} does not "
                        f"match column type {dt.simpleString()}"
                    )

    def _cache_lacks_terms(self, dfs: dict[str, int]) -> bool:
        """True when a query term was EXCLUDED from the serve cache at
        build time. The persisted excluded set is authoritative: live dfs
        can drift below the build threshold after a delete-only delta
        (tombstones + stats delta don't rotate the postings token), and
        routing on them would serve silently-empty postings for the term.
        Legacy caches without the file fall back to the threshold
        heuristic in the callers (their residual exposure is exactly this
        delta-drift case, until the next segment change rebuilds them)."""
        excl = self._serve.excluded_terms
        return excl is not None and not excl.isdisjoint(dfs)

    def _route_vol(self, dfs: dict[str, int]) -> int:
        """Posting volume the serve tier would actually FETCH for these
        terms. Without tombstones that is the live df sum; in delta state
        the cached postings still hold tombstoned docs, so live dfs
        understate the fetch (heavy deletes could overshoot the driver
        budget by 1/live-fraction) — use the cache's persisted build-time
        dfs instead (one pruned ~ms sidecar read, delta state only)."""
        if self._tombstones is None:
            return sum(dfs.values())
        bdfs = self._serve.fetch_build_dfs(list(dfs))
        if bdfs is None:  # legacy cache without the sidecar
            return sum(dfs.values())
        return sum(bdfs.get(t, df) for t, df in dfs.items())

    def _driver_source(self, dfs: dict[str, int], filters: dict | None,
                       attrs=()):
        """The driver block source (query/source.py) that serves a query
        over the ``dfs`` terms with ``filters``, reading ``attrs`` for
        every candidate — or None: the query takes the distributed
        branch. Callers read the result ONCE per query.

        The resident source serves everything. The serve cache serves
        when the tombstone set is driver-resident, no query term was
        excluded from the cache, the meta sidecar carries every filter
        and attribute field, and the posting volume fits the budget:
        ``serve_max_postings`` unfiltered, the tighter
        ``serve_filtered_max`` with filters (all candidates are scored,
        then post-filtered), and a quarter of that when every candidate's
        attributes are read in one shot (composite sorts, facets,
        aggregations — no score-ordered backfill is possible). The cap
        never exceeds the cache's own build threshold: a cache built
        under a smaller budget excluded terms this engine's would
        accept."""
        res = self._resident
        if res is not None:
            return res
        sv = self._serve
        if sv is None or (self._tombstones is not None and sv.tombs is None):
            return None
        if self._cache_lacks_terms(dfs):
            return None
        need = set(attrs) | self._filter_fields(filters)
        if need and not need <= sv.meta_columns():
            return None
        cap = min(self._serve_max, sv.df_threshold)
        if attrs:
            cap = min(cap, self._serve_filtered_max // 4)
        elif filters:
            cap = min(cap, self._serve_filtered_max)
        return sv if self._route_vol(dfs) <= cap else None

    # -- BM25 ---------------------------------------------------------------
    def _idf(self, df: int) -> float:
        return float(
            np.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
        )

    def _delta_token(self) -> str:
        """Fingerprint of the df-affecting delta state (tombstone + stats
        correction files) — the key of the serve stats sidecar."""
        import hashlib
        import json

        delta_dir = self.store.root / "stats_delta"
        files = (
            sorted(p.name for p in delta_dir.glob("*"))
            if delta_dir.exists()
            else []
        )
        state = {
            "tomb": sorted(
                self.manifest.get("tombstones", {}).get("files", [])
            ),
            "delta": files,
        }
        return hashlib.sha256(
            json.dumps(state, sort_keys=True).encode()
        ).hexdigest()[:12]

    def _boosted_idf(
        self, idf: dict[str, float], boosts: dict[str, float]
    ) -> dict[str, float]:
        """Apply query-time clause boosts: each boost key is analyzed with
        the query analyzer and its weight multiplies the matching term's
        idf (Lucene multiplies the clause boost into the term's weight at
        exactly this point, so block-max bounds stay valid)."""
        bmap: dict[str, float] = {}
        for raw, w in boosts.items():
            w = float(w)
            if not w > 0:
                raise ValueError(
                    f"boost for {raw!r} must be > 0, got {w} (non-positive "
                    "weights would invalidate block-max upper bounds)"
                )
            for t in analyze_query(str(raw), self.analyzer):
                bmap[t] = w
        return {t: v * bmap.get(t, 1.0) for t, v in idf.items()}

    def _term_dfs(self, qterms: list[str]) -> dict[str, int]:
        sc, sv = self._stats_cache, self._serve
        if sc is not None:
            return {t: sc.get(t, 0) for t in qterms}
        if sv is not None:
            found = sv.fetch_stats(qterms)
            if found is not None:
                return {t: found.get(t, 0) for t in qterms}
        rows = self._stats.filter(F.col("term").isin(qterms)).collect()
        found = {r["term"]: int(r["df"]) for r in rows}
        return {t: found.get(t, 0) for t in qterms}

    def _std_tokens(self, text: str) -> list[str]:
        """``text`` as standard-analyzer tokens under the index's token
        pattern — the token stream positions, phrases and tf refer to."""
        return tokenize_text(
            text,
            AnalyzerConfig(
                mode="standard", token_pattern=self.analyzer.token_pattern
            ),
        )

    def _match_terms(self, query: str, mode: str):
        """(terms, dfs) of an analyzed query under ``mode``: AND needs
        every term indexed, OR keeps the indexed ones. ``terms`` is empty
        when nothing can match."""
        qterms = analyze_query(query, self.analyzer)
        dfs = self._term_dfs(qterms)
        if mode == "and":
            return (qterms if all(dfs[t] for t in qterms) else []), dfs
        return [t for t in qterms if dfs[t] > 0], dfs

    def _neg_terms(self, must_not: str | None, dfs: dict[str, int]) -> list[str]:
        """Analyze a bool.must_not clause into the effective negated term
        list: distinct analyzed terms with df > 0 (an unindexed term
        excludes nothing). Folds the negated dfs into ``dfs`` IN PLACE so
        tier routing budgets the full posting volume the query will scan —
        negated postings ride the same term-pruned fetch as positives."""
        if not must_not:
            return []
        nts = list(dict.fromkeys(analyze_query(must_not, self.analyzer)))
        ndfs = self._term_dfs(nts)
        neg = [t for t in nts if ndfs[t] > 0]
        for t in neg:
            dfs.setdefault(t, ndfs[t])
        return neg

    # -- queries --------------------------------------------------------------
    def search(
        self,
        query: str,
        k: int = 10,
        offset: int = 0,
        mode: str = "and",
        filters: dict | None = None,
        with_meta: bool = True,
        sort_by: list[tuple[str, str]] | None = None,
        as_pandas: bool = False,
        must_not: str | None = None,
        after: tuple[float, int] | None = None,
        minimum_should_match: int | None = None,
        boosts: dict[str, float] | None = None,
    ):
        """BM25 top-k. ``mode='and'`` = reference match operator=and semantics;
        ``offset`` mirrors from/size paging (O4, default size 100 in
        fias.proto:126-128).

        ``after`` = ES search_after analogue: a ``(score, doc_id)`` cursor
        (the last hit of the previous page, exactly as returned) and the
        next ``k`` results strictly after it in (score desc, doc_id asc)
        order come back. Unlike ``offset`` — whose top-(offset+k) heap and
        result transfer grow linearly with depth, which is why the gateway
        caps from at 10k (ES index.max_result_window) — cursor pages cost
        O(k) at ANY depth, so a full result-set export is a linear walk.
        The price: exact scoring of every match (block-max pruning keeps
        only the global top-n; a deep page lives below that theta).
        Incompatible with ``offset`` and ``sort_by``.

        ``must_not`` = ES bool.must_not analogue (the reference composes
        bool must+filter, engine F5; must_not completes the bool surface):
        docs containing ANY of its analyzed terms are excluded, with no
        score contribution. The negated postings ride the same term-pruned
        scan as the positive terms on every tier — exclusion adds no job,
        only the negated terms' posting volume (which also counts toward
        the serve-tier budget).

        ``as_pandas=True`` returns the result as a pandas frame, skipping
        the Spark materialization round trip — every query path already
        ends driver-side in pandas, and a serving process (the HTTP
        gateway) that immediately re-collects the DataFrame pays
        createDataFrame+collect for nothing (~30-100 ms/query measured).

        ``sort_by`` = list of (field, "asc"|"desc") keys; "_score" names the
        BM25 score. Mirrors the reference's attribute-first result orders
        (O1: ao_level asc -> _score desc -> full_address asc,
        elasticAddressRepository.go:489-493). The top-k heap is over the
        COMPOSITE key (per-partition composite top-k + global merge), not a
        re-sort of the score-ranked page. doc_id asc is the implicit final
        tie-break.

        ``minimum_should_match`` (ES bool.should msm, mode='or' only): only
        docs matching at least that many distinct query terms qualify;
        score = sum of the matched terms' contributions. Degenerate values
        route to the pruned kernels (msm<=1 → plain OR, msm>=n_terms → AND
        over the present terms); only the strict middle pays the unpruned
        counting kernel (kernel.score_msm).

        ``boosts`` = query-time per-term weights (ES ``term^2.5`` clause
        boost): each key is analyzed with the query analyzer and its weight
        multiplies the matching term's idf — exactly where Lucene applies
        clause boosts, so block-max bounds, pruning, and rank order stay
        consistent on every tier. Keys absent from the query are ignored;
        weights must be > 0 (a non-positive weight would invalidate the
        block upper bounds)."""
        spark = self.spark
        # LRU bump: the engine serving traffic is the last the process-
        # wide cache governor evicts (multi-index drivers)
        GOVERNOR.touch(self._gov_key)
        self._validate_filters(filters)
        if minimum_should_match is not None:
            if mode != "or":
                raise ValueError(
                    "minimum_should_match requires mode='or' (with 'and' "
                    "every term is already required)"
                )
            if minimum_should_match < 1:
                raise ValueError("minimum_should_match must be >= 1")
        if filters_impossible(filters):
            return self._empty_result(with_meta, sort_by=sort_by,
                                      as_pdf=as_pandas)
        qterms, dfs = self._match_terms(query, mode)
        # ES msm counts MATCHING clauses: a zero-df term can never match,
        # so dropping it with msm unchanged is equivalent — and msm beyond
        # the surviving terms can never be satisfied.
        if not qterms or (minimum_should_match or 0) > len(qterms):
            return self._empty_result(with_meta, sort_by=sort_by,
                                      as_pdf=as_pandas)
        neg_terms = self._neg_terms(must_not, dfs)
        if mode == "and" and not set(qterms).isdisjoint(neg_terms):
            # a term both required and negated can never match
            return self._empty_result(with_meta, sort_by=sort_by,
                                      as_pdf=as_pandas)
        if after is not None:
            if sort_by:
                raise ValueError("after (cursor paging) with sort_by is "
                                 "not supported; the cursor is (score, "
                                 "doc_id) order")
            if offset:
                raise ValueError("use after OR offset, not both")
        idf = {t: self._idf(dfs[t]) for t in qterms}
        if boosts:
            idf = self._boosted_idf(idf, boosts)
        topn = offset + k
        if sort_by:
            return self._search_sorted(
                qterms, idf, dfs, k, offset, mode, filters, sort_by,
                with_meta, as_pandas, neg_terms,
                msm=minimum_should_match,
            )
        fn = K.select_kernel(mode, minimum_should_match, len(qterms))
        if after is not None:
            # exact scoring, cursor filter, head(topn) — per partition on
            # the distributed branch, whose global merge is unchanged
            fn = K.paged(fn, after)
        src = self._driver_source(dfs, filters)
        if src is not None:
            blocks, allowed, excluded, post = self._driver_fetch(
                src, filters, qterms, neg_terms
            )
            r = fn(
                blocks, qterms, idf, self.avgdl, self.bm25.k1, self.bm25.b,
                None if post else topn, allowed=allowed, excluded=excluded,
            )
            if post:
                r = self._filter_candidates(r, filters, topn, src)
            return self._attach_meta(
                r.iloc[offset : offset + k], with_meta, as_pandas, src
            )
        params = dict(
            qterms=qterms,
            idf=idf,
            avgdl=self.avgdl,
            k1=self.bm25.k1,
            b=self.bm25.b,
            topn=topn,
        )
        blocks = self.postings.filter(
            F.col("term").isin(qterms + neg_terms)
        )
        scored = self._scored_frame(blocks, fn, params, filters, neg_terms)
        # orderBy + limit(topn) plans as TakeOrderedAndProject (per-partition
        # heap + driver merge, NO global sort exchange); the offset slice then
        # runs on the tiny collapsed result. orderBy().offset().limit()
        # instead forces a global sort — a full shuffle per query.
        topk_pdf = (
            scored.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(topn)
            .toPandas()
            .iloc[offset : offset + k]
        )
        return self._attach_meta(topk_pdf, with_meta, as_pandas)

    def score_matches(
        self,
        query: str,
        mode: str = "and",
        filters: dict | None = None,
        boosts: dict[str, float] | None = None,
    ):
        """``(doc_id, score)`` of ALL matching docs — exact BM25, no top-k
        cut. Returns pandas from the driver branch (resident source /
        serve cache) and a Spark DataFrame from the distributed one; the
        caller decides where to combine (this is the building block of
        multi-field dis_max/sum scoring, query/multifield.py, where a
        per-field top-k cut would be incorrect: a doc's COMBINED rank is
        not bounded by its per-field ranks)."""
        self._validate_filters(filters)
        empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")})
        if filters_impossible(filters):
            return empty
        qterms, dfs = self._match_terms(query, mode)
        if not qterms:
            return empty
        idf = {t: self._idf(dfs[t]) for t in qterms}
        if boosts:
            idf = self._boosted_idf(idf, boosts)
        params = dict(qterms=qterms, idf=idf, avgdl=self.avgdl,
                      k1=self.bm25.k1, b=self.bm25.b, topn=None)
        fn = K.score_and if mode == "and" else K.score_or
        src = self._driver_source(dfs, filters)
        if src is not None:
            blocks, allowed, excluded, post = self._driver_fetch(
                src, filters, qterms
            )
            r = fn(blocks, allowed=allowed, excluded=excluded, **params)
            if not post:
                return r
            return self._meta_for(r, src, (), filters)[["doc_id", "score"]]
        blocks = self.postings.filter(F.col("term").isin(qterms))
        return self._scored_frame(blocks, fn, params, filters, None)

    # -- phrase (slow-phrase: index candidates + stored-content verify) ----

    @staticmethod
    def _phrase_pattern(seq: list[str], dialect: str = "java",
                        slop: int = 0, last_prefix: bool = False) -> str:
        """Token-adjacency regex over ``lower(content)``. The analyzer
        tokenizes on ``\\w+`` runs, so two tokens are adjacent in the token
        stream iff only non-word characters separate them in the text.
        ``(?U)`` keeps Java's ``\\W`` aligned with the Python tokenizer's
        unicode ``\\w``; the ``re2`` dialect (DuckDB oracles) spells the
        ASCII class out — identical semantics on ASCII corpora.

        ``slop`` allows up to that many intervening tokens per gap. For a
        TWO-term phrase this regex is exactly the positional kernel's
        total-window proximity semantics (one gap == the whole budget);
        for longer phrases a per-gap regex would over-accept vs the shared
        window, so callers only use slop>0 here when len(seq)==2.

        ``last_prefix`` treats the FINAL element of ``seq`` as a token
        prefix (ES ``match_phrase_prefix``): the last token must merely
        START with it, so it is followed by ``\\w*`` instead of a closing
        boundary — any completion of the prefix satisfies the phrase."""
        if dialect == "java":
            b, gap, word, wc, flags = r"\W", r"\W+", r"\w+", r"\w", "(?s)(?U)"
        else:  # re2
            b, gap, word = "[^a-z0-9_]", "[^a-z0-9_]+", "[a-z0-9_]+"
            wc, flags = "[a-z0-9_]", ""
        joiner = f"(?:{gap}{word}){{0,{slop}}}{gap}" if slop else gap
        if last_prefix:
            return f"{flags}(^|{b}){joiner.join(seq)}{wc}*"
        return f"{flags}(^|{b}){joiner.join(seq)}({b}|$)"

    def search_phrase(
        self,
        query: str,
        k: int = 10,
        offset: int = 0,
        filters: dict | None = None,
        with_meta: bool = True,
        as_pandas: bool = False,
        slop: int = 0,
        first_end: int | None = None,
        not_seq: list[str] | None = None,
        not_pre: int = 0,
        not_post: int = 0,
        span_gate: str = "not",
        unordered: bool = False,
    ):
        """Exact phrase top-k (ES ``match_phrase`` analogue — an extension
        beyond the reference, which only issues operator=and matches,
        elasticAddressRepository.go:483).

        ``slop`` relaxes adjacency to ordered proximity (ES
        ``match_phrase`` slop / ``span_near(in_order=true)``): the terms
        must occur in query order with the whole span inside a window of
        ``len(terms)-1+slop`` tokens — i.e. at most ``slop`` extra tokens
        spread across the gaps. Scores are unchanged (the conjunctive BM25
        sum; proximity only filters, like ES's phrase query scoring).

        The index stores no positions, so this is the classic *slow phrase*
        plan: (1) conjunctive candidates from the postings — every phrase
        term must match, so candidate volume is bounded by the rarest
        term's df; (2) adjacency verification against the stored content
        with a JVM regex (``rlike`` — whole-stage codegen, no Python);
        (3) BM25 over the phrase terms ranks the survivors (score = the
        conjunctive sum; verification only filters). The candidate side is
        broadcast into the doc_meta scan when the rarest term is selective,
        so verification is a broadcast semi-join, not a shuffle. Scoring
        runs in all-matches mode (topn=None): verification may drop any
        candidate, so a pre-verify top-k cut would be unsound."""
        self._validate_filters(filters)
        if filters_impossible(filters):
            return self._empty_result(with_meta, as_pdf=as_pandas)
        if self.analyzer.mode != "standard":
            raise ValueError(
                "search_phrase requires a standard-analyzer index; "
                f"this index uses mode={self.analyzer.mode!r}"
            )
        seq = self._std_tokens(query)
        qterms = list(dict.fromkeys(seq))
        dfs = self._term_dfs(qterms)
        if any(dfs[t] == 0 for t in qterms):
            return self._empty_result(with_meta, as_pdf=as_pandas)
        # span_not exclude terms: fetched alongside (their positions gate,
        # never score); a vocab-absent exclude term simply never excludes
        nterms: list[str] = []
        if not_seq is not None:
            nts = list(dict.fromkeys(not_seq))
            ndfs = self._term_dfs(nts)
            if all(ndfs[t] > 0 for t in nts):
                nterms = [t for t in nts if t not in qterms]
            elif span_gate == "not":
                not_seq = None  # unmatchable exclude phrase -> no-op
            else:
                # containing/within REQUIRE the other phrase to occur
                return self._empty_result(with_meta, as_pdf=as_pandas)
        return self._phrase_top(
            seq, dfs, qterms + nterms, filters, k, offset, with_meta,
            as_pandas, slop=slop, first_end=first_end,
            not_seq=not_seq, not_pre=not_pre, not_post=not_post,
            span_gate=span_gate, unordered=unordered,
        )

    def search_span_first(
        self,
        query: str,
        end: int,
        k: int = 10,
        offset: int = 0,
        filters: dict | None = None,
        with_meta: bool = True,
        as_pandas: bool = False,
        slop: int = 0,
    ):
        """ES/Lucene ``span_first`` query: the query tokens must occur as
        a span (exact phrase, or in-order proximity when ``slop`` > 0 —
        the ``span_near(in_order=true)`` composition) whose END position
        is within the first ``end`` token positions of the document.
        Matching a file header, a license banner, a module docstring —
        anything anchored to the top of the content — without scanning
        the doc store.

        Requires the positional sidecar (``IndexConfig(positions=True)``),
        exactly as Lucene span queries require positions; a
        positions-less index raises ``ValueError``. Scoring follows the
        engine's standing phrase contract: the conjunctive BM25 sum over
        the span terms — position constraints filter, never score.

        Routing mirrors :meth:`search_phrase` (resident sidecar ->
        serve-tier positional fetch -> distributed positional kernel):
        the span-end gate is a vectorized mask over the kernel's
        already-computed match-start keys, so span_first costs the same
        single positions-scan as a phrase query.
        """
        if end < 1:
            raise ValueError("end must be >= 1 (token positions counted "
                             "from the start of the document)")
        return self.search_phrase(
            query, k=k, offset=offset, filters=filters, with_meta=with_meta,
            as_pandas=as_pandas, slop=slop, first_end=end,
        )

    def search_span_not(
        self,
        include: str,
        exclude: str,
        k: int = 10,
        offset: int = 0,
        pre: int = 0,
        post: int = 0,
        filters: dict | None = None,
        with_meta: bool = True,
        as_pandas: bool = False,
    ):
        """ES/Lucene ``span_not`` query: docs where the ``include``
        phrase occurs as a span NOT overlapping any span of the
        ``exclude`` phrase — with Lucene's ``pre``/``post`` widening the
        forbidden window that many tokens before/after the include span.
        "foo bar" but never inside "baz foo bar" is the canonical use.

        Per-span semantics, not per-doc: a doc where SOME include
        occurrence escapes the exclude overlap still matches (that is
        what distinguishes span_not from bool must_not). Scoring keeps
        the engine's phrase contract — conjunctive BM25 over the include
        terms; exclude spans gate, never score. Requires the positional
        sidecar, exactly as Lucene span queries require positions; an
        exclude phrase with a vocab-absent term excludes nothing.

        Same driver/distributed routing and single positions-scan cost as
        :meth:`search_phrase`: exclude-span location rides the same
        kernel via masked any-presence chains plus one vectorized
        sorted-range probe per include match.
        """
        if pre < 0 or post < 0:
            raise ValueError("pre and post must be >= 0")
        ex_seq = self._std_tokens(exclude)
        if not ex_seq:
            return self.search_phrase(
                include, k=k, offset=offset, filters=filters,
                with_meta=with_meta, as_pandas=as_pandas,
            )
        return self.search_phrase(
            include, k=k, offset=offset, filters=filters,
            with_meta=with_meta, as_pandas=as_pandas,
            not_seq=ex_seq, not_pre=pre, not_post=post,
        )

    def search_span_near(
        self,
        query: str,
        slop: int = 0,
        in_order: bool = False,
        k: int = 10,
        offset: int = 0,
        filters: dict | None = None,
        with_meta: bool = True,
        as_pandas: bool = False,
        first_end: int | None = None,
    ):
        """ES/Lucene ``span_near`` with single-term clauses: every query
        term must occur inside a window of ``len(terms)+slop`` tokens.
        ``in_order=True`` is exactly :meth:`search_phrase` with ``slop``
        (ordered proximity); ``in_order=False`` — the half the engine
        previously lacked — accepts the terms in ANY order. Duplicate
        query terms collapse to one required occurrence (documented
        divergence from Lucene's per-clause spans, consistent with the
        engine's conjunctive candidate model). ``first_end`` composes the
        span_first gate (the matching window must end within the first N
        positions), as Lucene's span_first accepts any span clause.

        Scoring follows the standing phrase contract: conjunctive BM25
        sum over the terms — proximity filters, never scores — so
        ordered and unordered matches of the same doc score identically.
        Same driver/distributed routing and one-positions-scan cost as
        :meth:`search_phrase`; the unordered window test is one
        searchsorted per term over the merged occurrence set (no
        per-candidate loop). Requires positions (like Lucene span
        queries) — the content-regex fallback can't verify unordered
        windows.
        """
        if slop < 0:
            raise ValueError("slop must be >= 0")
        return self.search_phrase(
            query, k=k, offset=offset, filters=filters,
            with_meta=with_meta, as_pandas=as_pandas, slop=slop,
            first_end=first_end, unordered=not in_order,
        )

    def search_span_containing(
        self,
        big: str,
        little: str,
        k: int = 10,
        offset: int = 0,
        filters: dict | None = None,
        with_meta: bool = True,
        as_pandas: bool = False,
    ):
        """ES/Lucene ``span_containing``: docs where the ``big`` phrase
        occurs as a span that FULLY CONTAINS a span of the ``little``
        phrase. Per-span semantics over the positional sidecar (same
        single positions-scan as a phrase query; the containment check is
        one vectorized sorted-range probe per big match). Scores: the
        conjunctive BM25 sum over the big phrase's terms — the little
        phrase gates, never scores. A vocab-absent little phrase matches
        nothing (it can never be contained)."""
        return self._span_relation(big, little, "containing", k, offset,
                                   filters, with_meta, as_pandas)

    def search_span_within(
        self,
        little: str,
        big: str,
        k: int = 10,
        offset: int = 0,
        filters: dict | None = None,
        with_meta: bool = True,
        as_pandas: bool = False,
    ):
        """ES/Lucene ``span_within``: docs where the ``little`` phrase
        occurs as a span LYING FULLY INSIDE a span of the ``big`` phrase.
        The dual of :meth:`search_span_containing` — here the LITTLE
        phrase is the scored query (conjunctive BM25 over its terms) and
        the big phrase gates. Same positional-tier routing and cost."""
        return self._span_relation(little, big, "within", k, offset,
                                   filters, with_meta, as_pandas)

    def _span_relation(self, include, other, gate, k, offset, filters,
                       with_meta, as_pandas):
        other_seq = self._std_tokens(other)
        if not other_seq:
            return self._empty_result(with_meta, as_pdf=as_pandas)
        return self.search_phrase(
            include, k=k, offset=offset, filters=filters,
            with_meta=with_meta, as_pandas=as_pandas,
            not_seq=other_seq, span_gate=gate,
        )

    def search_phrase_prefix(
        self,
        query: str,
        k: int = 10,
        offset: int = 0,
        filters: dict | None = None,
        with_meta: bool = True,
        as_pandas: bool = False,
        max_expansions: int | None = None,
    ):
        """ES ``match_phrase_prefix`` analogue — autocomplete over a
        standard-analyzer index: the query's final token is an incomplete
        word, so a doc matches iff it contains the fixed tokens adjacently
        followed by ANY vocabulary completion of the prefix.

        Two deliberate, documented divergences from ES:

        * ES caps prefix expansion at ``max_expansions`` (default 50) in
          term-dictionary order and silently misses docs beyond the cap;
          here the default is EXACT (all completions — the verification
          regex / position gate costs the same either way). When a cap is
          given it is applied in ALPHABETICAL term order so every tier and
          the SQL oracle replicate the same cutoff deterministically.
        * Scoring: the fixed (complete) terms score as a conjunctive BM25
          sum; the prefix slot only filters — one token more of the
          engine's standing "proximity only filters" phrase contract. (ES
          scores the rewritten multi-phrase with expansion idfs, an
          expansion-cap-dependent number that can't be rank-stable.)

        Routing mirrors :meth:`search_phrase`: resident positional sidecar
        -> serve-tier positional fetch -> distributed plan (positional
        kernel when the sidecar exists, JVM ``rlike`` content verify
        otherwise). A single-token query (prefix only, nothing fixed)
        degenerates to :meth:`search_wildcard` ``prefix*`` — exactly ES's
        rewrite for that case, scored as a disjunctive term query."""
        self._validate_filters(filters)
        if filters_impossible(filters):
            return self._empty_result(with_meta, as_pdf=as_pandas)
        if self.analyzer.mode != "standard":
            raise ValueError(
                "search_phrase_prefix requires a standard-analyzer index; "
                f"this index uses mode={self.analyzer.mode!r}"
            )
        seq_all = self._std_tokens(query)
        if not seq_all:
            return self._empty_result(with_meta, as_pdf=as_pandas)
        if len(seq_all) == 1:
            return self.search_wildcard(
                seq_all[0] + "*", k=k, offset=offset,
                max_expansions=max_expansions, filters=filters,
                with_meta=with_meta, as_pandas=as_pandas,
            )
        seq, prefix = seq_all[:-1], seq_all[-1]
        exp = sorted(self.wildcard_terms(prefix + "*"))
        if max_expansions:
            exp = exp[:max_expansions]
        qterms = list(dict.fromkeys(seq))
        dfs = self._term_dfs(qterms)
        if not exp or any(dfs[t] == 0 for t in qterms):
            return self._empty_result(with_meta, as_pdf=as_pandas)
        return self._phrase_top(
            seq, dfs, list(dict.fromkeys(qterms + exp)), filters, k, offset,
            with_meta, as_pandas, prefix=prefix,
            capped=bool(max_expansions) and len(exp) == max_expansions,
            prefix_terms=exp,
        )

    def phrase_matches(self, query: str, filters: dict | None = None,
                       slop: int = 0):
        """``(doc_id, score)`` of ALL exact-phrase matches — the phrase
        analogue of ``score_matches`` (same contract: pandas on the driver
        tiers, Spark DataFrame on the distributed tier). Building block of
        the query_string executor (query/querystring.py), where a phrase
        clause combines with other clauses on doc_id, so a pre-combine
        top-k cut would be unsound. Routing mirrors ``search_phrase``:
        resident positional sidecar -> serve-tier positional fetch ->
        distributed ``_phrase_frame``."""
        self._validate_filters(filters)
        empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")})
        if filters_impossible(filters):
            return empty
        if self.analyzer.mode != "standard":
            raise ValueError(
                "phrase_matches requires a standard-analyzer index; "
                f"this index uses mode={self.analyzer.mode!r}"
            )
        seq = self._std_tokens(query)
        if not seq:
            return empty
        qterms = list(dict.fromkeys(seq))
        dfs = self._term_dfs(qterms)
        if any(dfs[t] == 0 for t in qterms):
            return empty
        src = self._phrase_source(dfs, filters)
        if src is not None:
            return self._driver_phrase(src, filters, qterms, seq, dfs,
                                       slop=slop)
        r = self._phrase_frame(seq, filters, slop=slop)
        return empty if r is None else r.select("doc_id", "score")

    def _phrase_source(self, dfs: dict[str, int], filters: dict | None):
        """The driver source for a phrase-family query, when it holds
        the positional sidecar (one with ``dls``: the one-pass kernel
        scores from it)."""
        src = self._driver_source(dfs, filters)
        if src is None or self._positions is None or not src.has_positions:
            return None
        return src

    def _phrase_scoring(self, qterms: list[str], dfs: dict[str, int]):
        """BM25 parameters the phrase kernel scores the phrase terms with
        (the conjunctive sum: position constraints filter, never score)."""
        return dict(idf={t: self._idf(dfs[t]) for t in qterms},
                    avgdl=self.avgdl, k1=self.bm25.k1, b=self.bm25.b)

    def _driver_phrase(self, src, filters: dict | None,
                       fetch_terms: list[str], seq: list[str],
                       dfs: dict[str, int], **kw):
        """All (doc_id, score) matches of a phrase-family query from one
        driver source: the one-pass positional kernel the distributed
        plan runs, filters applied up front (resident source) or to the
        matches (serve cache)."""
        pos, allowed, excluded, post = self._driver_fetch(
            src, filters, fetch_terms, positions=True
        )
        r = _phrase_position_kernel(
            seq, self._phrase_scoring(list(dict.fromkeys(seq)), dfs),
            excluded_bc=excluded, allowed=allowed, **kw,
        )(pos)
        if post:
            r = self._meta_for(r, src, (), filters)
        return r[["doc_id", "score"]]

    def _phrase_top(self, seq: list[str], dfs: dict[str, int],
                    fetch_terms: list[str], filters: dict | None, k: int,
                    offset: int, with_meta: bool, as_pandas: bool,
                    prefix: str | None = None, capped: bool = False, **kw):
        """One result page of a phrase-family query: the driver branch
        over a positional driver source (zero Spark jobs, so phrase p50 is
        independent of core and partition count), else the distributed
        ``_phrase_frame``. ``kw`` are the phrase kernel's options."""
        src = self._phrase_source(dfs, filters)
        if src is not None:
            r = self._driver_phrase(src, filters, fetch_terms, seq, dfs, **kw)
            topk_pdf = _by_score(r).iloc[offset : offset + k]
        else:
            verified = self._phrase_frame(seq, filters, prefix=prefix,
                                          capped=capped, **kw)
            if verified is None:
                return self._empty_result(with_meta, as_pdf=as_pandas)
            topk_pdf = (
                verified.orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(offset + k)
                .toPandas()
                .iloc[offset : offset + k]
            )
        return self._attach_meta(topk_pdf, with_meta, as_pandas, src)

    def _phrase_frame(
        self, seq: list[str], filters: dict | None,
        prefix: str | None = None, capped: bool = False, **kw,
    ) -> DataFrame | None:
        """Lazy (doc_id, score) frame of verified phrase matches, or None
        when a phrase term is absent from the vocabulary (short-circuit —
        no job). ``kw`` are the phrase kernel's options (slop, span gates,
        ``prefix_terms`` for match_phrase_prefix). Split from the
        searches so plan tests can assert the shape.

        Positional sidecar: ONE postings-sized scan of the position blocks
        of the phrase terms (+ exclude or expansion terms) — candidates,
        adjacency and scores from the kernel; the doc store is never read
        (at 100 TB, MBs instead of the whole corpus per query). Filtered
        (or non-broadcastable tombstones, or a pre-dls sidecar): two
        stages — scored candidates via the filter-aware ``_scored_frame``,
        adjacency from positions, broadcast join.

        Positionless: the slow-phrase shape — conjunctive scoring,
        broadcast of the scored side into the doc_meta scan, JVM rlike
        verify. For match_phrase_prefix the final token is open-ended
        (``prefix``); a ``capped`` expansion list must verify exactly
        those terms on every branch (ES's expansion cliff)."""
        qterms = list(dict.fromkeys(seq))
        dfs = self._term_dfs(qterms)
        if any(dfs[t] == 0 for t in qterms):
            return None
        scoring = self._phrase_scoring(qterms, dfs)
        params = dict(qterms=qterms, topn=None, **scoring)
        blocks = self.postings.filter(F.col("term").isin(qterms))
        if self._positions is not None:
            extra = kw.get("prefix_terms") or [
                t for t in dict.fromkeys(kw.get("not_seq") or [])
                if t not in qterms
            ]
            pos = self._positions.filter(F.col("term").isin(qterms + extra))
            if (
                "dls" in self._positions.columns
                and filters is None
                and (self._tombstones is None or self._tomb_bc is not None)
            ):
                return pos.groupby("doc_part").applyInPandas(
                    _phrase_position_kernel(
                        seq, scoring, excluded_bc=self._tomb_bc, **kw
                    ),
                    schema=RESULT_SCHEMA,
                )
            scored = self._scored_frame(blocks, K.score_and, params, filters)
            matched = pos.groupby("doc_part").applyInPandas(
                _phrase_position_kernel(seq, **kw), schema="doc_id long"
            )
            return scored.join(F.broadcast(matched), "doc_id")
        if (kw.get("first_end") is not None or kw.get("not_seq") is not None
                or kw.get("unordered")):
            raise ValueError(
                "span queries (span_first / span_not / unordered "
                "span_near) require a positional "
                "index (build with IndexConfig(positions=True)) — like "
                "Lucene span queries, they cannot run against a "
                "positions-less index"
            )
        scored = self._scored_frame(blocks, K.score_and, params, filters)
        if min(dfs[t] for t in qterms) <= 1_000_000:
            scored = F.broadcast(scored)
        content = self.doc_meta.select(
            "doc_id", F.lower(F.col("content")).alias("_content_lc")
        )
        slop = kw.get("slop", 0)
        if prefix is not None:
            # uncapped, prefix\w* is equivalent to alternating over ALL
            # completions because the vocabulary covers every corpus token
            alt = "(?:" + "|".join(kw["prefix_terms"]) + ")"
            keep = F.col("_content_lc").rlike(
                self._phrase_pattern(seq + [alt]) if capped
                else self._phrase_pattern(seq + [prefix], last_prefix=True)
            )
        elif slop and len(seq) > 2:
            # a per-gap regex budget over-accepts vs the kernel's shared
            # window for 3+ terms, so the positionless fallback verifies
            # with the SAME greedy chain over tokenized candidate content
            # (Arrow-batched pandas UDF; bounded by the rarest term's df —
            # the disclosed slow-phrase shape, like the rlike plan)
            keep = _sloppy_verify_udf(seq, slop, self.analyzer)(
                F.col("_content_lc")
            )
        else:
            keep = F.col("_content_lc").rlike(
                self._phrase_pattern(seq, slop=slop)
            )
        return content.join(scored, "doc_id").filter(keep).drop("_content_lc")

    # -- fuzzy (deletion-neighborhood term expansion) -----------------------

    def fuzzy_terms(
        self,
        term: str,
        max_dist: int = 1,
        max_expansions: int | None = None,
    ) -> list[str]:
        """Vocabulary terms within levenshtein distance ``max_dist`` of
        ``term``, most-frequent first (df desc, term asc).

        SymSpell-style candidate generation: for ``max_dist=1`` two strings
        within edit distance 1 always share a member of each other's
        {self} ∪ {single-deletions} set, so candidates come from an
        equi-join on deletion keys — vocabulary-sized work, never
        corpus-sized. The vocab side explodes its deletion keys with pure
        JVM expressions (transform/sequence/substr) behind a length-window
        pushdown; the query side is a broadcast of ≤ len(term)+1 keys;
        ``F.levenshtein`` verifies exactly. When the warm driver stats dict
        is resident and small, a lazily built driver-side deletion map
        answers without a Spark job (suggest-tier latency)."""
        if max_dist != 1:
            raise NotImplementedError(
                "deletion-neighborhood expansion supports max_dist=1"
            )
        t = term.lower()
        if not t:
            return []
        qvars = {t} | {t[:i] + t[i + 1 :] for i in range(len(t))}
        sc = self._stats_cache
        fmap = None if sc is None else self._fuzzy_deletion_map(sc)
        if fmap is not None:
            cands: set[str] = set()
            for v in qvars:
                cands.update(fmap.get(v, ()))
            out = [
                (c, sc.get(c, 0))
                for c in cands
                if _lev_le1(c, t)
            ]
        else:
            rows = self._fuzzy_candidate_scan(
                t, qvars, max_dist, max_expansions
            ).collect()
            out = [(r["term"], int(r["df"])) for r in rows]
        out.sort(key=lambda p: (-p[1], p[0]))
        terms = [c for c, _ in out]
        return terms[:max_expansions] if max_expansions else terms

    def _fuzzy_candidate_scan(
        self,
        t: str,
        qvars: set[str],
        max_dist: int,
        max_expansions: int | None,
    ):
        """Cold-path fuzzy neighborhood as a DataFrame: deletion-key
        equi-join against the stats table, with ``max_expansions`` pushed
        INTO the plan as orderBy(df desc, term asc).limit(n) (physical
        TakeOrderedAndProject) — symmetric with :meth:`_expansion_scan`,
        so at most n rows reach the driver even for a pathologically
        dense neighborhood. ``None`` collects the exact neighborhood
        (intrinsically small for distance 1)."""
        dels = F.transform(
            F.sequence(F.lit(1), F.length("term")),
            lambda i: F.concat(
                F.col("term").substr(F.lit(1), i - F.lit(1)),
                F.col("term").substr(i + F.lit(1), F.length("term")),
            ),
        )
        vdf = self.spark.createDataFrame(
            [(v,) for v in sorted(qvars)], "dkey string"
        )
        cand = (
            self._stats.filter(
                F.length("term").between(len(t) - 1, len(t) + 1)
            )
            .withColumn(
                "dkey",
                F.explode(F.array_union(F.array(F.col("term")), dels)),
            )
            .join(F.broadcast(vdf), "dkey")
            .filter(F.levenshtein(F.col("term"), F.lit(t)) <= max_dist)
            .select("term", "df")
            .distinct()
        )
        if max_expansions is not None:
            cand = cand.orderBy(F.desc("df"), F.asc("term")).limit(
                max_expansions
            )
        return cand

    # -- suggesters (term-dictionary lookups) -------------------------------

    def suggest_terms(self, term: str, k: int = 5) -> pd.DataFrame:
        """ES *term suggester* ("did you mean"): vocabulary terms within
        edit distance 1 of ``term`` (itself excluded), hottest first
        (df desc, term asc). Candidates via the SymSpell deletion-
        neighborhood equi-join of :meth:`fuzzy_terms` — vocabulary-sized,
        never corpus-sized; df from the warm stats dict (no job) or the
        term-pruned stats scan. Returns ``[term, df]``."""
        toks = self._std_tokens(term)
        if len(toks) != 1:
            raise ValueError(
                f"term suggester takes a single token, got {toks!r}"
            )
        t = toks[0]
        cands = [c for c in self.fuzzy_terms(t) if c != t]
        dfs = self._term_dfs(cands)
        out = sorted(
            ((c, dfs[c]) for c in cands if dfs[c] > 0),
            key=lambda p: (-p[1], p[0]),
        )[:k]
        return pd.DataFrame(
            {"term": [c for c, _ in out],
             "df": pd.Series([d for _, d in out], dtype="int64")}
        )

    def complete_prefix(self, prefix: str, k: int = 5) -> pd.DataFrame:
        """ES *completion suggester* analogue over the term dictionary:
        vocabulary terms starting with ``prefix``, hottest first (df desc,
        term asc). Warm tier answers from the resident stats dict with no
        job; cold tier is a term-dictionary scan whose StartsWith predicate
        pushes down to the parquet term_stats files (term-sorted, so
        row-group pruned). Returns ``[term, df]``."""
        p = prefix.lower()
        if not p:
            raise ValueError("prefix must be non-empty")
        sc = self._stats_cache
        if sc is not None:
            # bisected sorted-vocab range — no full dict scan per keystroke
            out = sorted(
                self._warm_expansion_candidates(p, sc),
                key=lambda x: (-x[1], x[0]),
            )[:k]
        else:
            rows = (
                self._stats.filter(F.col("term").startswith(p))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(k)
                .collect()
            )
            out = [(r["term"], int(r["df"])) for r in rows]
        return pd.DataFrame(
            {"term": [t for t, _ in out],
             "df": pd.Series([n for _, n in out], dtype="int64")}
        )

    def suggest_phrase(
        self,
        text: str,
        k: int = 5,
        max_per_token: int = 5,
        err: float = 0.05,
        confidence: float = 1.0,
        collate: bool = False,
    ) -> pd.DataFrame:
        """ES *phrase suggester* ("did you mean" over a multi-token
        query), in its unigram form: per-token candidates from the
        distance-<=1 vocabulary neighborhood (:meth:`fuzzy_terms`, df-desc
        capped at ``max_per_token``, the original token always kept), each
        candidate SEQUENCE scored by a Laplace-smoothed unigram language
        model plus a per-token error likelihood:

            score(seq) = sum_i [ ln((df(c_i)+1) / (N + V)) + ln(e_i) ]
            e_i = 1-err  if c_i == t_i and t_i is a vocabulary word
                  err    otherwise (corrected, OR kept non-word)

        with N = live doc count, V = vocabulary size, err = ES's
        ``real_word_error_likelihood`` complement (default 0.05) — note
        keeping a token ABSENT from the vocabulary earns ``err``, not
        ``1-err``: ES's real-word likelihood only applies to words the
        index knows, which is what lets corrections of misspellings beat
        the typed input. Only
        sequences scoring above ``ln(confidence) +`` the input's own score
        are returned (ES ``confidence``, default 1.0 = strictly better
        than what the user typed), best first (score desc, text asc).

        ``collate=True`` mirrors ES's collate-query prune — but where ES
        issues one query per suggestion, every suggestion here is counted
        in ONE postings pass via :meth:`count_many`, and suggestions with
        zero conjunctive matches are dropped (a ``matches`` column is
        added). All work is vocabulary-sized: candidates come from the
        term dictionary, the cross-product is bounded by
        ``max_per_token^len(tokens)`` driver-side tuples (tokens capped at
        5), and nothing corpus-sized runs unless ``collate`` asks for the
        one batched counting pass. ES needs a dedicated gram subfield for
        its bigram LM; the unigram form runs off stats the index already
        keeps — the deliberate, documented divergence.

        Returns ``[suggestion, score]`` (+ ``matches`` when collated).
        """
        import itertools
        import math

        toks = self._std_tokens(text)
        if not toks:
            raise ValueError("phrase suggester needs at least one token")
        if len(toks) > 5:
            raise ValueError(
                f"phrase suggester caps at 5 tokens, got {len(toks)}"
            )
        if not 0.0 < err < 1.0:
            raise ValueError("err must be in (0, 1)")
        sc = self._stats_cache
        if sc is not None:
            vocab_size = len(sc)
        else:
            vocab_size = self._stats.select("term").distinct().count()
        denom = float(self.n_docs) + float(vocab_size)
        cand_lists: list[list[str]] = []
        all_terms: set[str] = set()
        for t in toks:
            top = self.fuzzy_terms(t, 1)[:max_per_token]
            if t not in top:
                top = top + [t]
            cand_lists.append(top)
            all_terms.update(top)
        dfs = self._term_dfs(sorted(all_terms))

        def tok_score(cand: str, orig: str) -> float:
            lm = math.log((dfs.get(cand, 0) + 1) / denom)
            keep_real = cand == orig and dfs.get(orig, 0) > 0
            return lm + math.log(1.0 - err if keep_real else err)

        base = sum(tok_score(t, t) for t in toks)
        threshold = base + math.log(confidence) if confidence > 0 else None
        rows: list[tuple[str, float]] = []
        for combo in itertools.product(*cand_lists):
            if list(combo) == toks:
                continue
            s = sum(tok_score(c, o) for c, o in zip(combo, toks))
            if threshold is None or s > threshold:
                rows.append((" ".join(combo), s))
        rows.sort(key=lambda r: (-r[1], r[0]))
        rows = rows[:k]
        out = pd.DataFrame(
            {"suggestion": [r[0] for r in rows],
             "score": pd.Series([round(r[1], 6) for r in rows],
                                dtype="float64")}
        )
        if collate and len(out):
            counts = self.count_many(
                {sugg: sugg for sugg in out["suggestion"]}, mode="and"
            )
            out = out.merge(
                counts.rename(columns={"query": "suggestion",
                                       "cnt": "matches"}),
                on="suggestion",
            )
            out = out[out["matches"] > 0].reset_index(drop=True)
        return out

    # -- wildcard (term-dictionary expansion) -------------------------------

    @staticmethod
    def _wildcard_regex(pattern: str) -> str:
        """ES wildcard pattern -> anchored regex: ``*`` = any run, ``?`` =
        one char, everything else literal (regex metachars escaped).
        Anchored (^...$) so Java rlike's find semantics match DuckDB's
        regexp_matches on the same string."""
        import re as _re

        parts = []
        for ch in pattern:
            if ch == "*":
                parts.append(".*")
            elif ch == "?":
                parts.append(".")
            else:
                parts.append(_re.escape(ch))
        return "^" + "".join(parts) + "$"

    # regex metachars that end a literal prefix; quantifiers additionally
    # make the PRECEDING char non-literal (`ab*` matches `a`, `ab`, ...)
    _RX_META = set(".?*+()[]{}|\\^$")
    _RX_QUANT = set("*?+{")

    @classmethod
    def _literal_prefix(cls, pattern: str, dialect: str) -> str:
        """Longest literal prefix every match of ``pattern`` must start
        with — the Lucene PrefixQuery-style cut that turns a full
        term-dictionary scan into a sorted-range scan. ``dialect`` is
        ``"wildcard"`` (``*``/``?`` are the only metachars) or
        ``"regexp"`` (conservative: stop at any regex metachar, and drop
        the previous char when the stopper is a quantifier). Returns ""
        when the pattern starts with a metachar (leading-wildcard scans
        stay full, as in Lucene)."""
        if dialect == "wildcard":
            for i, ch in enumerate(pattern):
                if ch in "*?":
                    return pattern[:i]
            return pattern
        if "|" in pattern:
            # alternation has lowest precedence: `gamma|delta` matches
            # delta too, so no prefix is safe (even a grouped `a(b|c)`
            # stays full-scan — conservatively, no group tracking)
            return ""
        out: list[str] = []
        for ch in pattern:
            if ch in cls._RX_META:
                if ch in cls._RX_QUANT and out:
                    out.pop()
                break
            out.append(ch)
        return "".join(out)

    def _sorted_terms(self, sc: dict) -> list[str]:
        """Sorted keys of the stats dict ``sc``, built lazily and rebuilt
        whenever the engine's dict is replaced (re-warm / delta reopen).
        Pointer-array only (~8 B/term, counted by _resident_cache_bytes)
        — the strings are the dict's own keys. The memo is one
        (dict, keys) pair, read once, and is not stored for a dict the
        engine no longer holds (evicted mid-query)."""
        memo = self._sorted_vocab
        if memo is not None and memo[0] is sc:
            return memo[1]
        vocab = sorted(sc)
        if self._stats_cache is sc:
            self._sorted_vocab = (sc, vocab)
        return vocab

    def _warm_expansion_candidates(self, prefix: str, sc: dict):
        """(term, df) candidates from the stats dict ``sc`` (read once by
        the caller) for a warm-tier expansion scan: the bisected
        ``[prefix, prefix~)`` slice of the sorted vocabulary when the
        pattern pins a non-empty literal prefix — O(log V + matching
        range) instead of a full O(V) dict scan per query — else the
        whole stats dict (leading-wildcard patterns, exactly the case
        Lucene also scans fully)."""
        if not prefix:
            return sc.items()
        vocab = self._sorted_terms(sc)
        import bisect as _bisect

        lo = _bisect.bisect_left(vocab, prefix)
        hi = _bisect.bisect_left(vocab, prefix + "\U0010ffff")
        return ((t, sc[t]) for t in vocab[lo:hi])

    def _expansion_scan(
        self,
        rx: str,
        max_expansions: int | None,
        prefix: str = "",
    ):
        """Cold-path expansion candidates as a DataFrame: the (term, df)
        stats table filtered by the rewrite regex, with the expansion cap
        pushed INTO the plan as ``orderBy(df desc, term asc).limit(n)``
        (physical TakeOrderedAndProject), so a hot pattern (``a*``) over
        a 10^8-term dictionary ships at most n rows to the driver, never
        the whole matching vocabulary. ``max_expansions=None`` is the
        explicit exact escape hatch (oracle runs) and collects every
        match.

        ``prefix`` (the pattern's literal prefix, when it pins one) adds
        a redundant-but-pushable StartsWith predicate: ``rlike`` never
        reaches the parquet scan, but StartsWith does — and the stats
        files are term-sorted, so row-group min/max pruning skips the
        vocabulary outside the prefix range entirely (the cold-path twin
        of the warm tier's sorted-vocab bisect)."""
        df = self._stats
        if prefix:
            df = df.filter(F.col("term").startswith(prefix))
        df = df.filter(F.col("term").rlike(rx)).select("term", "df")
        if max_expansions is not None:
            df = df.orderBy(F.desc("df"), F.asc("term")).limit(
                max_expansions
            )
        return df

    def wildcard_terms(
        self,
        pattern: str,
        max_expansions: int | None = DEFAULT_MAX_EXPANSIONS,
    ) -> list[str]:
        """Vocabulary terms matching an ES-style wildcard pattern
        (``*``/``?``), most-frequent first (df desc, term asc), capped at
        ``max_expansions`` (default 512, the Lucene-style multi-term
        rewrite bound — ``None`` = exact, every match).

        The scan is over the (term, df) stats table — vocabulary-sized,
        never corpus-sized — exactly how Lucene rewrites wildcard queries
        against the term dictionary (leading wildcards scan the whole
        vocabulary there too). Driver fast path when the warm stats dict
        is resident; Spark ``rlike`` filter with the cap pushed into the
        plan otherwise (``_expansion_scan``)."""
        rx = self._wildcard_regex(pattern.lower())
        sc = self._stats_cache
        if sc is not None:
            import re as _re

            crx = _re.compile(rx)
            cands = self._warm_expansion_candidates(
                self._literal_prefix(pattern.lower(), "wildcard"), sc
            )
            out = [(t, n) for t, n in cands if crx.match(t)]
        else:
            rows = self._expansion_scan(
                rx, max_expansions,
                prefix=self._literal_prefix(pattern.lower(), "wildcard"),
            ).collect()
            out = [(r["term"], int(r["df"])) for r in rows]
        out.sort(key=lambda p: (-p[1], p[0]))
        terms = [t for t, _ in out]
        return terms[:max_expansions] if max_expansions else terms

    def search_wildcard(
        self,
        pattern: str,
        k: int = 10,
        offset: int = 0,
        max_expansions: int | None = DEFAULT_MAX_EXPANSIONS,
        filters: dict | None = None,
        with_meta: bool = True,
        sort_by: list[tuple[str, str]] | None = None,
        as_pandas: bool = False,
    ):
        """Wildcard term query (ES ``wildcard`` analogue): expand the
        pattern against the term dictionary, then score as a disjunctive
        match with per-variant idf. (ES scores wildcard matches
        constant-score by default; BM25-OR is this engine's deliberate
        choice, consistent with search_fuzzy.) Reuses ``search()``, so
        serve-tier / filter / sort routing apply unchanged."""
        variants = self.wildcard_terms(pattern, max_expansions)
        if not variants:
            return self._empty_result(
                with_meta, sort_by=sort_by, as_pdf=as_pandas
            )
        return self.search(
            " ".join(variants),
            k=k,
            offset=offset,
            mode="or",
            filters=filters,
            with_meta=with_meta,
            sort_by=sort_by,
            as_pandas=as_pandas,
        )

    # ES regexp-query dialect guard: Python re (driver dict path), Java
    # rlike (Spark path), and RE2 (DuckDB oracles) agree on the basic
    # syntax but diverge on lookaround/backreferences — reject those so a
    # pattern means the same thing on every tier.
    _REGEXP_UNPORTABLE = ("(?=", "(?!", "(?<", "\\1", "\\2", "\\3", "\\4",
                          "\\5", "\\6", "\\7", "\\8", "\\9")

    def regexp_terms(
        self,
        pattern: str,
        max_expansions: int | None = DEFAULT_MAX_EXPANSIONS,
    ) -> list[str]:
        """Vocabulary terms fully matching a regular expression (ES
        ``regexp`` query semantics: anchored — the whole term must match),
        most-frequent first (df desc, term asc), capped at
        ``max_expansions`` (default 512; ``None`` = exact). Same
        vocabulary-sized scan as wildcard_terms: the term dictionary,
        never the corpus, with the cap pushed into the cold-path plan."""
        import re as _re

        for bad in self._REGEXP_UNPORTABLE:
            if bad in pattern:
                raise ValueError(
                    "regexp patterns with lookaround/backreferences are "
                    "not portable across the engine's tiers "
                    f"(found {bad!r})"
                )
        rx = f"^(?:{pattern.lower()})$"
        try:
            crx = _re.compile(rx)
        except _re.error as exc:
            raise ValueError(f"invalid regexp {pattern!r}: {exc}") from exc
        sc = self._stats_cache
        if sc is not None:
            cands = self._warm_expansion_candidates(
                self._literal_prefix(pattern.lower(), "regexp"), sc
            )
            out = [(t, n) for t, n in cands if crx.match(t)]
        else:
            rows = self._expansion_scan(
                rx, max_expansions,
                prefix=self._literal_prefix(pattern.lower(), "regexp"),
            ).collect()
            out = [(r["term"], int(r["df"])) for r in rows]
        out.sort(key=lambda p: (-p[1], p[0]))
        terms = [t for t, _ in out]
        return terms[:max_expansions] if max_expansions else terms

    def search_regexp(
        self,
        pattern: str,
        k: int = 10,
        offset: int = 0,
        max_expansions: int | None = DEFAULT_MAX_EXPANSIONS,
        filters: dict | None = None,
        with_meta: bool = True,
        sort_by: list[tuple[str, str]] | None = None,
        as_pandas: bool = False,
    ):
        """Regexp term query (ES ``regexp`` analogue): expand the anchored
        pattern against the term dictionary, then score as a disjunctive
        match with per-variant idf — the same rewrite-then-search() shape
        as wildcard/fuzzy, so serve-tier / filter / sort routing apply
        unchanged."""
        variants = self.regexp_terms(pattern, max_expansions)
        if not variants:
            return self._empty_result(
                with_meta, sort_by=sort_by, as_pdf=as_pandas
            )
        return self.search(
            " ".join(variants),
            k=k,
            offset=offset,
            mode="or",
            filters=filters,
            with_meta=with_meta,
            sort_by=sort_by,
            as_pandas=as_pandas,
        )

    def _fuzzy_deletion_map(self, sc: dict | None = None) -> dict | None:
        """Driver-side deletion-key -> [vocab terms] map, built lazily from
        the warm stats dict ``sc`` (default: the engine's; bounded at 200k
        terms — beyond that the Spark join path is the right plan) and
        invalidated on delta imports via the same state token the serve
        cache uses."""
        sc = self._stats_cache if sc is None else sc
        if sc is None or len(sc) > 200_000:
            return None
        token = self._delta_token()
        if getattr(self, "_fuzzy_map_refused_token", None) == token:
            # governor refused the enlarged entry at this index state —
            # don't rebuild the O(vocab) map every query just to re-fail;
            # the Spark join path serves until the next delta import
            return None
        if self._fuzzy_map is None or self._fuzzy_map_token != token:
            m: dict[str, list[str]] = {}
            for w in sc:
                for v in {w} | {w[:i] + w[i + 1 :] for i in range(len(w))}:
                    m.setdefault(v, []).append(w)
            self._fuzzy_map = m
            self._fuzzy_map_token = token
            # The map is a multiple of the stats dict's footprint and was
            # built AFTER warm()'s admission — re-admit so the process
            # governor accounts the real resident bytes. If the enlarged
            # entry no longer fits alone, keep the (admitted) smaller
            # caches and serve fuzzy via the Spark join path instead.
            nbytes = self._resident_cache_bytes()
            if nbytes and not GOVERNOR.admit(
                self._gov_key, nbytes, self._drop_resident_caches
            ):
                self._fuzzy_map = None
                self._fuzzy_map_token = None
                self._fuzzy_map_refused_token = token
                smaller = self._resident_cache_bytes()
                if smaller and not GOVERNOR.admit(
                    self._gov_key, smaller, self._drop_resident_caches
                ):
                    self._drop_resident_caches()
                return None
        return self._fuzzy_map

    def search_bool_prefix(
        self,
        query: str,
        k: int = 10,
        offset: int = 0,
        mode: str = "or",
        filters: dict | None = None,
        with_meta: bool = True,
        as_pandas: bool = False,
        max_expansions: int | None = DEFAULT_MAX_EXPANSIONS,
    ):
        """ES ``match_bool_prefix`` analogue — search-box-as-you-type
        over a standard-analyzer index: every analyzed token but the last
        is a term clause, the last is a PREFIX clause (any vocabulary
        term starting with it); ``mode`` maps to ES's ``operator``. Under
        ``or`` a doc matches any clause; under ``and`` every fixed term
        AND at least one prefix completion must be present. Unlike
        match_phrase_prefix there is no adjacency/order requirement —
        the bool form, exactly as in ES.

        Scoring: BM25 sum over all matched clauses with per-variant idf
        for prefix completions — the engine's standing wildcard-scoring
        contract (deliberate divergence from ES's constant-score prefix
        rewrite, which is expansion-cap dependent and not rank-stable).
        ``max_expansions`` defaults to the Lucene-style rewrite bound
        (512, df-desc order per wildcard_terms); ``None`` is the explicit
        EXACT escape hatch (all completions — oracle runs).

        Compiles onto the query_string engine (``a b la*`` /
        ``+a +b +la*``), so tier routing, group scoring, and the
        composition path apply unchanged; filter by field with
        query_string syntax (``lang:py``) via ``api.query_string`` when
        needed.
        """
        if mode not in ("or", "and"):
            raise ValueError("mode must be 'or' or 'and'")
        from gofias_spark.query.querystring import execute_query_string

        toks = self._std_tokens(query)
        if not toks:
            return self._empty_result(with_meta, as_pdf=as_pandas)
        fixed, last = toks[:-1], toks[-1]
        if mode == "or":
            qs = " ".join([*fixed, last + "*"])
        else:
            qs = " ".join("+" + t for t in [*fixed]) + (
                " " if fixed else ""
            ) + "+" + last + "*"
        return execute_query_string(
            self, qs, k=k, offset=offset, default_operator="or",
            max_expansions=max_expansions, filters=filters,
            with_meta=with_meta, as_pandas=as_pandas,
        )

    def search_synonyms(
        self,
        query: str,
        synonyms: dict[str, list[str]],
        k: int = 10,
        offset: int = 0,
        mode: str = "and",
        filters: dict | None = None,
        with_meta: bool = True,
        as_pandas: bool = False,
    ):
        """Query-time synonym expansion (ES search-time ``synonym`` /
        ``synonym_graph`` filter analogue): each analyzed query token
        expands to an OR-group of itself plus its single-token synonyms,
        and the groups combine under ``mode`` (``and`` = every group
        must match via at least one variant — the reference's
        operator=and semantics, synonym-widened).

        Scoring: every matched variant contributes its own BM25 with its
        own idf — the engine's standing expansion-scoring contract
        (wildcard/fuzzy), a deliberate divergence from ES's blended
        ``SynonymQuery`` frequencies (which depend on index-time
        statistics unavailable at query time and are not rank-stable
        across segment layouts).

        Compiles onto the query_string composition path (``+(fast hash)
        +(scan)``), so tier routing, group scoring, filters, and paging
        apply unchanged; index-time synonym folding stays available
        separately via functions/text.py X3. Synonym entries are
        analyzed with the query analyzer. MULTI-token synonyms expand as
        PHRASE alternatives inside the token's OR-group — ES
        ``synonym_graph`` semantics (``ml => "machine learning"`` makes
        the group ``(ml "machine learning")``, the phrase matching with
        match_phrase adjacency through the standing positional tiers),
        so graph synonyms need the same positional support match_phrase
        needs."""
        if mode not in ("or", "and"):
            raise ValueError("mode must be 'or' or 'and'")
        from gofias_spark.query.querystring import execute_query_string

        toks = analyze_query(query, self.analyzer)
        if not toks:
            return self._empty_result(with_meta, as_pdf=as_pandas)
        groups: list[list[str]] = []
        for t in toks:
            variants = [t]
            for syn in synonyms.get(t, []):
                st = analyze_query(syn, self.analyzer)
                if not st:
                    raise ValueError(
                        f"synonym {syn!r} for {t!r} analyzes to no tokens"
                    )
                # single-token -> bare term clause; multi-token -> quoted
                # phrase clause (analyzed tokens are [a-z0-9_]+, so the
                # quoted body needs no escaping)
                v = st[0] if len(st) == 1 else '"' + " ".join(st) + '"'
                if v not in variants:
                    variants.append(v)
            groups.append(variants)
        parts = []
        for vs in groups:
            body = "(" + " ".join(vs) + ")" if len(vs) > 1 else vs[0]
            parts.append(("+" if mode == "and" else "") + body)
        return execute_query_string(
            self, " ".join(parts), k=k, offset=offset,
            default_operator="or", filters=filters, with_meta=with_meta,
            as_pandas=as_pandas,
        )

    def search_fuzzy(
        self,
        term: str,
        k: int = 10,
        offset: int = 0,
        max_dist: int = 1,
        max_expansions: int | None = None,
        filters: dict | None = None,
        with_meta: bool = True,
        sort_by: list[tuple[str, str]] | None = None,
        as_pandas: bool = False,
    ):
        """Single-token fuzzy match (ES ``fuzziness`` analogue): expand the
        token to its distance-≤1 vocabulary neighborhood, then score as a
        disjunctive match — each matched variant contributes its own BM25
        with its own idf (Lucene's per-term 'blended' behavior). Reuses
        ``search()``, so the serve-tier / filter / sort routing all apply
        unchanged."""
        toks = analyze_query(term, self.analyzer)
        if len(toks) != 1:
            raise ValueError(
                f"search_fuzzy expects a single token, got {toks!r}"
            )
        variants = self.fuzzy_terms(toks[0], max_dist, max_expansions)
        if not variants:
            return self._empty_result(
                with_meta, sort_by=sort_by, as_pdf=as_pandas
            )
        return self.search(
            " ".join(variants),
            k=k,
            offset=offset,
            mode="or",
            filters=filters,
            with_meta=with_meta,
            sort_by=sort_by,
            as_pandas=as_pandas,
        )

    def _pdf_df(self, pdf: pd.DataFrame, schema) -> DataFrame:
        """Small-result materialization: pyarrow Table -> DataFrame halves
        the createDataFrame+collect round trip vs the pandas path (measured
        ~0.10s vs ~0.20s for k=10 under contention) — on the serve tier
        this is the dominant per-query cost. Falls back to pandas for any
        frame arrow can't coerce to the schema (e.g. NaN-holed int
        columns)."""
        import pyarrow as pa

        if len(pdf) == 0:
            return self.spark.createDataFrame([], schema=schema).limit(0)
        try:
            tbl = pa.Table.from_pandas(pdf, preserve_index=False)
            return self.spark.createDataFrame(tbl, schema=schema)
        except Exception:
            return self.spark.createDataFrame(pdf, schema=schema)

    DISPLAY_COLS = [
        "doc_id", "score", "repo", "path", "commit", "lang", "sha256",
    ]

    def _lookup_meta(self, ids, cols: list[str], src=None) -> pd.DataFrame:
        """``['doc_id'] + cols`` rows for a page of doc_ids: from the
        query's driver source ``src`` (else whichever source the engine
        holds now) when it carries the columns — resident meta by
        searchsorted/take, serve sidecar by a pruned pyarrow read — or
        else a doc_id IN (ids) pruned scan of the doc_id-sorted meta
        cache (columns outside it: the doc_meta scan)."""
        src = src or self._resident or self._serve
        meta = None
        if src is not None and set(cols) <= src.meta_columns():
            meta = src.fetch_meta(ids, ["doc_id", *cols])
        if meta is None:
            base = (
                self._meta_slim
                if set(cols) <= set(self._meta_slim.columns)
                else self.doc_meta
            )
            meta = base.filter(
                F.col("doc_id").isin([int(x) for x in ids])
            ).select("doc_id", *cols).toPandas()
        return meta

    def _attach_meta(
        self, topk_pdf: pd.DataFrame, with_meta: bool, as_pdf: bool = False,
        src=None,
    ):
        """Display columns for one result page (``_lookup_meta``), merged
        driver-side — cheaper and lower-latency than a broadcast join
        stage for k ~ 10..100 rows. ``as_pdf`` skips the final Spark
        materialization entirely — the serving fast path (see
        ``search``'s ``as_pandas``)."""
        if not with_meta:
            out = topk_pdf[["doc_id", "score"]]
            return out if as_pdf else self._pdf_df(out, RESULT_SCHEMA)
        if len(topk_pdf) == 0:
            return self._empty_result(True, as_pdf=as_pdf)
        meta = self._lookup_meta(topk_pdf["doc_id"], self.DISPLAY_COLS[2:],
                                 src)
        out = topk_pdf.merge(meta, on="doc_id", how="left")[
            self.DISPLAY_COLS
        ]
        return out if as_pdf else self._pdf_df(out, DISPLAY_SCHEMA)

    def _driver_fetch(self, src, filters: dict | None, terms: list[str],
                      neg=(), positions: bool = False):
        """The read every driver branch starts with: the blocks (or
        positional blocks) of ``terms`` + the negated terms from ``src``,
        the negated postings split into the excluded set, and the
        allowed/excluded masks. ``post`` is True when the source cannot
        evaluate ``filters`` up front (the serve cache): the caller then
        scores ALL candidates and keeps those passing the filters
        (``_meta_for`` / ``_filter_candidates``) — BM25 stats are
        index-global, so filtering after scoring is exact."""
        neg = list(neg)
        allowed = src.allowed(filters or None)
        fetch = src.fetch_positions if positions else src.fetch
        blocks, excluded = K.apply_neg(
            fetch(list(dict.fromkeys([*terms, *neg]))), neg,
            src.tombs if allowed is None else None,
        )
        return blocks, allowed, excluded, bool(filters) and allowed is None

    def _meta_for(self, r: pd.DataFrame, src, attrs=(),
                  filters: dict | None = None) -> pd.DataFrame:
        """Driver rows ``r`` (keyed by doc_id, order kept) with ``attrs``
        read from ``src``'s meta, restricted to the rows passing
        ``filters`` when given (the serve cache's post-filter)."""
        need = list(dict.fromkeys(
            [*attrs, *sorted(self._filter_fields(filters))]
        ))
        if not need:
            return r
        r = r.merge(self._lookup_meta(r["doc_id"], need, src), on="doc_id",
                    how="left")
        return r[pandas_filter_mask(r, filters)] if filters else r

    def _driver_ids_meta(self, src, filters: dict | None, qterms: list[str],
                         mode: str, attrs=()) -> pd.DataFrame:
        """The driver branch of the aggregations: doc_ids matching the
        query in ``src`` (filters applied), with their ``attrs``."""
        blocks, allowed, excluded, post = self._driver_fetch(
            src, filters, qterms
        )
        ids = K.match_ids(blocks, qterms, mode, allowed=allowed,
                          excluded=excluded)
        return self._meta_for(pd.DataFrame({"doc_id": ids}), src, attrs,
                              filters if post else None)

    def _filter_candidates(
        self, cand: pd.DataFrame, filters: dict, topn: int, src
    ) -> pd.DataFrame:
        """The top ``topn`` of all scored candidates surviving
        ``filters``, evaluated against ``src``'s meta in score order:
        one small read (8×topn highest-scored candidates) satisfies any
        non-selective filter; selective filters escalate, bounded by
        ``serve_filtered_max``."""
        order = np.lexsort(
            (cand["doc_id"].to_numpy(), -cand["score"].to_numpy())
        )
        cand = cand.iloc[order].reset_index(drop=True)
        # geometric backfill: chunks grow 8x per round, so non-selective
        # filters finish on one small read while selective ones escalate in
        # O(log) rounds — never a full-candidate read unless truly needed.
        # Chunks are consumed in global score order, so concatenated
        # survivors stay score-sorted.
        out: list[pd.DataFrame] = []
        got = 0
        fetched = 0
        chunk_n = max(1024, 8 * topn)
        while fetched < len(cand) and got < topn:
            chunk = cand.iloc[fetched : fetched + chunk_n]
            sv = self._meta_for(chunk, src, (), filters)
            out.append(sv)
            got += len(sv)
            fetched += len(chunk)
            chunk_n *= 8
        res = pd.concat(out, ignore_index=True) if out else cand.iloc[:0]
        return res[["doc_id", "score"]].iloc[:topn]

    def _sort_spec(self, sort_by):
        """Normalize sort_by -> (attr list, pandas cols, asc flags, spark cols)
        with doc_id asc appended as the deterministic final tie-break.

        Nulls sort LAST in every stage: the per-partition pandas kernels and
        the driver re-sort use na_position='last', so the global Spark merge
        must use asc_nulls_last/desc_nulls_last — F.asc alone places nulls
        FIRST and would select page membership under a different order than
        it presents (ADVICE r02, medium)."""
        keys = list(sort_by) + [("doc_id", "asc")]
        attrs, pd_cols, asc, spark_cols = [], [], [], []
        meta_fields = {f.name: f.dataType for f in self.doc_meta.schema.fields}
        for field, direction in keys:
            up = direction.lower() == "asc"
            col = "score" if field == "_score" else field
            if field != "_score" and col not in ("doc_id",):
                if col not in meta_fields:
                    raise ValueError(f"unknown sort field {field!r}")
                if col not in attrs:
                    attrs.append(col)
            pd_cols.append(col)
            asc.append(up)
            spark_cols.append(
                F.asc_nulls_last(col) if up else F.desc_nulls_last(col)
            )
        return attrs, pd_cols, asc, spark_cols

    def _search_sorted(
        self, qterms, idf, dfs, k, offset, mode, filters, sort_by, with_meta,
        as_pdf=False, neg_terms: list[str] | None = None,
        msm: int | None = None,
    ):
        """Composite-key top-k (O1/O2/O3): attribute keys can dominate the
        score, so relevance pruning is off (topn=None scores ALL matches)
        and every match's sort attributes are read. Driver branch: from
        the source's meta. Distributed branch: the attributes ride the
        cogroup right side — co-partitioned with the postings cache, no
        shuffle — each partition emits its composite top-n, merged by a
        global TakeOrderedAndProject."""
        attrs, pd_cols, asc, spark_cols = self._sort_spec(sort_by)
        topn = offset + k
        params = dict(
            qterms=qterms, idf=idf, avgdl=self.avgdl,
            k1=self.bm25.k1, b=self.bm25.b, topn=None,
        )
        fn = K.select_kernel(mode, msm, len(qterms))
        neg = list(neg_terms or [])
        cols = ["doc_id", "score"] + attrs

        def ranked(r: pd.DataFrame) -> pd.DataFrame:
            return r.sort_values(by=pd_cols, ascending=asc,
                                 na_position="last")

        src = self._driver_source(dfs, filters, attrs)
        if src is not None:
            blocks, allowed, excluded, post = self._driver_fetch(
                src, filters, qterms, neg
            )
            r = fn(blocks, allowed=allowed, excluded=excluded, **params)
            r = ranked(
                self._meta_for(r, src, attrs, filters if post else None)
            )
            return self._finish_sorted(
                r.iloc[offset : offset + k][cols], attrs, with_meta,
                pd_cols, asc, as_pdf, src,
            )

        meta_fields = {f.name: f.dataType for f in self.doc_meta.schema.fields}
        out_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("score", T.DoubleType()),
            ]
            + [T.StructField(a, meta_fields[a]) for a in attrs]
        )

        def body(pdf, allowed, excluded, meta=None):
            pdf, excluded = K.apply_neg(pdf, neg, excluded)
            r = fn(pdf, allowed=allowed, excluded=excluded, **params)
            if meta is not None:
                r = r.merge(meta, on="doc_id", how="left")
            return ranked(r).head(topn)[cols]

        scored = self._per_partition(
            self.postings.filter(F.col("term").isin(qterms + neg)),
            filters, body, out_schema, attrs,
        )
        topk_pdf = (
            scored.orderBy(*spark_cols).limit(topn).toPandas()
            .iloc[offset : offset + k]
        )
        return self._finish_sorted(
            topk_pdf, attrs, with_meta, pd_cols, asc, as_pdf
        )

    def _finish_sorted(self, pdf, attrs, with_meta, pd_cols, asc,
                       as_pdf=False, src=None):
        meta_fields = {f.name: f.dataType for f in self.doc_meta.schema.fields}
        base = [
            T.StructField("doc_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ] + [T.StructField(a, meta_fields[a]) for a in attrs]
        if not with_meta:
            schema = T.StructType(base)
            if len(pdf) == 0:
                if as_pdf:
                    return pd.DataFrame(columns=[f.name for f in base])
                return self.spark.createDataFrame([], schema).limit(0)
            if as_pdf:
                return pdf[[f.name for f in base]]
            return self.spark.createDataFrame(pdf[[f.name for f in base]], schema)
        display = ["repo", "path", "commit", "lang", "sha256"]
        need = [c for c in display if c not in attrs]
        schema = T.StructType(
            base + [T.StructField(c, T.StringType()) for c in need]
        )
        if len(pdf) == 0:
            if as_pdf:
                return pd.DataFrame(columns=[f.name for f in schema.fields])
            return self.spark.createDataFrame([], schema).limit(0)
        meta_pdf = self._lookup_meta(pdf["doc_id"], need, src)
        out = pdf.merge(meta_pdf, on="doc_id", how="left")
        out = out.sort_values(by=pd_cols, ascending=asc, na_position="last")
        if as_pdf:
            return out[[f.name for f in schema.fields]]
        return self.spark.createDataFrame(
            out[[f.name for f in schema.fields]], schema
        )

    def _per_partition(self, blocks: DataFrame, filters: dict | None, body,
                       schema, attrs=()) -> DataFrame:
        """The distributed branch of every operator: ``body(pdf, allowed,
        excluded)`` runs over the postings ``blocks`` partition by
        partition and returns a pandas frame of ``schema``.

        No attribute filters and no ``attrs`` (tombstones absent or
        broadcast): ``mapInPandas`` — ONE python call per cache
        partition. The kernels score any set of blocks whose doc_ids are
        globally unique, so no per-doc_part grouping is needed; grouping
        by doc_part costs a per-partition sort plus one Arrow roundtrip
        per doc_part (512 calls = ~300ms/query measured at 2M docs), the
        map path costs 32.

        Otherwise: cogroup blocks by doc_part with the ``_right_side`` —
        the allowed (live, filter-passing) or excluded (tombstoned)
        doc_ids, co-partitioned with the cache, so still no shuffle. With
        ``attrs`` the allowed side carries those meta columns and body
        gets them as a fourth argument, the partition's doc_id-sorted
        (doc_part, doc_id, *attrs) frame."""
        right, kind = self._right_side(filters, attrs)
        tomb_bc = self._tomb_bc
        if right is None or (kind == "excluded" and tomb_bc is not None):
            tomb_bc = tomb_bc if right is not None else None

            def map_kernel(batches):
                pdfs = list(batches)
                if not pdfs:
                    return
                pdf = pd.concat(pdfs) if len(pdfs) > 1 else pdfs[0]
                yield body(pdf, None,
                           tomb_bc.value if tomb_bc is not None else None)

            return blocks.mapInPandas(map_kernel, schema=schema)
        names = (
            T._parse_datatype_string(schema) if isinstance(schema, str)
            else schema
        ).names

        def cokernel(left: pd.DataFrame, right_pdf: pd.DataFrame):
            if len(left) == 0:
                return pd.DataFrame(columns=names)
            if attrs:
                meta = right_pdf.sort_values("doc_id")
                ids = meta["doc_id"].to_numpy(dtype=np.int64)
                return body(left, ids, None, meta)
            ids = np.sort(right_pdf["doc_id"].to_numpy(dtype=np.int64))
            if kind == "excluded":
                return body(left, None, ids)
            return body(left, ids, None)

        return (
            blocks.groupby("doc_part")
            .cogroup(right.groupby("doc_part"))
            .applyInPandas(cokernel, schema=schema)
        )

    def _scored_frame(self, blocks, fn, params: dict, filters: dict | None,
                      neg_terms: list[str] | None = None):
        """Distributed (doc_id, score) frame for one query: the scoring
        kernel ``fn`` per partition (``_per_partition``).

        ``neg_terms`` (bool.must_not): ``blocks`` must already include the
        negated terms' postings; each kernel call splits them out into its
        partition-local excluded set (complete, because a doc's postings for
        every term share its doc_part)."""
        neg = list(neg_terms or [])

        def body(pdf, allowed, excluded):
            pdf, excluded = K.apply_neg(pdf, neg, excluded)
            return fn(pdf, allowed=allowed, excluded=excluded, **params)

        return self._per_partition(blocks, filters, body, RESULT_SCHEMA)

    def search_constant_score(
        self,
        query: str | None = None,
        filters: dict | None = None,
        boost: float = 1.0,
        k: int = 10,
        offset: int = 0,
        mode: str = "and",
        with_meta: bool = True,
        as_pandas: bool = False,
    ):
        """ES ``constant_score`` query: every doc matching the wrapped
        query/filters scores exactly ``boost`` — no BM25, no term
        statistics, the classic filter-context wrapper. ES leaves
        equal-score order undefined; the engine fixes the deterministic
        tie-break doc_id asc so pagination is stable (the standing
        contract).

        Plan: the k-free matched-id frame (postings mapInPandas or the
        filter-aware cogroup — no scoring kernel at all) straight into an
        ordered limit; filter-only queries skip the postings entirely and
        page doc_meta. Driver-resident indexes answer without a job.
        """
        self._validate_filters(filters)
        if filters_impossible(filters):
            return self._empty_result(with_meta, as_pdf=as_pandas)
        bs = float(boost)

        def _page_ids_pdf(ids: np.ndarray):
            ids = np.sort(ids)[offset : offset + k]
            return pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "score": np.full(ids.size, bs, dtype=np.float64),
            })

        if query is not None:
            qterms, dfs = self._match_terms(query, mode)
            if not qterms:
                return self._empty_result(with_meta, as_pdf=as_pandas)
            src = self._driver_source(dfs, filters)
            if src is not None:
                ids = self._driver_ids_meta(src, filters, qterms, mode)
                return self._attach_meta(
                    _page_ids_pdf(ids["doc_id"].to_numpy()), with_meta,
                    as_pandas, src,
                )
            matched = self._matched_ids_frame(qterms, mode, [], filters)
        else:
            # filter-only: a source that can enumerate the live matching
            # ids (the resident one) pages them without a job
            src = self._driver_source({}, filters)
            ids = None if src is None else src.allowed(filters or {})
            if ids is not None:
                return self._attach_meta(
                    _page_ids_pdf(ids), with_meta, as_pandas, src
                )
            matched = self._live_meta(filters).select("doc_id")
        topk_pdf = (
            matched.orderBy(F.asc("doc_id"))
            .limit(offset + k)
            .toPandas()
            .iloc[offset : offset + k]
            .assign(score=bs)
        )
        return self._attach_meta(topk_pdf, with_meta, as_pandas)

    def search_boosting(
        self,
        positive: str,
        negative: str,
        negative_boost: float = 0.5,
        k: int = 10,
        offset: int = 0,
        filters: dict | None = None,
        mode: str = "and",
        with_meta: bool = True,
        as_pandas: bool = False,
    ):
        """ES ``boosting`` query: docs matching the ``positive`` query
        rank by BM25, but any doc ALSO matching the ``negative`` query
        (OR semantics over its analyzed terms, like an ES match clause)
        has its score multiplied by ``negative_boost`` in (0, 1] —
        demotion without exclusion, the middle ground between ``should``
        and ``must_not``.

        Demotion can promote any lower-scored doc into the page, so the
        positive side scores its FULL match set (topn=None) exactly like
        the composite-sort and phrase paths; the negative side is the
        k-free matched-id frame (one pass over the negative terms'
        postings, OR match — never content). Distributed plan: scored
        frame LEFT-joins the demotion set (broadcast — it is an id list),
        multiplies, then TakeOrderedAndProject. Driver-resident indexes
        answer without a Spark job.
        """
        if not 0.0 < negative_boost <= 1.0:
            raise ValueError("negative_boost must be in (0, 1]")
        self._validate_filters(filters)
        if filters_impossible(filters):
            return self._empty_result(with_meta, as_pdf=as_pandas)
        qterms, dfs = self._match_terms(positive, mode)
        if not qterms:
            return self._empty_result(with_meta, as_pdf=as_pandas)
        nts = list(dict.fromkeys(analyze_query(negative, self.analyzer)))
        ndfs = self._term_dfs(nts)
        nterms = [t for t in nts if ndfs[t] > 0]
        if not nterms:
            # nothing to demote -> plain search, same paging
            return self.search(
                positive, k=k, offset=offset, filters=filters, mode=mode,
                with_meta=with_meta, as_pandas=as_pandas,
            )
        idf = {t: self._idf(dfs[t]) for t in qterms}
        fn = K.score_and if mode == "and" else K.score_or
        src = self._driver_source({**ndfs, **dfs}, filters)
        if src is not None:
            blocks, allowed, excluded, post = self._driver_fetch(
                src, filters, qterms + nterms
            )
            r = fn(
                blocks[blocks["term"].isin(qterms)], qterms, idf,
                self.avgdl, self.bm25.k1, self.bm25.b, None,
                allowed=allowed, excluded=excluded,
            )
            if post:
                r = self._meta_for(r, src, (), filters)[["doc_id", "score"]]
            demoted = r["doc_id"].isin(K.match_ids(
                blocks[blocks["term"].isin(nterms)], nterms, "or"
            ))
            r = r.assign(
                score=np.where(
                    demoted, r["score"] * negative_boost, r["score"]
                )
            )
            return self._attach_meta(
                _by_score(r).iloc[offset : offset + k], with_meta, as_pandas,
                src,
            )

        params = dict(
            qterms=qterms, idf=idf, avgdl=self.avgdl,
            k1=self.bm25.k1, b=self.bm25.b, topn=None,
        )
        blocks = self.postings.filter(F.col("term").isin(qterms))
        scored = self._scored_frame(blocks, fn, params, filters)
        neg = self._matched_ids_frame(nterms, "or", [], None).withColumn(
            "_neg", F.lit(True)
        )
        out = (
            scored.join(F.broadcast(neg), "doc_id", "left")
            .select(
                "doc_id",
                F.when(
                    F.col("_neg"),
                    F.col("score") * F.lit(float(negative_boost)),
                ).otherwise(F.col("score")).alias("score"),
            )
        )
        topk_pdf = (
            out.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(offset + k)
            .toPandas()
            .iloc[offset : offset + k]
        )
        return self._attach_meta(topk_pdf, with_meta, as_pandas)

    def search_many(
        self,
        queries: dict[str, str] | list[str],
        k: int = 10,
        mode: str = "and",
        filters: dict | None = None,
    ) -> DataFrame:
        """Batched search: many queries in ONE pass over the postings —
        the reference's OSM enrichment join issues a top-1 search per
        incoming row (J4, osmService.go:161-223); here the whole query batch
        is a DataFrame-to-DataFrame join with the index. Returns
        (query, doc_id, score, rank), rank 1..k per query."""
        from pyspark.sql import Window

        self._validate_filters(filters)

        qmap = (
            {q: q for q in queries}
            if not isinstance(queries, dict)
            else dict(queries)
        )
        analyzed = {
            qid: analyze_query(text, self.analyzer)
            for qid, text in qmap.items()
        }
        all_terms = sorted({t for ts in analyzed.values() for t in ts})
        if not all_terms:
            return self.spark.createDataFrame(
                [], "query string, doc_id long, score double, rank int"
            ).limit(0)
        dfs = self._term_dfs(all_terms)
        plans: dict[str, tuple[list[str], dict[str, float]]] = {}
        for qid, ts in analyzed.items():
            if mode == "and":
                if not ts or any(dfs[t] == 0 for t in ts):
                    continue
                terms = ts
            else:
                terms = [t for t in ts if dfs[t] > 0]
                if not terms:
                    continue
            plans[qid] = (terms, {t: self._idf(dfs[t]) for t in terms})
        if not plans:
            return self.spark.createDataFrame(
                [], "query string, doc_id long, score double, rank int"
            ).limit(0)
        union_terms = sorted({t for ts, _ in plans.values() for t in ts})
        avgdl, k1, b = self.avgdl, self.bm25.k1, self.bm25.b
        fn = K.score_and if mode == "and" else K.score_or
        batch_schema = "query string, doc_id long, score double"

        def score_plans(blocks_pdf, allowed, excluded, topn=k):
            outs = []
            for qid, (terms, idf) in plans.items():
                r = fn(
                    blocks_pdf[blocks_pdf["term"].isin(terms)],
                    terms, idf, avgdl, k1, b, topn,
                    allowed=allowed, excluded=excluded,
                )
                if len(r):
                    # all-matches rows (topn=None) arrive in doc order
                    r = (r if topn is not None else _by_score(r)).copy()
                    r["query"] = qid
                    outs.append(r)
            if not outs:
                return pd.DataFrame(
                    {
                        "query": pd.Series(dtype="object"),
                        "doc_id": pd.Series(dtype="int64"),
                        "score": pd.Series(dtype="float64"),
                    }
                )
            return pd.concat(outs)[["query", "doc_id", "score"]]

        src = self._driver_source({t: dfs[t] for t in union_terms}, filters)
        if src is not None:
            blocks, allowed, excluded, post = self._driver_fetch(
                src, filters, union_terms
            )
            r = score_plans(blocks, allowed, excluded, None if post else k)
            if post:
                # ONE meta read for the whole batch's candidates; rows stay
                # per-query contiguous and rank-sorted, so head(k) is top-k
                r = self._meta_for(r, src, (), filters).groupby(
                    "query", sort=False
                ).head(k)[["query", "doc_id", "score"]]
            if len(r) == 0:
                return self.spark.createDataFrame(
                    [], "query string, doc_id long, score double, rank int"
                ).limit(0)
            # each query's rows leave the kernel already sorted by
            # (score desc, doc_id asc) — the Window ordering of the
            # distributed path — so rank is positional per query
            r = r.reset_index(drop=True)
            r["rank"] = (r.groupby("query").cumcount() + 1).astype("int32")
            return self._pdf_df(
                r, "query string, doc_id long, score double, rank int"
            )
        scored = self._per_partition(
            self.postings.filter(F.col("term").isin(union_terms)), filters,
            score_plans, batch_schema,
        )
        w = Window.partitionBy("query").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    def _live_meta(self, filters: dict | None, *not_null: str) -> DataFrame:
        """doc_meta rows of the live docs passing ``filters`` whose
        ``not_null`` fields are set (ES missing-bucket semantics) — the
        filter-only plans; filters push down to the doc_meta scan."""
        df = self.doc_meta
        for f in not_null:
            df = df.filter(F.col(f).isNotNull())
        cond = compile_filters(filters)
        if cond is not None:
            df = df.filter(cond)
        if self._tombstones is not None:
            df = df.join(
                self._tombstones.select("doc_id"), "doc_id", "left_anti"
            )
        return df

    def _right_side(self, filters: dict | None, attrs=()):
        """The cogroup right side for ``_per_partition``: the live
        doc_ids passing the filters, carrying ``attrs`` ("allowed"); else
        the tombstoned doc_ids ("excluded"); else None."""
        if compile_filters(filters) is not None or attrs:
            allowed = self._live_meta(filters)
            return allowed.select("doc_part", "doc_id", *attrs), "allowed"
        if self._tombstones is not None:
            from gofias_spark.config import RANK_BITS

            tomb = self._tombstones.select("doc_id").withColumn(
                "doc_part",
                F.shiftright(F.col("doc_id"), RANK_BITS).cast("long"),
            )
            return tomb.select("doc_part", "doc_id"), "excluded"
        return None, "none"

    def _empty_result(self, with_meta: bool, sort_by=None, as_pdf=False):
        if sort_by:
            attrs, pd_cols, asc, _ = self._sort_spec(sort_by)
            return self._finish_sorted(
                pd.DataFrame(), attrs, with_meta, pd_cols, asc, as_pdf
            )
        if as_pdf:
            return pd.DataFrame(
                columns=self.DISPLAY_COLS if with_meta
                else ["doc_id", "score"]
            )
        schema = DISPLAY_SCHEMA if with_meta else RESULT_SCHEMA
        # .limit(0) folds to an empty LocalRelation (OptimizeLimitZero):
        # collect() is then driver-side, vs the 1-task-per-default-parallelism
        # job an RDD-backed empty frame schedules on EVERY collect
        return self.spark.createDataFrame([], schema=schema).limit(0)

    def facets(
        self,
        field: str,
        query: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
        k: int = 10,
    ) -> pd.DataFrame:
        """ES-style terms aggregation over matching docs: top-``k``
        ``(field value, count)`` pairs ordered by count desc, value asc.
        The reference's search surface is Elasticsearch, whose every search
        carries an optional terms-agg sidecar; gofias itself leans on ES
        counts (client.go:151-162) — this is the grouped generalization.
        Docs with a null ``field`` are not counted (ES missing-bucket
        semantics). Returns a pandas frame ``[field, 'cnt']`` — facet
        results are k rows, never a distributed payload.

        Tiering mirrors count(): driver-local kernel, term-pruned serve
        read + meta sidecar, or the co-partitioned cogroup where each
        doc_part emits PARTIAL (value, count) rows — map-side combine, so
        the only shuffle is #values x #partitions tiny rows."""
        if field in ("doc_id", "doc_part") or field not in self.doc_meta.columns:
            raise ValueError(f"unknown facet field {field!r}")
        return self._agg_buckets(field, query, mode, filters, k, None, None)

    def histogram(
        self,
        field: str,
        interval: float,
        query: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
        max_buckets: int = 65_536,
    ) -> pd.DataFrame:
        """ES-style histogram aggregation over matching docs: counts per
        fixed-width numeric bucket ``floor(value/interval)*interval``,
        ordered by bucket key asc. Empty buckets are omitted (ES
        min_doc_count=1 semantics — at scale, filling a sparse key range
        with zero rows driver-side is the caller's one-liner, not a
        distributed concern). ``max_buckets`` mirrors ES
        search.max_buckets: a too-fine interval over a wide value range
        fails loudly instead of materializing millions of buckets.
        Returns a pandas frame ``['bucket', 'cnt']`` with float64 keys.

        Same plan as facets(): the bucket key is a pure
        function of the field value, so it derives per-partition and the
        only shuffle is the #buckets x #partitions partial counts."""
        if field in ("doc_id", "doc_part") or field not in self.doc_meta.columns:
            raise ValueError(f"unknown histogram field {field!r}")
        dtype = self.doc_meta.schema[field].dataType.simpleString()
        if dtype not in ("int", "bigint", "smallint", "tinyint", "float",
                         "double", "decimal"):
            raise ValueError(
                f"histogram field {field!r} is {dtype}, not numeric"
            )
        if not interval or interval <= 0:
            raise ValueError("interval must be > 0")
        return self._agg_buckets(
            field, query, mode, filters, None, float(interval), max_buckets
        )

    def _require_numeric_field(self, field: str, op: str) -> None:
        if field in ("doc_id", "doc_part") or \
                field not in self.doc_meta.columns:
            raise ValueError(f"unknown field {field!r}")
        dtype = self.doc_meta.schema[field].dataType.simpleString()
        if dtype not in ("int", "bigint", "smallint", "tinyint", "float",
                         "double", "decimal"):
            raise ValueError(f"{op} field {field!r} is {dtype}, not numeric")

    def _matched_value_counts(
        self, field: str, query: str | None, mode: str,
        filters: dict | None,
    ) -> pd.DataFrame:
        """Complete ``(value, cnt)`` table of ``field`` over the docs
        matching the query+filters — the shared statistic behind
        cardinality / percentiles / range_agg. Same plan as
        facets (k=None = no top-k cut); the distributed path shuffles only
        per-partition partial counts (#distinct values x #partitions),
        never the matched docs themselves."""
        if field in ("doc_id", "doc_part") or field not in self.doc_meta.columns:
            raise ValueError(f"unknown field {field!r}")
        return self._agg_buckets(field, query, mode, filters, None, None,
                                 None)

    def cardinality(
        self,
        field: str,
        query: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
        exact: bool = True,
        rsd: float = 0.05,
    ) -> int:
        """ES cardinality-aggregation analogue: number of distinct
        ``field`` values among matching docs (nulls excluded, like ES
        missing-bucket semantics).

        ``exact=True`` (default) counts from the grouped value table —
        the group-by is map-side-combinable, so the shuffle is bounded by
        distinct values x partitions. ES itself is always approximate
        (HLL++); ``exact=False`` mirrors that with Spark's
        ``approx_count_distinct`` (HLL++, relative error ``rsd``) — at
        scale the sketches combine without materializing the value table
        at all, which is the right plan when distinct values are huge
        (e.g. cardinality of ``sha256``). The driver tiers (local/serve)
        are exact either way: the values are already in hand."""
        if not exact:
            # approximate: HLL++ over the live, filter-surviving field
            # column. query=None only (the matched-docs variant would need
            # the sketch inside the cogroup kernel; the exact path already
            # bounds that case by distinct-values, not docs).
            if query is not None:
                raise ValueError(
                    "exact=False supports query=None (corpus-wide) "
                    "cardinality; query-scoped cardinality is exact"
                )
            hll = F.approx_count_distinct(field, rsd)
            return int(
                self._live_meta(filters, field).agg(hll).collect()[0][0]
            )
        return int(len(self._matched_value_counts(field, query, mode,
                                                  filters)))

    def percentiles(
        self,
        field: str,
        ps: tuple[float, ...] = (25.0, 50.0, 75.0, 95.0, 99.0),
        query: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
    ) -> dict[float, float]:
        """ES percentiles-aggregation analogue over a numeric field of the
        matching docs. ES computes t-digest approximations; this computes
        EXACT linear-interpolation quantiles (numpy 'linear' == DuckDB
        ``quantile_cont``) from the grouped value-count table — weighted
        interpolation over (value, cnt) rows, so the driver never holds
        the per-doc values, only the distinct ones. Returns {p: value};
        empty match -> {p: None}."""
        self._require_numeric_field(field, "percentiles")
        for p in ps:
            if not 0.0 <= p <= 100.0:
                raise ValueError(f"percentile {p} outside [0, 100]")
        vc = self._matched_value_counts(field, query, mode, filters)
        if not len(vc):
            return {float(p): None for p in ps}
        vals = vc[field].to_numpy(dtype=np.float64)
        cnts = vc["cnt"].to_numpy(dtype=np.int64)
        return {
            float(p): v
            for p, v in zip(ps, _weighted_quantiles(vals, cnts, ps))
        }

    def percentile_ranks(
        self,
        field: str,
        values: list[float],
        query: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
    ) -> dict[float, float | None]:
        """ES ``percentile_ranks`` aggregation (the inverse of
        percentiles): for each given value, the percentage of matching
        docs whose ``field`` is <= it. ES interpolates t-digest
        centroids; over the exact (value, cnt) table this is the exact
        inclusive empirical CDF — same single grouped-value-count plan
        as percentiles, nothing extra. Returns {value: rank_pct} (None
        on an empty match)."""
        self._require_numeric_field(field, "percentile_ranks")
        if not values:
            raise ValueError("values must be non-empty")
        vc = self._matched_value_counts(field, query, mode, filters)
        if not len(vc):
            return {float(v): None for v in values}
        vals = vc[field].to_numpy(dtype=np.float64)
        cnts = vc["cnt"].to_numpy(dtype=np.int64)
        order = np.argsort(vals, kind="mergesort")
        vals, cnts = vals[order], cnts[order]
        cum = np.cumsum(cnts)
        n = int(cum[-1])
        out: dict[float, float | None] = {}
        for v in values:
            i = int(np.searchsorted(vals, float(v), side="right"))
            le = int(cum[i - 1]) if i > 0 else 0
            out[float(v)] = round(100.0 * le / n, 6)
        return out

    def mad(
        self,
        field: str,
        query: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
    ) -> float | None:
        """ES ``median_absolute_deviation`` aggregation: the weighted
        median of |value - median| over the matching docs. ES computes it
        on t-digest sketches (approximate); here both medians are exact
        linear-interpolation quantiles over the grouped (value, cnt)
        table (numpy 'linear' == DuckDB quantile_cont), re-grouping the
        absolute deviations WITHOUT expanding counts — still
        distinct-values-sized on the driver."""
        self._require_numeric_field(field, "mad")
        vc = self._matched_value_counts(field, query, mode, filters)
        if not len(vc):
            return None
        vals = vc[field].to_numpy(dtype=np.float64)
        cnts = vc["cnt"].to_numpy(dtype=np.int64)
        med = _weighted_quantiles(vals, cnts, (50.0,))[0]
        dev = np.abs(vals - med)
        # merge equal deviations (v above and below the median can land
        # on the same |dev|) so the helper's cumsum ranks stay correct
        uniq, inv = np.unique(dev, return_inverse=True)
        dcnt = np.zeros(uniq.size, dtype=np.int64)
        np.add.at(dcnt, inv, cnts)
        return round(_weighted_quantiles(uniq, dcnt, (50.0,))[0], 6)

    def range_agg(
        self,
        field: str,
        ranges: list[tuple[float | None, float | None]],
        query: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
    ) -> pd.DataFrame:
        """ES range-aggregation analogue: doc counts per user-defined
        ``[from, to)`` range (ES's from-inclusive / to-exclusive contract;
        None = open end; ranges may overlap — each is counted
        independently, exactly like ES). Returns ``['range', 'cnt']``
        with ES-style keys ``"from-to"`` / ``"*-to"`` / ``"from-*"``, in
        the order given. Derived from the same grouped value-count table
        as percentiles — no per-range jobs."""
        if not ranges:
            raise ValueError("ranges must be non-empty")
        self._require_numeric_field(field, "range_agg")
        vc = self._matched_value_counts(field, query, mode, filters)
        vals = vc[field].to_numpy(dtype=np.float64) if len(vc) else \
            np.empty(0, dtype=np.float64)
        cnts = vc["cnt"].to_numpy(dtype=np.int64) if len(vc) else \
            np.empty(0, dtype=np.int64)
        keys, out = [], []
        for lo, hi in ranges:
            m = np.ones(vals.size, dtype=bool)
            if lo is not None:
                m &= vals >= lo
            if hi is not None:
                m &= vals < hi
            keys.append(
                f"{'*' if lo is None else float(lo)}-"
                f"{'*' if hi is None else float(hi)}"
            )
            out.append(int(cnts[m].sum()))
        return pd.DataFrame({"range": keys, "cnt": pd.array(out,
                                                            dtype="int64")})

    def rare_terms(
        self,
        field: str,
        query: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
        max_doc_count: int = 1,
        max_buckets: int = 10_000,
    ) -> pd.DataFrame:
        """ES ``rare_terms`` aggregation: the long-tail inverse of a terms
        agg — field values appearing in at most ``max_doc_count`` matching
        docs, ordered count asc then value asc (rarest first), capped at
        ``max_buckets``. ES implements this with a CuckooFilter sketch and
        documents it as approximate; over the engine's exact
        ``(value, cnt)`` table it is exact — same plan as
        facets/cardinality, shuffling only #values x #partitions partial
        counts, so exactness costs nothing extra here.

        Returns a pandas frame ``[field, 'cnt']``.
        """
        if max_doc_count < 1:
            raise ValueError("max_doc_count must be >= 1")
        vc = self._matched_value_counts(field, query, mode, filters)
        sub = vc[vc["cnt"] <= max_doc_count]
        return (
            sub.sort_values([
                "cnt", field
            ], ascending=[True, True], kind="mergesort")
            .head(max_buckets)
            .reset_index(drop=True)
        )

    def sampler_facets(
        self,
        field: str,
        query: str,
        *,
        shard_size: int = 100,
        k: int = 10,
        diversify_field: str | None = None,
        max_docs_per_value: int = 1,
        mode: str = "and",
        filters: dict | None = None,
    ) -> pd.DataFrame:
        """ES ``sampler`` / ``diversified_sampler`` + terms
        sub-aggregation: facet counts of ``field`` over ONLY the
        ``shard_size`` best-scoring matches — the standard trick for
        focusing an aggregation on relevant docs instead of the long
        tail of weak matches. With ``diversify_field``, at most
        ``max_docs_per_value`` docs per distinct value of that field
        make the sample (taken in score order), so one dominant
        source/repo can't monopolize it; docs with a null diversify
        value are skipped (ES missing semantics). Returns
        ``[field, 'cnt']``, cnt desc then value asc, top-``k``.

        Scale shape: the sample is score-bounded (``shard_size`` capped
        at 10k), so the plan is the engine's standard budgeted top-N
        (serve/local/distributed tiers apply unchanged) plus ONE pruned
        meta lookup of sample_size ids — the aggregation itself is
        driver-side over <= shard_size rows, never corpus-shaped."""
        for f in (field, diversify_field):
            if f is not None and (
                f in ("doc_id", "doc_part")
                or f not in self.doc_meta.columns
            ):
                raise ValueError(f"unknown field {f!r}")
        if not 1 <= shard_size <= 10_000:
            raise ValueError("shard_size must be in [1, 10000]")
        if k < 1 or max_docs_per_value < 1:
            raise ValueError("k and max_docs_per_value must be >= 1")
        empty = pd.DataFrame(
            {field: pd.Series(dtype=object),
             "cnt": pd.Series(dtype="int64")}
        )
        top = self.search(
            query, k=shard_size, mode=mode, filters=filters,
            with_meta=False, as_pandas=True,
        )
        if not len(top):
            return empty
        need = [field]
        if diversify_field and diversify_field != field:
            need.append(diversify_field)
        sub = self._lookup_meta(top["doc_id"], need)
        pdf = _by_score(top.merge(sub, on="doc_id", how="left"))
        if diversify_field:
            pdf = pdf[pdf[diversify_field].notna()]
            pdf = pdf.groupby(diversify_field, sort=False).head(
                max_docs_per_value
            )
        pdf = pdf[pdf[field].notna()]
        if not len(pdf):
            return empty
        g = pdf.groupby(field, sort=False).size().reset_index(name="cnt")
        g["cnt"] = g["cnt"].astype("int64")
        return (
            g.sort_values([
                "cnt", field
            ], ascending=[False, True], kind="mergesort")
            .head(k)
            .reset_index(drop=True)
        )

    def multi_terms(
        self,
        fields: list[str],
        query: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
        k: int = 10,
    ) -> pd.DataFrame:
        """ES ``multi_terms`` aggregation: terms buckets keyed by the
        COMPOSITE of several doc attributes, top-``k`` by matching-doc
        count (cnt desc, then field values asc). A doc contributes only
        when every key field is non-null (ES multi_terms missing
        semantics). Returns ``[*fields, 'cnt']``.

        Tiers: resident driver-side searcher (zero jobs) -> no-query JVM
        groupBy over doc_meta (map-side combined, shuffle = #buckets x
        #partitions partials) -> distributed match: the k-free matched-id
        frame from the postings cogroup joins doc_meta and feeds the same
        combinable groupBy — matched ids shuffle once, content never.
        """
        if len(fields) < 2:
            raise ValueError("multi_terms needs >= 2 fields (use facets "
                             "for a single field)")
        if len(set(fields)) != len(fields):
            raise ValueError("multi_terms fields must be distinct")
        for f in fields:
            if f in ("doc_id", "doc_part") or f not in self.doc_meta.columns:
                raise ValueError(f"unknown field {f!r}")
        self._validate_filters(filters)
        empty = pd.DataFrame(
            {**{f: pd.Series(dtype=object) for f in fields},
             "cnt": pd.Series(dtype="int64")}
        )
        if filters_impossible(filters):
            return empty

        def _finish_pdf(sub: pd.DataFrame) -> pd.DataFrame:
            sub = sub.dropna(subset=list(fields))
            if not len(sub):
                return empty
            g = (
                sub.groupby(list(fields), sort=False)
                .size()
                .reset_index(name="cnt")
            )
            g = g.sort_values(
                ["cnt", *fields],
                ascending=[False] + [True] * len(fields),
                kind="mergesort",
            ).head(k)
            g["cnt"] = g["cnt"].astype("int64")
            return g.reset_index(drop=True)

        if query is None:
            grouped = (
                self._live_meta(filters, *fields).groupBy(*fields)
                .agg(F.count(F.lit(1)).alias("cnt"))
                .orderBy(F.desc("cnt"), *[F.asc(f) for f in fields])
                .limit(k)
            )
            return grouped.toPandas()

        qterms, dfs = self._match_terms(query, mode)
        if not qterms:
            return empty

        src = self._driver_source(dfs, filters, fields)
        if src is not None:
            return _finish_pdf(
                self._driver_ids_meta(src, filters, qterms, mode, fields)
            )

        matched = self._matched_ids_frame(qterms, mode, [], filters)
        df = self.doc_meta.join(matched, "doc_id")
        for f in fields:
            df = df.filter(F.col(f).isNotNull())
        grouped = (
            df.groupBy(*fields)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), *[F.asc(f) for f in fields])
            .limit(k)
        )
        return grouped.toPandas()

    def top_hits(
        self,
        group_field: str,
        query: str,
        k_per_group: int = 3,
        *,
        groups: int = 10,
        mode: str = "and",
        filters: dict | None = None,
    ) -> pd.DataFrame:
        """ES terms-agg + top_hits sub-aggregation (k_per_group=1 is ES
        field collapsing): for the top-``groups`` values of
        ``group_field`` by matching-doc count, the ``k_per_group``
        best-scored hits. Returns ``[group_field, 'cnt', 'doc_id',
        'score']`` — groups ordered by (cnt desc, value asc), hits within
        a group by (score desc, doc_id asc); ``cnt`` is the group's TOTAL
        match count (ES bucket doc_count), repeated per hit row. Docs with
        a null group value are omitted (ES missing bucket).

        One job on every tier: the distributed cogroup kernel scores its
        partition's matches exactly (topn=None — group membership can't be
        relevance-pruned), then emits per-group partial top-k rows PLUS a
        count summary row (doc_id=-1) per group; the driver merges
        (k_per_group+1) x groups-per-partition x partitions tiny rows —
        never the matched docs."""
        if group_field in ("doc_id", "doc_part") or \
                group_field not in self.doc_meta.columns:
            raise ValueError(f"unknown field {group_field!r}")
        if k_per_group < 1 or groups < 1:
            raise ValueError("k_per_group and groups must be >= 1")
        self._validate_filters(filters)
        empty = pd.DataFrame({
            group_field: pd.Series(dtype=object),
            "cnt": pd.Series(dtype="int64"),
            "doc_id": pd.Series(dtype="int64"),
            "score": pd.Series(dtype="float64"),
        })
        if filters_impossible(filters):
            return empty
        qterms, dfs = self._match_terms(query, mode)
        if not qterms:
            return empty
        idf = {t: self._idf(dfs[t]) for t in qterms}
        params = dict(qterms=qterms, idf=idf, avgdl=self.avgdl,
                      k1=self.bm25.k1, b=self.bm25.b, topn=None)
        fn = K.score_and if mode == "and" else K.score_or
        gf, kpg = group_field, k_per_group

        def _finish(scored: pd.DataFrame) -> pd.DataFrame:
            """Driver-side merge: rows with doc_id=-1 carry partial group
            counts; the rest are per-partition top-k candidates."""
            if not len(scored):
                return empty
            is_cnt = scored["doc_id"] < 0
            counts = (
                scored[is_cnt].groupby(gf, sort=False)["cnt"].sum()
            )
            # cnt desc, value asc (stable mergesort over value-asc order)
            top_groups = counts.loc[
                sorted(counts.index)
            ].sort_values(ascending=False, kind="mergesort").head(groups)
            hits = scored[~is_cnt & scored[gf].isin(top_groups.index)]
            hits = _by_score(hits).groupby(gf, sort=False).head(kpg)
            hits = hits.assign(cnt=hits[gf].map(top_groups).astype("int64"))
            order = {g: i for i, g in enumerate(top_groups.index)}
            hits = hits.assign(_g=hits[gf].map(order)).sort_values(
                ["_g", "score", "doc_id"], ascending=[True, False, True],
                kind="mergesort",
            )
            return hits[[gf, "cnt", "doc_id", "score"]].reset_index(
                drop=True
            )

        def _partials(pdf: pd.DataFrame) -> pd.DataFrame:
            """(group, cnt, doc_id, score) partial rows for one partition:
            per-group top-k (cnt=0) + one count row per group (doc_id=-1)."""
            pdf = pdf.dropna(subset=[gf])
            if not len(pdf):
                return pdf.assign(cnt=pd.Series(dtype="int64"))[
                    [gf, "cnt", "doc_id", "score"]
                ]
            cnts = pdf.groupby(gf, sort=False).size()
            top = _by_score(pdf).groupby(gf, sort=False).head(kpg)
            top = top.assign(cnt=0)
            summary = pd.DataFrame({
                gf: cnts.index, "cnt": cnts.values,
                "doc_id": -1, "score": 0.0,
            })
            out = pd.concat([top[[gf, "cnt", "doc_id", "score"]], summary],
                            ignore_index=True)
            out["cnt"] = out["cnt"].astype("int64")
            return out

        src = self._driver_source(dfs, filters, [gf])
        if src is not None:
            blocks, allowed, excluded, post = self._driver_fetch(
                src, filters, qterms
            )
            r = fn(blocks, allowed=allowed, excluded=excluded, **params)
            return _finish(_partials(
                self._meta_for(r, src, [gf], filters if post else None)
            ))

        gtype = self.doc_meta.schema[gf].dataType.simpleString()

        def body(pdf, allowed, excluded, meta):
            r = fn(pdf, allowed=allowed, excluded=excluded, **params)
            return _partials(r.merge(meta, on="doc_id", how="left"))

        partials = self._per_partition(
            self.postings.filter(F.col("term").isin(qterms)), filters, body,
            f"`{gf}` {gtype}, cnt long, doc_id long, score double", [gf],
        )
        return _finish(partials.toPandas())

    def terms_stats(
        self,
        group_field: str,
        metric_field: str,
        query: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
        k: int = 10,
    ) -> pd.DataFrame:
        """ES terms aggregation with a nested *stats* sub-aggregation: for
        the top-``k`` values of ``group_field`` by matching-doc count, the
        ``{count, min, max, avg, sum}`` of ``metric_field`` inside the
        bucket. Returns ``[group_field, cnt, vc, min, max, avg, sum]`` —
        buckets ordered (cnt desc, value asc); ``cnt`` is the bucket's doc
        count (ES doc_count, docs with a non-null group value), ``vc`` the
        metric's value count (nulls ignored, ES missing semantics; min/max/
        avg are NaN when vc=0). Same tiering as facets; the distributed
        path's cogroup kernel emits ONE partial stats row per (partition,
        value) — map-side combined, so the shuffle carries #values x
        #partitions scalar rows, never matched docs."""
        if group_field in ("doc_id", "doc_part") or \
                group_field not in self.doc_meta.columns:
            raise ValueError(f"unknown field {group_field!r}")
        self._require_numeric_field(metric_field, "terms_stats metric")
        if group_field == metric_field:
            raise ValueError("group and metric fields must differ")
        self._validate_filters(filters)
        gf, mf = group_field, metric_field
        empty = pd.DataFrame({
            gf: pd.Series(dtype=object),
            "cnt": pd.Series(dtype="int64"),
            "vc": pd.Series(dtype="int64"),
            "min": pd.Series(dtype="float64"),
            "max": pd.Series(dtype="float64"),
            "avg": pd.Series(dtype="float64"),
            "sum": pd.Series(dtype="float64"),
        })
        if filters_impossible(filters):
            return empty

        def _partials(pdf: pd.DataFrame) -> pd.DataFrame:
            """(value, c, vc, mn, mx, sm) per group value of one pandas
            chunk (a partition's matches, or the whole driver-side set)."""
            pdf = pdf.dropna(subset=[gf])
            if not len(pdf):
                return pd.DataFrame({
                    "value": [], "c": [], "vc": [], "mn": [], "mx": [],
                    "sm": [],
                })
            m = pd.to_numeric(pdf[mf], errors="coerce").astype("float64")
            g = pdf.assign(_m=m).groupby(gf, sort=False)["_m"]
            out = g.agg(c="size", vc="count", mn="min", mx="max", sm="sum")
            return out.reset_index().rename(columns={gf: "value"})

        def _finish(partials: pd.DataFrame) -> pd.DataFrame:
            if not len(partials):
                return empty
            agg = partials.groupby("value", sort=False).agg(
                cnt=("c", "sum"), vc=("vc", "sum"), mn=("mn", "min"),
                mx=("mx", "max"), sm=("sm", "sum"),
            ).reset_index()
            agg = agg.sort_values(
                ["cnt", "value"], ascending=[False, True],
                kind="mergesort",
            ).head(k)
            out = pd.DataFrame({
                gf: agg["value"].to_numpy(),
                "cnt": agg["cnt"].astype("int64").to_numpy(),
                "vc": agg["vc"].astype("int64").to_numpy(),
                "min": agg["mn"].to_numpy(dtype="float64"),
                "max": agg["mx"].to_numpy(dtype="float64"),
                "sum": agg["sm"].to_numpy(dtype="float64"),
            })
            vc = out["vc"].to_numpy()
            out["avg"] = np.where(
                vc > 0, out["sum"].to_numpy() / np.maximum(vc, 1), np.nan
            )
            # 0-value buckets: ES reports sum 0, min/max/avg null
            out.loc[out["vc"] == 0, ["min", "max"]] = np.nan
            return out[[gf, "cnt", "vc", "min", "max", "avg", "sum"]] \
                .reset_index(drop=True)

        if query is None:
            grouped = self._live_meta(filters, gf).groupBy(gf).agg(
                F.count(F.lit(1)).alias("c"),
                F.count(mf).alias("vc"),
                F.min(mf).cast("double").alias("mn"),
                F.max(mf).cast("double").alias("mx"),
                F.sum(mf).cast("double").alias("sm"),
            ).orderBy(F.desc("c"), F.asc(gf)).limit(k)
            return _finish(
                grouped.toPandas().rename(columns={gf: "value"})
            )

        qterms, dfs = self._match_terms(query, mode)
        if not qterms:
            return empty

        src = self._driver_source(dfs, filters, [gf, mf])
        if src is not None:
            return _finish(_partials(
                self._driver_ids_meta(src, filters, qterms, mode, [gf, mf])
            ))

        vtype = self.doc_meta.schema[gf].dataType.simpleString()

        def body(pdf, allowed, excluded, meta):
            ids = K.match_ids(pdf, qterms, mode, allowed=allowed,
                              excluded=excluded)
            return _partials(meta[meta["doc_id"].isin(ids)]).astype(
                {"c": "int64", "vc": "int64"}
            )

        partials = self._per_partition(
            self.postings.filter(F.col("term").isin(qterms)), filters, body,
            f"value {vtype}, c long, vc long, mn double, mx double, sm double",
            [gf, mf],
        )
        # combine + top-k in Spark (map-side partial agg), finish driver-side
        combined = partials.groupBy("value").agg(
            F.sum("c").alias("c"), F.sum("vc").alias("vc"),
            F.min("mn").alias("mn"), F.max("mx").alias("mx"),
            F.sum("sm").alias("sm"),
        ).orderBy(F.desc("c"), F.asc("value")).limit(k)
        return _finish(combined.toPandas())

    def composite_agg(
        self,
        field: str,
        size: int = 10,
        after=None,
        query: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
    ) -> pd.DataFrame:
        """ES *composite* aggregation (after-key bucket paging): the first
        ``size`` ``(value, cnt)`` buckets of ``field`` with value > ``after``
        in ascending value order — the cursor-paging counterpart of facets,
        for walking ALL buckets of a high-cardinality field without a
        result-window cap. Resume by passing the last value of the previous
        page as ``after`` (the after_key).

        Unfiltered tier is fully pushed down: value > after prunes the
        scan, groupBy + orderBy(value).limit(size) plans with map-side
        partial aggregation and a TakeOrdered cut. Query tiers reuse the
        matched-value-count machinery; the after/size slice applies to the
        (value, cnt) table, which is #distinct-values sized — the same
        envelope ES's own composite agg pays per page."""
        if field in ("doc_id", "doc_part") or \
                field not in self.doc_meta.columns:
            raise ValueError(f"unknown field {field!r}")
        if size < 1:
            raise ValueError("size must be >= 1")
        if query is None:
            self._validate_filters(filters)
            empty = pd.DataFrame({
                field: pd.Series(dtype=object),
                "cnt": pd.Series(dtype="int64"),
            })
            if filters_impossible(filters):
                return empty
            df = self._live_meta(filters, field)
            if after is not None:
                df = df.filter(F.col(field) > F.lit(after))
            out = (
                df.groupBy(field).agg(F.count(F.lit(1)).alias("cnt"))
                .orderBy(F.asc(field)).limit(size)
                .toPandas()
            )
            out["cnt"] = out["cnt"].astype("int64")
            return out
        vc = self._matched_value_counts(field, query, mode, filters)
        if after is not None:
            vc = vc[vc[field] > after]
        return (
            vc.sort_values(field, kind="mergesort").head(size)
            .reset_index(drop=True)
        )

    def field_stats(
        self,
        field: str,
        query: str | None = None,
        *,
        mode: str = "and",
        filters: dict | None = None,
    ) -> dict:
        """ES stats-aggregation analogue: ``{count, min, max, avg, sum}``
        of a numeric field over matching docs (nulls ignored, ES missing
        semantics; min/max/avg are None when nothing matches). Same
        plan as facets/histogram; distributed partials are one
        (count, sum, min, max) row per doc_part — nothing but scalars
        cross the shuffle."""
        if field in ("doc_id", "doc_part") or field not in self.doc_meta.columns:
            raise ValueError(f"unknown stats field {field!r}")
        dtype = self.doc_meta.schema[field].dataType.simpleString()
        if dtype not in ("int", "bigint", "smallint", "tinyint", "float",
                         "double", "decimal"):
            raise ValueError(f"stats field {field!r} is {dtype}, not numeric")
        self._validate_filters(filters)
        zero = {"count": 0, "min": None, "max": None, "avg": None, "sum": 0.0}
        if filters_impossible(filters):
            return zero

        def _from_vals(vals: np.ndarray) -> dict:
            if vals.size == 0:
                return zero
            s = float(vals.sum())
            return {"count": int(vals.size), "min": float(vals.min()),
                    "max": float(vals.max()), "avg": s / vals.size, "sum": s}

        if query is None:
            r = self._live_meta(filters, field).agg(
                F.count(field).alias("c"),
                F.min(field).cast("double").alias("mn"),
                F.max(field).cast("double").alias("mx"),
                F.sum(field).cast("double").alias("s"),
            ).collect()[0]
            if not r["c"]:
                return zero
            return {"count": int(r["c"]), "min": r["mn"], "max": r["mx"],
                    "avg": r["s"] / r["c"], "sum": r["s"]}

        qterms, dfs = self._match_terms(query, mode)
        if not qterms:
            return zero

        src = self._driver_source(dfs, filters, [field])
        if src is not None:
            sub = self._driver_ids_meta(src, filters, qterms, mode, [field])
            return _from_vals(sub[field].dropna().to_numpy(dtype=np.float64))

        def body(pdf, allowed, excluded, meta):
            ids = K.match_ids(pdf, qterms, mode, allowed=allowed,
                              excluded=excluded)
            vals = meta.loc[meta["doc_id"].isin(ids), field].dropna()
            vals = vals.to_numpy(dtype=np.float64)
            if vals.size == 0:
                return pd.DataFrame(columns=["c", "s", "mn", "mx"])
            return pd.DataFrame(
                {"c": [int(vals.size)], "s": [float(vals.sum())],
                 "mn": [float(vals.min())], "mx": [float(vals.max())]}
            )

        partials = self._per_partition(
            self.postings.filter(F.col("term").isin(qterms)), filters, body,
            "c long, s double, mn double, mx double", [field],
        )
        r = partials.agg(
            F.sum("c").alias("c"), F.sum("s").alias("s"),
            F.min("mn").alias("mn"), F.max("mx").alias("mx"),
        ).collect()[0]
        if not r["c"]:
            return zero
        return {"count": int(r["c"]), "min": r["mn"], "max": r["mx"],
                "avg": r["s"] / r["c"], "sum": r["s"]}

    def _agg_buckets(
        self,
        field: str,
        query: str | None,
        mode: str,
        filters: dict | None,
        k: int | None,
        interval: float | None,
        max_buckets: int | None,
    ) -> pd.DataFrame:
        """Shared bucket-aggregation plan: terms facets (interval=None —
        group on the raw value, top-k by count) and histograms (group on
        floor(value/interval)*interval, all non-empty buckets key-asc)."""
        self._validate_filters(filters)
        key = field if interval is None else "bucket"
        empty = pd.DataFrame({
            key: pd.Series(dtype=object if interval is None else "float64"),
            "cnt": pd.Series(dtype="int64"),
        })
        if filters_impossible(filters):
            return empty

        def _bucketize(vals: pd.Series) -> pd.Series:
            return np.floor(
                vals.to_numpy(dtype=np.float64) / interval
            ) * interval

        def _finish(pdf: pd.DataFrame) -> pd.DataFrame:
            if interval is None:
                pdf = pdf.sort_values(
                    ["cnt", key], ascending=[False, True]
                ).head(k)
            else:
                if max_buckets is not None and len(pdf) > max_buckets:
                    raise ValueError(
                        f"histogram would produce {len(pdf)} buckets "
                        f"(> max_buckets={max_buckets}); widen interval"
                    )
                pdf = pdf.sort_values(key)
            pdf = pdf.reset_index(drop=True)
            pdf["cnt"] = pdf["cnt"].astype("int64")
            return pdf

        def _counts(vals: pd.Series) -> pd.DataFrame:
            vals = vals.dropna()
            if interval is not None:
                vals = pd.Series(_bucketize(vals))
            g = vals.value_counts()
            return pd.DataFrame({key: g.index, "cnt": g.values})

        spark_key = (
            F.col(field)
            if interval is None
            else (F.floor(F.col(field) / F.lit(interval)).cast("double")
                  * F.lit(interval)).alias(key)
        )
        if query is None:
            grouped = self._live_meta(filters, field).groupBy(
                spark_key
            ).agg(F.count(F.lit(1)).alias("cnt"))
            if interval is None:
                grouped = grouped.orderBy(F.desc("cnt"), F.asc(key))
                if k is not None:  # k=None: full value-count table
                    grouped = grouped.limit(k)
            elif max_buckets is not None:
                grouped = grouped.orderBy(F.asc(key)).limit(max_buckets + 1)
            return _finish(grouped.toPandas())

        qterms, dfs = self._match_terms(query, mode)
        if not qterms:
            return empty

        src = self._driver_source(dfs, filters, [field])
        if src is not None:
            sub = self._driver_ids_meta(src, filters, qterms, mode, [field])
            return _finish(_counts(sub[field])) if len(sub) else empty

        # distributed: the kernel emits per-partition partial counts over
        # the live, filter-passing docs' field values
        vtype = (
            self.doc_meta.schema[field].dataType.simpleString()
            if interval is None
            else "double"
        )

        def body(pdf, allowed, excluded, meta):
            ids = K.match_ids(pdf, qterms, mode, allowed=allowed,
                              excluded=excluded)
            g = _counts(meta.loc[meta["doc_id"].isin(ids), field])
            return g.rename(columns={key: "value", "cnt": "c"})

        partials = self._per_partition(
            self.postings.filter(F.col("term").isin(qterms)), filters, body,
            f"value {vtype}, c long", [field],
        )
        grouped = partials.groupBy("value").agg(F.sum("c").alias("cnt"))
        if interval is None:
            grouped = grouped.orderBy(F.desc("cnt"), F.asc("value"))
            if k is not None:  # k=None: full value-count table
                grouped = grouped.limit(k)
        elif max_buckets is not None:
            grouped = grouped.orderBy(F.asc("value")).limit(max_buckets + 1)
        return _finish(grouped.toPandas().rename(columns={"value": key}))

    def count(
        self,
        query: str | None = None,
        filters: dict | None = None,
        must_not: str | None = None,
    ) -> int:
        """Filtered count (A1 analogue, client.go:151-162). ``must_not``
        mirrors search(): docs containing ANY of its analyzed terms are
        excluded from the count, their postings riding the same
        term-pruned scan (no extra job on any tier)."""
        GOVERNOR.touch(self._gov_key)
        self._validate_filters(filters)
        if filters_impossible(filters):
            return 0
        if query is None:
            if must_not:
                raise ValueError("must_not requires a query")
            return self._live_meta(filters).count()
        qterms, dfs = self._match_terms(query, "and")
        if not qterms:
            return 0
        neg = self._neg_terms(must_not, dfs)
        if not set(qterms).isdisjoint(neg):
            return 0  # a term both required and negated can never match
        src = self._driver_source(dfs, filters)
        if src is not None:
            blocks, allowed, excluded, post = self._driver_fetch(
                src, filters, qterms, neg
            )
            if not post:
                return K.count_and(blocks, qterms, allowed=allowed,
                                   excluded=excluded)
            ids = K.match_ids(blocks, qterms, "and", allowed, excluded)
            return len(self._meta_for(pd.DataFrame({"doc_id": ids}), src,
                                      (), filters))

        def body(pdf, allowed, excluded):
            pdf, excluded = K.apply_neg(pdf, neg, excluded)
            return pd.DataFrame({"c": [K.count_and(
                pdf, qterms, allowed=allowed, excluded=excluded
            )]})

        counts = self._per_partition(
            self.postings.filter(F.col("term").isin(qterms + neg)), filters,
            body, "c long",
        )
        row = counts.agg(F.sum("c").alias("total")).collect()[0]
        return int(row["total"] or 0)

    def count_many(
        self,
        queries: dict[str, str] | list[str],
        mode: str = "and",
        filters: dict | None = None,
    ) -> pd.DataFrame:
        """Named counts for MANY queries in ONE pass over the postings —
        the ES ``filters`` aggregation / ``_msearch`` count-template
        analogue (dashboards issue dozens of these per refresh). Returns
        a pandas frame ``(query, cnt)``, one row per input query id
        (queries whose terms are absent from the vocabulary count 0, like
        an ES filters bucket with no hits — the bucket still appears).

        Scale shape mirrors :meth:`search_many`: the postings scan is
        pruned to the UNION of all queries' terms, each partition emits
        one partial count per query (``#queries x #partitions`` scalar
        rows — the only exchange), and the final sum is bucket-sized.
        A separate :meth:`count` per query would instead pay one scan per
        query; at 100 TB the batch is the difference between one
        postings-cache pass and N of them. Driver tiers (resident /
        serve) answer the whole batch with zero Spark jobs.
        """
        if mode not in ("and", "or"):
            raise ValueError(f"count_many mode must be and|or, got {mode!r}")
        self._validate_filters(filters)
        qmap = (
            {q: q for q in queries}
            if not isinstance(queries, dict)
            else dict(queries)
        )

        def _done(alive: dict[str, int]) -> pd.DataFrame:
            rows = sorted(
                [(qid, int(alive.get(qid, 0))) for qid in qmap],
            )
            return pd.DataFrame(
                {"query": [q for q, _ in rows],
                 "cnt": np.array([c for _, c in rows], dtype=np.int64)}
            )

        if filters_impossible(filters):
            return _done({})
        analyzed = {
            qid: analyze_query(text, self.analyzer)
            for qid, text in qmap.items()
        }
        all_terms = sorted({t for ts in analyzed.values() for t in ts})
        if not all_terms:
            return _done({})
        dfs = self._term_dfs(all_terms)
        plans: dict[str, list[str]] = {}
        for qid, ts in analyzed.items():
            if mode == "and":
                if not ts or any(dfs[t] == 0 for t in ts):
                    continue
                plans[qid] = ts
            else:
                live = [t for t in ts if dfs[t] > 0]
                if live:
                    plans[qid] = live
        if not plans:
            return _done({})
        union_terms = sorted({t for ts in plans.values() for t in ts})

        def plan_ids(blocks_pdf, allowed, excluded) -> dict[str, np.ndarray]:
            return {
                qid: K.match_ids(
                    blocks_pdf[blocks_pdf["term"].isin(ts)], ts, mode,
                    allowed, excluded,
                )
                for qid, ts in plans.items()
            }

        src = self._driver_source({t: dfs[t] for t in union_terms}, filters)
        if src is not None:
            blocks, allowed, excluded, post = self._driver_fetch(
                src, filters, union_terms
            )
            per_q = plan_ids(blocks, allowed, excluded)
            if post:
                # ONE meta read for the union of the batch's candidates
                union = np.unique(np.concatenate(
                    [np.empty(0, dtype=np.int64), *per_q.values()]
                ))
                ok = np.sort(self._meta_for(
                    pd.DataFrame({"doc_id": union}), src, (), filters
                )["doc_id"].to_numpy(dtype=np.int64))
                per_q = {
                    qid: ids[np.isin(ids, ok, assume_unique=True)]
                    for qid, ids in per_q.items()
                }
            return _done({qid: ids.size for qid, ids in per_q.items()})

        def body(pdf, allowed, excluded):
            c = plan_ids(pdf, allowed, excluded)
            return pd.DataFrame(
                {"query": list(c), "c": [int(v.size) for v in c.values()]}
            )

        counts = self._per_partition(
            self.postings.filter(F.col("term").isin(union_terms)), filters,
            body, "query string, c long",
        )
        agg = (
            counts.groupBy("query").agg(F.sum("c").alias("cnt")).toPandas()
        )
        return _done(dict(zip(agg["query"], agg["cnt"])))

    def adjacency_matrix(
        self,
        queries: dict[str, str],
        filters: dict | None = None,
    ) -> pd.DataFrame:
        """ES ``adjacency_matrix`` aggregation: doc counts for each named
        AND-query and each pairwise intersection (bucket key ``a&b``,
        ES's separator). An intersection of two conjunctive term queries
        is itself a conjunctive term query (the union of both term sets),
        so the WHOLE matrix — n singles + n(n-1)/2 pairs — composes onto
        :meth:`count_many` and still costs ONE postings pass. Keys
        containing ``&`` are rejected, as in ES."""
        for qid in queries:
            if "&" in qid:
                raise ValueError(
                    f"adjacency_matrix key {qid!r} must not contain '&'"
                )
        names = sorted(queries)
        batch = dict(queries)
        for i, a in enumerate(names):
            for b in names[i + 1 :]:
                batch[f"{a}&{b}"] = f"{queries[a]} {queries[b]}"
        out = self.count_many(batch, mode="and", filters=filters)
        # ES omits empty intersection buckets but keeps the filter
        # buckets themselves; mirror that
        keep = ~(out["query"].str.contains("&") & (out["cnt"] == 0))
        return out[keep].reset_index(drop=True)

    def get_doc(self, doc_id: int | None = None, **key) -> DataFrame:
        """Fetch by id / identity key (GetByGuid analogue,
        elasticAddressRepository.go:335-374)."""
        df = self.doc_meta
        if doc_id is not None:
            df = df.filter(F.col("doc_id") == doc_id)
        for col in ("repo", "path", "commit"):
            if col in key:
                df = df.filter(F.col(col) == key[col])
        if self._tombstones is not None:
            df = df.join(self._tombstones.select("doc_id"), "doc_id", "left_anti")
        return df

    def snippets(
        self,
        query: str,
        doc_ids: list[int],
        window: int = 60,
        max_matches: int = 2,
        tag: tuple[str, str] = ("[h]", "[/h]"),
    ) -> pd.DataFrame:
        """ES-highlight analogue: window-bounded fragments around the first
        ``max_matches`` occurrences of any query term, per requested doc.

        This is a doc-store access (the ES _source/highlight fetch) for
        the k rows of one result page — never part of the scoring path:
        ONE pruned doc_meta read for the ids, then string work over <= k
        rows driver-side. Matches are whole analyzer tokens (the ``\\w+``
        tokenizer's boundaries), so the highlighted spans are exactly the
        tokens that scored; matching is case-insensitive like the
        analyzer. Returns pandas (doc_id, fragments: list[str]) in the
        caller's id order — ids that are tombstoned/unknown get [].
        """
        import re

        qterms = analyze_query(query, self.analyzer)
        ids = [int(x) for x in doc_ids]
        empty = pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "fragments": [[] for _ in ids],
            }
        )
        if not qterms or not ids:
            return empty
        content = (
            self.get_doc()
            .filter(F.col("doc_id").isin(ids))
            .select("doc_id", "content")
            .toPandas()
        )
        pat = re.compile(
            r"(?<!\w)("
            + "|".join(re.escape(t) for t in dict.fromkeys(qterms))
            + r")(?!\w)",
            re.IGNORECASE,
        )
        open_t, close_t = tag
        frags_by_id: dict[int, list[str]] = {}
        for r in content.itertuples(index=False):
            text = r.content or ""
            frags = []
            for m in pat.finditer(text):
                if len(frags) >= max_matches:
                    break
                lo, hi = max(0, m.start() - window), min(
                    len(text), m.end() + window
                )
                frags.append(
                    (
                        text[lo:m.start()]
                        + open_t
                        + m.group(0)
                        + close_t
                        + text[m.end():hi]
                    ).replace("\n", " ")
                )
            frags_by_id[int(r.doc_id)] = frags
        empty["fragments"] = [frags_by_id.get(i, []) for i in ids]
        return empty

    def matched_keys(
        self,
        query: str,
        mode: str = "and",
        filters: dict | None = None,
        must_not: str | None = None,
    ) -> DataFrame:
        """Identity keys (repo, path) of EVERY doc matching the query —
        the input shape ``apply_delta(deletes=...)`` takes, enabling
        ES-style delete_by_query (see ``gofias_spark.api.delete_by_query``).
        Distributed end to end: per-partition match_ids ride the postings
        cogroup, the k-free id set joins doc_meta co-partitioned by
        doc_part — no driver materialization of the match set."""
        self._validate_filters(filters)
        empty = self.spark.createDataFrame([], "repo string, path string")
        if filters_impossible(filters):
            return empty.limit(0)
        qterms, dfs = self._match_terms(query, mode)
        if not qterms:
            return empty.limit(0)
        neg = self._neg_terms(must_not, dfs)
        if mode == "and" and not set(qterms).isdisjoint(neg):
            return empty.limit(0)
        matched = self._matched_ids_frame(qterms, mode, neg, filters)
        return matched.join(
            self.doc_meta.select("doc_id", "repo", "path"), "doc_id"
        ).select("repo", "path")

    def _matched_ids_frame(
        self,
        qterms: list[str],
        mode: str,
        neg: list[str],
        filters: dict | None,
    ) -> DataFrame:
        """k-free distributed ``doc_id`` frame of the full match set —
        the shared core of matched_keys / multi_terms. Per-partition
        match_ids ride the postings mapInPandas (or the filter-aware
        co-partitioned cogroup); no driver materialization."""
        def body(pdf, allowed, excluded):
            pdf, excluded = K.apply_neg(pdf, neg, excluded)
            ids = K.match_ids(pdf, qterms, mode, allowed, excluded)
            return pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64")})

        return self._per_partition(
            self.postings.filter(F.col("term").isin(qterms + neg)), filters,
            body, "doc_id long",
        )

    def explain_doc(self, query: str, doc_id: int) -> dict:
        """ES _explain analogue: the per-term BM25 breakdown of one doc's
        score for a query — (tf, df, idf, contribution) per analyzed term
        plus the total and whether the doc matches under AND semantics.
        Driver-side: one pruned doc-store row + the cached stats; no
        postings scan (tf recomputes from the stored content with the
        same tokenizer that built the index — identical by the sha256
        round-trip invariant). Exact on standard-analyzer indexes; on a
        gram-mode index the INDEXED tf of a term also counts its
        occurrences inside longer tokens' grams, so the breakdown there
        is the standard-token view, not the gram-index view."""
        qterms = analyze_query(query, self.analyzer)
        out: dict = {"query": query, "doc_id": int(doc_id), "terms": {}}
        row = self.get_doc(doc_id).select("content", "doclen").limit(1).collect()
        if not row:
            out.update(matches=False, score=0.0, reason="doc not found")
            return out
        from collections import Counter

        tf = Counter(self._std_tokens(row[0]["content"] or ""))
        dl = float(row[0]["doclen"])
        dfs = self._term_dfs(qterms)
        k1, b = self.bm25.k1, self.bm25.b
        total = 0.0
        for t in qterms:
            idf = self._idf(dfs[t]) if dfs[t] else 0.0
            f = float(tf.get(t, 0))
            contrib = (
                idf * f * (k1 + 1.0)
                / (f + k1 * (1.0 - b + b * dl / self.avgdl))
                if f
                else 0.0
            )
            out["terms"][t] = {
                "tf": int(f), "df": int(dfs[t]), "idf": idf,
                "contribution": contrib,
            }
            total += contrib
        out["matches"] = all(tf.get(t, 0) > 0 for t in qterms)
        out["score"] = total if out["matches"] else 0.0
        out["doclen"] = int(dl)
        out["avgdl"] = self.avgdl
        return out

    def termvectors(self, doc_id: int) -> pd.DataFrame:
        """ES _termvectors analogue: (term, tf) for one doc, term asc —
        recomputed from the stored content with the index analyzer's
        tokenizer (one pruned doc-store row, driver-side)."""
        row = self.get_doc(doc_id).select("content").limit(1).collect()
        if not row or not row[0]["content"]:
            return pd.DataFrame({"term": pd.Series(dtype=object),
                                 "tf": pd.Series(dtype="int64")})
        from collections import Counter

        tf = Counter(self._std_tokens(row[0]["content"]))
        terms = sorted(tf)
        return pd.DataFrame(
            {"term": terms,
             "tf": pd.Series([tf[t] for t in terms], dtype="int64")}
        )

    def significant_terms(
        self,
        query: str,
        k: int = 10,
        mode: str = "and",
        filters: dict | None = None,
        min_doc_count: int = 3,
    ) -> pd.DataFrame:
        """ES significant_terms analogue: terms overrepresented in the
        MATCHING docs relative to the whole corpus, scored with ES's JLH
        ((fg_rate − bg_rate) · fg_rate/bg_rate), only positively
        significant (fg_rate > bg_rate), hits >= min_doc_count, top-k by
        score desc then term asc. The query's own terms are not filtered
        out (ES behavior) — they trivially top the list; callers drop
        them if unwanted. Returns pandas (term, hits, score).

        Scale shape: the doc-partitioned index makes this ONE
        self-contained pass — each doc_part's kernel derives the matched
        ids from its OWN query-term blocks, then counts every term's
        postings among them (block-range pruned); only vocabulary-sized
        (term, hits) partials shuffle into the map-side-combinable final
        sum, which joins the global stats table for the background rates.
        No doc ids, postings, or text cross the wire."""
        self._validate_filters(filters)
        empty = pd.DataFrame({
            "term": pd.Series(dtype=object),
            "hits": pd.Series(dtype="int64"),
            "score": pd.Series(dtype="float64"),
        })
        if filters_impossible(filters):
            return empty
        qterms, dfs = self._match_terms(query, mode)
        if not qterms:
            return empty
        if mode == "and":
            n_matched = self.count(query, filters)
        else:
            # count() is AND-semantics by contract (A1); the OR foreground
            # size comes from the all-matches primitive, otherwise fg_rate
            # uses the AND-match denominator (> 1.0 rates, wrong JLH) or a
            # spuriously-empty result when an OR term is unindexed
            sm = self.score_matches(" ".join(qterms), mode="or",
                                    filters=filters)
            n_matched = (
                len(sm) if isinstance(sm, pd.DataFrame) else sm.count()
            )
        if n_matched == 0:
            return empty
        n_total = float(self.n_docs)

        def _finish(hits_pdf: pd.DataFrame, bg: pd.DataFrame) -> pd.DataFrame:
            m = hits_pdf.merge(bg, on="term", how="inner")
            fg = m["hits"] / float(n_matched)
            bgr = m["df"] / n_total
            m["score"] = (fg - bgr) * (fg / bgr)
            m = m[(m["hits"] >= min_doc_count) & (fg > bgr)]
            m = m.sort_values(
                ["score", "term"], ascending=[False, True]
            ).head(k).reset_index(drop=True)
            m["hits"] = m["hits"].astype("int64")
            return m[["term", "hits", "score"]]

        # the resident source is the only driver source holding every
        # term's postings; read once for the whole query
        res = self._resident
        if res is not None:
            allowed = res.allowed(filters or None)
            hits = K.subset_term_counts(
                res.blocks, qterms, mode, allowed,
                res.tombs if allowed is None else None,
            )
            if len(hits) == 0:
                return empty
            hits = hits.groupby("term", as_index=False)["hits"].sum()
            sc = self._stats_cache
            if sc is None:
                bg = self._stats.filter(
                    F.col("term").isin(hits["term"].tolist())
                ).toPandas()
            else:
                terms = [t for t in hits["term"] if t in sc]
                bg = pd.DataFrame({
                    "term": pd.Series(terms, dtype=object),
                    "df": pd.Series([sc[t] for t in terms], dtype="int64"),
                })
            return _finish(hits, bg)

        # distributed: full-postings pass per doc_part (this is a corpus
        # analytics operation — a full scan is its honest cost, as in ES's
        # per-shard collection); filters ride the cogroup right side
        partials = self._per_partition(
            self.postings, filters,
            lambda pdf, allowed, excluded: K.subset_term_counts(
                pdf, qterms, mode, allowed, excluded
            ),
            "term string, hits long",
        )
        out = (
            partials.groupBy("term").agg(F.sum("hits").alias("hits"))
            .filter(F.col("hits") >= min_doc_count)
            .join(self._stats, "term")
            .withColumn("fg", F.col("hits") / F.lit(float(n_matched)))
            .withColumn("bgr", F.col("df") / F.lit(n_total))
            .filter(F.col("fg") > F.col("bgr"))
            .withColumn(
                "score",
                (F.col("fg") - F.col("bgr")) * (F.col("fg") / F.col("bgr")),
            )
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(k)
            .select("term", "hits", "score")
            .toPandas()
        )
        out["hits"] = out["hits"].astype("int64")
        return out if len(out) else empty

    def more_like_this(
        self,
        doc_id: int,
        k: int = 10,
        max_query_terms: int = 25,
        min_term_freq: int = 2,
        min_doc_freq: int = 5,
        filters: dict | None = None,
        as_pandas: bool = False,
    ):
        """ES more_like_this analogue: the source doc's top tf·idf terms
        (tf >= min_term_freq, df >= min_doc_freq, top max_query_terms by
        tf·idf desc then term asc — the ES interestingness ranking) become
        an OR query; the source itself is excluded (ES include=false
        default). Term selection is driver-side over ONE pruned doc-store
        row; the derived query then rides the normal tiered search, so
        cost and scale behavior are exactly a |terms|-term OR query's."""
        row = (
            self.get_doc(doc_id).select("content").limit(1).collect()
        )
        if not row or not row[0]["content"]:
            return self._empty_result(True, as_pdf=as_pandas)
        from collections import Counter

        tf = Counter(self._std_tokens(row[0]["content"]))
        cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
        if not cand:
            return self._empty_result(True, as_pdf=as_pandas)
        dfs = self._term_dfs(cand)
        scored = [
            (float(tf[t]) * self._idf(dfs[t]), t)
            for t in cand
            if dfs[t] >= min_doc_freq
        ]
        scored.sort(key=lambda x: (-x[0], x[1]))
        sel = [t for _, t in scored[:max_query_terms]]
        if not sel:
            return self._empty_result(True, as_pdf=as_pandas)
        # k+1 covers both cases exactly: source in the page (drop it) or
        # not (the first k of k+1-minus-nothing are the true top-k)
        r = self.search(
            " ".join(sel), k=k + 1, mode="or", filters=filters,
            as_pandas=True,
        )
        r = r[r["doc_id"] != doc_id].head(k).reset_index(drop=True)
        if as_pandas:
            return r
        if len(r) == 0:
            return self._empty_result(True, as_pdf=False)
        return self.spark.createDataFrame(r)

    # -- rescore / function_score / collapse (composed ES-surface ops) ----

    def rescore(
        self,
        query: str,
        rescore_query: str,
        k: int = 10,
        *,
        window_size: int = 50,
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
        mode: str = "and",
        slop: int = 0,
        offset: int = 0,
        with_meta: bool = True,
        as_pandas: bool = False,
    ):
        """ES rescore API analogue with a match_phrase rescorer — the
        classic "cheap BM25 first pass, adjacency-boost the head" plan:
        the top-``window_size`` hits of the base query are re-ranked by

            query_weight * base_score + rescore_weight * phrase_score

        where phrase_score is the phrase query's BM25 sum on window docs
        containing ``rescore_query`` as an exact phrase (``slop`` relaxes
        adjacency, as in search_phrase) and 0 otherwise. Docs outside the
        window keep their base ranking below the window (ES semantics), so
        the returned page must fit inside it: ``window_size >= offset+k``
        is enforced rather than silently mixing re-scored and raw ranks.

        Cost shape: one normal top-window search plus ONE phrase-matches
        pass restricted to the window's doc_ids — on the distributed tier
        the phrase side is doc_id-pruned before collection, so the driver
        merge is always window-sized."""
        if window_size < offset + k:
            raise ValueError(
                f"window_size ({window_size}) must cover offset+k "
                f"({offset + k}): docs outside the rescore window keep "
                "base order and cannot appear in a re-ranked page"
            )
        if not query_weight >= 0 or not rescore_weight >= 0:
            raise ValueError("weights must be >= 0")
        base = self.search(
            query, k=window_size, mode=mode, with_meta=False, as_pandas=True
        )
        if len(base) == 0:
            return self._empty_result(with_meta, as_pdf=as_pandas)
        pm = self.phrase_matches(rescore_query, slop=slop)
        if isinstance(pm, DataFrame):
            ids = [int(x) for x in base["doc_id"]]
            pm = pm.filter(F.col("doc_id").isin(ids)).toPandas()
        merged = base.merge(
            pm.rename(columns={"score": "_rs"}), on="doc_id", how="left"
        )
        merged["score"] = (
            query_weight * merged["score"]
            + rescore_weight * merged["_rs"].fillna(0.0)
        )
        out = _by_score(merged[["doc_id", "score"]]).iloc[
            offset : offset + k
        ].reset_index(drop=True)
        return self._attach_meta(out, with_meta, as_pandas)

    @staticmethod
    def _fv_modifier(modifier: str, factor: float, missing: float):
        """Shared field-value-factor arithmetic: ONE numpy function used
        verbatim on every tier (driver pandas and inside the distributed
        pandas UDF), so cross-tier rank identity holds bit-for-bit, the
        same contract the BM25 kernels keep."""
        if modifier not in ("none", "log1p", "sqrt"):
            raise ValueError(f"unknown modifier {modifier!r}")

        def fv(vals: np.ndarray) -> np.ndarray:
            x = np.where(np.isnan(vals), float(missing), vals) * factor
            if modifier == "log1p":
                return np.log1p(x)
            if modifier == "sqrt":
                return np.sqrt(x)
            return x

        return fv

    @staticmethod
    def _decay_modifier(shape: str, origin: float, scale: float,
                        offset: float = 0.0, decay: float = 0.5):
        """ES decay-function arithmetic (gauss/exp/linear over a numeric
        field), one numpy function shared verbatim by every tier — the
        same cross-tier bit-identity contract as _fv_modifier. The
        parametrization is ES's: the function evaluates to ``decay`` at
        distance ``scale`` from ``origin`` (after subtracting
        ``offset``); docs missing the field get the neutral value 1.0
        (they are neither promoted nor demoted — ES's behavior for a
        doc without the field when the query still matches it)."""
        if shape not in ("gauss", "exp", "linear"):
            raise ValueError("shape must be gauss|exp|linear")
        if scale <= 0:
            raise ValueError("scale must be > 0")
        if not 0.0 < decay < 1.0:
            raise ValueError("decay must be in (0, 1)")
        if offset < 0:
            raise ValueError("offset must be >= 0")

        def fv(vals: np.ndarray) -> np.ndarray:
            dist = np.maximum(
                np.abs(vals - float(origin)) - float(offset), 0.0
            )
            if shape == "gauss":
                sigma2 = -(scale * scale) / (2.0 * np.log(decay))
                out = np.exp(-(dist * dist) / (2.0 * sigma2))
            elif shape == "exp":
                lam = np.log(decay) / scale
                out = np.exp(lam * dist)
            else:  # linear
                s = scale / (1.0 - decay)
                out = np.maximum((s - dist) / s, 0.0)
            return np.where(np.isnan(vals), 1.0, out)

        return fv

    def function_score(
        self,
        query: str,
        k: int = 10,
        *,
        field: str = "doclen",
        modifier: str = "log1p",
        factor: float = 1.0,
        missing: float = 0.0,
        boost_mode: str = "multiply",
        mode: str = "and",
        filters: dict | None = None,
        offset: int = 0,
        with_meta: bool = True,
        as_pandas: bool = False,
        decay: dict | None = None,
    ):
        """ES function_score / field_value_factor analogue: every match's
        BM25 score is combined with ``modifier(factor * doc[field])`` —
        ``multiply`` (relevance shaped by a document prior, e.g. length or
        freshness) or ``sum``. ``missing`` substitutes for null field
        values BEFORE factor/modifier (ES's ``missing`` param).

        ``decay`` switches the function from field_value_factor to an ES
        decay function over the same numeric field: a dict with ``shape``
        (gauss|exp|linear), ``origin``, ``scale``, optional ``offset``
        and ``decay`` (value at distance scale; default 0.5) — freshness
        and proximity scoring (_decay_modifier). ``modifier``/``factor``/
        ``missing`` are ignored in decay mode; docs missing the field get
        the neutral 1.0.

        The modifier can reorder arbitrarily, so relevance pruning is off:
        ALL matches are scored (exactly like composite sorts, engine O1).
        Driver tiers read the field from the resident/serve meta sidecar;
        the distributed tier joins the (doc_id, score) matches — two
        columns, never postings — against a pruned doc_meta scan and
        applies the SAME numpy modifier in an Arrow-batched UDF, keeping
        scores bit-identical across tiers. Top-k is a per-partition heap
        merge (TakeOrderedAndProject), no global sort."""
        if boost_mode not in ("multiply", "sum"):
            raise ValueError("boost_mode must be multiply|sum")
        self._require_numeric_field(field, "function_score")
        if decay is not None:
            fv = self._decay_modifier(
                decay.get("shape", "gauss"),
                decay["origin"], decay["scale"],
                decay.get("offset", 0.0), decay.get("decay", 0.5),
            )
        else:
            fv = self._fv_modifier(modifier, factor, missing)
        sm = self.score_matches(query, mode=mode, filters=filters)
        if isinstance(sm, pd.DataFrame):
            if len(sm) == 0:
                return self._empty_result(with_meta, as_pdf=as_pandas)
            attr = self._lookup_meta(sm["doc_id"], [field])
            merged = sm.merge(attr, on="doc_id", how="left")
            vals = fv(merged[field].to_numpy(dtype=np.float64))
            base = merged["score"].to_numpy(dtype=np.float64)
            merged["score"] = (
                base * vals if boost_mode == "multiply" else base + vals
            )
            out = _by_score(merged[["doc_id", "score"]]).iloc[
                offset : offset + k
            ].reset_index(drop=True)
            return self._attach_meta(out, with_meta, as_pandas)

        @F.pandas_udf("double")
        def fv_udf(v: pd.Series) -> pd.Series:
            return pd.Series(fv(v.to_numpy(dtype=np.float64)))

        # the cached meta frame is hash-partitioned on doc_id, so this
        # join exchanges only the (doc_id, score) matches; fields outside
        # the cache fall back to a doc_meta scan
        attr_src = (
            self._meta_slim
            if field in self._meta_slim.columns
            else self.doc_meta
        )
        joined = sm.join(attr_src.select("doc_id", field), "doc_id")
        fv_col = fv_udf(F.col(field).cast("double"))
        score = (
            F.col("score") * fv_col
            if boost_mode == "multiply"
            else F.col("score") + fv_col
        )
        topk_pdf = (
            joined.select("doc_id", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(offset + k)
            .toPandas()
            .iloc[offset : offset + k]
        )
        return self._attach_meta(topk_pdf, with_meta, as_pandas)

    def collapse(
        self,
        group_field: str,
        query: str,
        k: int = 10,
        *,
        mode: str = "and",
        filters: dict | None = None,
    ) -> pd.DataFrame:
        """ES field-collapsing analogue: the top-``k`` hits where only the
        BEST hit per ``group_field`` value counts — result diversification
        (one hit per repo / per domain / per license bucket). Unlike
        ``top_hits`` (groups ranked by match COUNT), collapse ranks groups
        by their best hit's score: ``(group, doc_id, score)`` rows ordered
        (score desc, doc_id asc), at most one row per group, null groups
        omitted (ES missing-bucket semantics).

        Group membership can't be relevance-pruned (a group's best hit may
        sit anywhere in the score range), so ALL matches are scored; the
        distributed reduction is a map-side-combinable ``max_by`` groupBy
        whose shuffle carries one (group, best-hit) struct per group per
        partition — never the matched docs."""
        if group_field in ("doc_id", "doc_part") or \
                group_field not in self.doc_meta.columns:
            raise ValueError(f"unknown field {group_field!r}")
        empty = pd.DataFrame({
            group_field: pd.Series(dtype="object"),
            "doc_id": pd.Series(dtype="int64"),
            "score": pd.Series(dtype="float64"),
        })
        sm = self.score_matches(query, mode=mode, filters=filters)
        if isinstance(sm, pd.DataFrame):
            if len(sm) == 0:
                return empty
            attr = self._lookup_meta(sm["doc_id"], [group_field])
            merged = sm.merge(attr, on="doc_id", how="left")
            merged = merged[merged[group_field].notna()]
            if len(merged) == 0:
                return empty
            best = (
                _by_score(merged)
                .groupby(group_field, sort=False)
                .head(1)
                .head(k)
            )
            return best[[group_field, "doc_id", "score"]].reset_index(
                drop=True
            )
        attr_src = (
            self._meta_slim
            if group_field in self._meta_slim.columns
            else self.doc_meta
        )
        joined = sm.join(
            attr_src.select("doc_id", group_field), "doc_id"
        ).filter(F.col(group_field).isNotNull())
        # max_by over (score, -doc_id): highest score wins, doc_id asc
        # breaks ties — the same (score desc, doc_id asc) contract as
        # search(). Partial max_by combines map-side.
        best = joined.groupBy(group_field).agg(
            F.expr(
                "max_by(named_struct('doc_id', doc_id, 'score', score), "
                "named_struct('s', score, 'd', -doc_id))"
            ).alias("_hit")
        )
        out = (
            best.select(
                group_field,
                F.col("_hit.doc_id").alias("doc_id"),
                F.col("_hit.score").alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .toPandas()
        )
        return out if len(out) else empty

    def explain_query(
        self, query: str, filters: dict | None = None, mode: str = "and",
        must_not: str | None = None,
    ) -> dict:
        """Routing introspection (no execution): which branch would serve
        this query and why. Every operator has one driver branch, reading
        from a driver block source, and one distributed branch; the route
        names the choice: ``local`` (driver branch over the resident
        source — the whole index in driver memory), ``serve`` (driver
        branch over the term-bucketed serve cache), ``distributed``
        (per-partition kernels over the postings cache), or ``empty``
        (analyzer produced no effective terms / AND-term missing /
        impossible filter / required term also negated). The route comes
        from the same ``_driver_source`` call ``search`` makes, including
        the negated terms' posting volume that must_not adds to the
        routing budget; ``reason`` says why a query is not served by a
        driver source."""
        self._validate_filters(filters)
        out: dict = {"query": query, "mode": mode, "filters": filters}
        if must_not:
            out["must_not"] = must_not
        if filters_impossible(filters):
            out.update(route="empty", reason="impossible filter")
            return out
        qterms = analyze_query(query, self.analyzer)
        dfs = self._term_dfs(qterms)
        out["terms"] = {t: dfs[t] for t in qterms}
        if mode == "and":
            if not qterms or any(dfs[t] == 0 for t in qterms):
                out.update(
                    route="empty",
                    reason="no terms" if not qterms else "AND term absent",
                )
                return out
            eff = qterms
        else:
            eff = [t for t in qterms if dfs[t] > 0]
            if not eff:
                out.update(route="empty", reason="no indexed terms")
                return out
        neg_terms = self._neg_terms(must_not, dfs)
        if neg_terms:
            out["neg_terms"] = {t: dfs[t] for t in neg_terms}
            if mode == "and" and not set(eff).isdisjoint(neg_terms):
                out.update(route="empty", reason="required term also negated")
                return out
        out["posting_volume"] = sum(dfs[t] for t in set(eff) | set(neg_terms))
        src = self._driver_source(dfs, filters)
        out["route"] = "distributed" if src is None else src.route
        if src is None:
            if self._serve is not None:
                cap = min(self._serve_max, self._serve.df_threshold)
                budget = (
                    min(self._serve_filtered_max, cap) if filters else cap
                )
                out["reason"] = (
                    "excluded hot term in query"
                    if self._cache_lacks_terms(dfs)
                    else f"posting volume over serve budget ({budget})"
                    if out["posting_volume"] > budget
                    else "filter field not in meta sidecar"
                    if filters
                    and not self._filter_fields(filters)
                    <= self._serve.meta_columns()
                    else "tombstones not driver-resident"
                )
            else:
                out["reason"] = "no serve cache"
        if self._serve is not None:
            out["serve_budget"] = int(
                min(self._serve_max, self._serve.df_threshold)
            )
        return out

    def query_state_token(self) -> str:
        """Fingerprint of the queryable index state: the committed segment
        set plus the delta state (tombstone/stats-correction files). Two
        engines over the same root return the same token iff every query
        result is guaranteed identical — the invalidation key for any
        response cache layered above the engine (the HTTP gateway's).

        Memoized per engine instance: the engine reads its manifest and
        delta state once at construction and serves from that snapshot
        until ``FulltextAPI._reopen()`` swaps in a fresh engine, so
        re-globbing the delta dir per request could only produce a token
        for state this engine does not serve — and it put filesystem I/O
        + sha256 on the cache-hit fast path."""
        if self._state_token is None:
            segs = "|".join(str(s) for s in sorted(self._seg_ids, key=str))
            self._state_token = segs + "|" + self._delta_token()
        return self._state_token

    def stats(self) -> dict:
        """Version/health analogue (versionHandler.go:30-38)."""
        return {
            "segments": list(self._seg_ids),
            "n_docs": self.n_docs,
            "sum_dl": self.sum_dl,
            "avgdl": self.avgdl,
            "next_doc_id": self.manifest["next_doc_id"],
            "analyzer": self.manifest["config"]["analyzer"],
        }

    def close(self, keep: SearchEngine | None = None) -> None:
        """Release executor-side state: unpersist the cached postings /
        stats / meta frames and drop the tombstone broadcast. A serving
        process that reopens engines across delta imports must close the
        old one, or each reopen leaks a full postings cache into executor
        storage memory (the serve cache's parquet files persist on disk by
        design — they are keyed by index state and reused).

        ``keep``: an engine that stays open (the other side of a reopen).
        Spark's CacheManager keys cached data by plan, so a frame whose
        plan equals one of ``keep``'s — the postings and meta of a
        delete-only delta, whose segment set is unchanged — shares its
        cache entry; that entry is left cached for ``keep``."""
        held = () if keep is None else (
            keep.postings, keep._stats_df, keep._meta_slim
        )
        held = [h for h in held if h is not None]
        for df in (self.postings, self._stats_df, self._meta_slim):
            if df is None:
                continue
            try:
                if not any(df.sameSemantics(h) for h in held):
                    df.unpersist()
            except Exception:  # noqa: BLE001 - already-stopped session
                pass
        if self._tomb_bc is not None:
            try:
                self._tomb_bc.unpersist()
            except Exception:  # noqa: BLE001
                pass
            self._tomb_bc = None
        GOVERNOR.release(self._gov_key)
        self._resident = None
        self._stats_cache = None
