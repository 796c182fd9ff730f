"""Incremental MERGE: insert / update / delete over a built index.

Mirrors the reference's delta-import semantics (SURVEY.md §2.9):
  * active routing — updated rows are (re)indexed, deleted rows removed
    (elasticAddressRepository.go:662-671 routes active->index action,
    inactive->delete action);
  * upsert copy-forward — non-empty fields of the existing doc survive a
    partial update (jsonAddressDto.go:108-175 copies location/hierarchy
    fields forward; here: ``coalesce(new.lang, old.lang)``);
  * version bookkeeping — the manifest records each delta application
    (versionRepository.go:102-119 persists counts per import).

Physical design (Lucene-style segments, Iceberg-MERGE-equivalent):
  * upserts build a NEW segment (doc_ids are unique by construction:
    the segment id is part of the doc_id bit layout);
  * replaced/deleted docs become TOMBSTONES (doc_id + analyzed dl), masked at
    query time and subtracted from N / sum_dl;
  * per-term df corrections go to ``stats_delta`` (term, ddf), computed by
    re-tokenizing exactly the removed docs' stored content.

Two paths find the removed docs and write the same tombstone and
stats_delta rows:
  * driver — rows in pandas (``FulltextAPI.bulk``) and the caller's
    warmed ``ResidentSource`` holding the state on disk: keys resolve
    against the resident meta minus tombstones, only the removed docs'
    content is read (pyarrow, their own doc_part files), and both files
    are written with pyarrow. No Spark job: its cost is the delta's.
  * Spark — every other case (a cold engine, the serve or distributed
    tier, DataFrame deltas from ``delete_by_query`` / ``update_by_query``).
    It scans every segment's doc_meta, anti-joins all tombstones and
    semi-joins the keys, so its cost grows with the index (18 Spark jobs,
    ~7-9 s, for a 50-action bulk on an 8k-doc index at local[4]).
On both, the upserts become one ``build_segment``, which sets the floor of
a bulk (~2 s for a 40-doc segment at local[4]).

Logical doc key = (repo, path): a new commit for a key supersedes the old
row; a delete removes the key (FIXTURES.md §4).
"""

from __future__ import annotations

import os
import time
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gofias_spark.analyzer import tokenize_series
from gofias_spark.config import BUCKET_BITS, RANK_BITS, AnalyzerConfig, IndexConfig
from gofias_spark.corpus import DOCS_SCHEMA
from gofias_spark.index.build import build_segment
from gofias_spark.index.store import (
    STATS_DELTA_SCHEMA,
    TOMBSTONE_SCHEMA,
    IndexStore,
    arrow_table_dataset,
    manifest_state,
    read_parquet,
)

LOGICAL_KEY = ["repo", "path"]
KEYS_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in LOGICAL_KEY]
)
# the same row schemas as TOMBSTONE_SCHEMA / STATS_DELTA_SCHEMA, for the
# driver path's pyarrow writes
_TOMB_ARROW = pa.schema([("doc_id", pa.int64()), ("dl", pa.int64())])
_DDF_ARROW = pa.schema([("term", pa.string()), ("ddf", pa.int64())])


def _removed_term_dfs(analyzer: AnalyzerConfig):
    """mapInPandas: removed docs' content -> (term, ddf) partials.
    Distinct terms per doc, counted — exactly reverses each doc's
    contribution to per-term df."""

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            toks = tokenize_series(pdf["content"], analyzer)
            terms = toks.map(lambda ts: list(set(ts)))
            long = pd.DataFrame(
                {"term": [t for ts in terms for t in ts]}
            )
            if len(long) == 0:
                continue
            out = long.groupby("term").size().rename("ddf").reset_index()
            yield out

    return fn


def _removed_doc_dls(analyzer: AnalyzerConfig):
    """mapInPandas: removed docs -> (doc_id, dl) with the EXACT analyzed
    token count (must mirror the dl stored in postings, or post-merge
    avgdl — and therefore BM25 — would drift from the oracle)."""

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dl = tokenize_series(pdf["content"], analyzer).map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "dl": dl.astype("int64"),
                }
            )

    return fn


def apply_delta(
    spark: SparkSession,
    index_root: str,
    upserts: DataFrame | pd.DataFrame | None = None,
    deletes: DataFrame | pd.DataFrame | None = None,
    cfg: IndexConfig | None = None,
    resident=None,
) -> dict:
    """Apply a delta (upserts: docs-schema rows; deletes: (repo, path)
    rows, each a Spark or a pandas frame) and return the updated manifest.

    ``resident``: the ``ResidentSource`` of the caller's warmed engine, or
    None. Pandas rows with a resident source whose state equals the
    manifest's take the driver path (module docstring); every other
    delta takes the Spark path, pandas rows turned into DataFrames."""
    store = IndexStore(index_root)
    manifest = store.read_manifest()
    cfg = cfg or IndexConfig(
        n_buckets=manifest["config"]["n_buckets"],
        block_size=manifest["config"]["block_size"],
        analyzer=AnalyzerConfig(**manifest["config"]["analyzer"]),
        positions=manifest["config"].get("positions", False),
    )
    if upserts is None and deletes is None:
        return manifest

    removed = None  # Spark path: persisted until the segment build read it
    if (
        resident is not None
        and resident.state == manifest_state(manifest)
        and not isinstance(upserts, DataFrame)
        and not isinstance(deletes, DataFrame)
    ):
        n_removed, sum_dl, tomb_name, merged = _delta_on_driver(
            spark, store, resident, upserts, deletes, cfg.analyzer
        )
    else:
        upserts = _as_spark(spark, upserts, DOCS_SCHEMA)
        deletes = _as_spark(spark, deletes, KEYS_SCHEMA)
        removed = _removed_on_spark(spark, store, manifest, upserts, deletes)
        n_removed, sum_dl, tomb_name = _tombstone_on_spark(
            spark, store, removed, cfg.analyzer
        )
        merged = None
        if upserts is not None and upserts.limit(1).count() > 0:
            # copy-forward of nullable attrs: the live rows of upserted
            # keys are a subset of ``removed``
            old_attrs = removed.select(
                *LOGICAL_KEY, F.col("lang").alias("_old_lang")
            )
            merged = (
                upserts.join(F.broadcast(old_attrs), LOGICAL_KEY, "left")
                .withColumn(
                    "lang", F.coalesce(F.col("lang"), F.col("_old_lang"))
                )
                .drop("_old_lang")
            )

    if n_removed:
        manifest["tombstones"]["files"].append(tomb_name)
        manifest["tombstones"]["n_docs"] += int(n_removed)
        manifest["tombstones"]["sum_dl"] += int(sum_dl)

    # new segment from upserts
    tombstones = manifest["tombstones"]
    if merged is not None:
        build_segment(
            spark,
            merged,
            index_root,
            cfg,
            seg_id=manifest["next_seg_id"],
        )
        # build_segment committed its own manifest (from disk, without our
        # tombstone bookkeeping) — re-read it and graft the tombstones on
        manifest = store.read_manifest()
        manifest["tombstones"] = tombstones

    manifest.setdefault("deltas", []).append(
        {"ts": time.time(), "removed": int(n_removed)}
    )
    store.write_manifest(manifest)
    if removed is not None:
        removed.unpersist()
    return manifest


def _as_spark(spark: SparkSession, rows, schema: T.StructType):
    """``rows`` as a Spark DataFrame of ``schema`` (pandas rows
    converted through Arrow: a list of rows is unpickled by Python
    workers, measured ~1.5 s more on a session's first 40-doc delta at
    local[4]; a DataFrame or None as is)."""
    if not isinstance(rows, pd.DataFrame):
        return rows
    sub = rows[schema.fieldNames()].astype(object)
    return spark.createDataFrame(sub.where(sub.notna(), None), schema)


# -- Spark path --------------------------------------------------------------

def _removed_on_spark(spark, store, manifest, upserts, deletes) -> DataFrame:
    """Live doc_meta rows of the delta's keys (persisted: the tombstone
    writes and the upserts' copy-forward join all read them)."""
    metas = [
        read_parquet(spark, store.seg_dir(s) / "doc_meta")
        for s in manifest["segments"]
    ]
    doc_meta = metas[0]
    for m in metas[1:]:
        doc_meta = doc_meta.unionByName(m)
    tomb_files = manifest["tombstones"]["files"]
    if tomb_files:
        old_tombs = spark.read.schema(TOMBSTONE_SCHEMA).parquet(
            *[str(store.root / f) for f in tomb_files]
        )
        doc_meta = doc_meta.join(
            old_tombs.select("doc_id"), "doc_id", "left_anti"
        )
    keys = None
    if upserts is not None:
        keys = upserts.select(*LOGICAL_KEY).distinct()
    if deletes is not None:
        dk = deletes.select(*LOGICAL_KEY).distinct()
        keys = dk if keys is None else keys.unionByName(dk).distinct()
    removed = doc_meta.join(F.broadcast(keys), LOGICAL_KEY, "left_semi")
    return removed.persist()


def _tombstone_on_spark(spark, store, removed: DataFrame,
                        analyzer: AnalyzerConfig):
    """Write the tombstone file and stats_delta rows of ``removed``.
    Returns (n_removed, removed dl sum, tombstone file or None)."""
    n_removed = removed.count()
    if not n_removed:
        return 0, 0, None
    # 1) tombstones (doc_id, exact analyzed dl)
    tomb_name = f"tombstones/tomb_{uuid.uuid4().hex}.parquet"
    tomb_df = removed.select("doc_id", "content").mapInPandas(
        _removed_doc_dls(analyzer), schema=TOMBSTONE_SCHEMA
    )
    tomb_df.write.mode("overwrite").parquet(str(store.root / tomb_name))
    sum_dl = (
        spark.read.schema(TOMBSTONE_SCHEMA)
        .parquet(str(store.root / tomb_name))
        .agg(F.sum("dl").alias("s"))
        .collect()[0]["s"]
    )
    # 2) per-term df corrections from removed docs' stored content
    ddf = (
        removed.select("content")
        .mapInPandas(_removed_term_dfs(analyzer), schema=STATS_DELTA_SCHEMA)
        .groupBy("term")
        .agg(F.sum("ddf").alias("ddf"))
    )
    ddf.write.mode("append").parquet(str(store.root / "stats_delta"))
    return n_removed, sum_dl or 0, tomb_name


# -- driver path ---------------------------------------------------------------

def _delta_on_driver(spark, store, resident, upserts, deletes,
                     analyzer: AnalyzerConfig):
    """Resolve the delta against ``resident`` and write its tombstone file
    and stats_delta rows with pyarrow. Returns (n_removed, removed dl
    sum, tombstone file or None, upserts DataFrame with copy-forward or
    None)."""
    keys = pd.concat(
        [f[LOGICAL_KEY] for f in (upserts, deletes) if f is not None],
        ignore_index=True,
    )
    meta = resident.meta
    live = meta
    if resident.tombs is not None:
        live = meta[~np.isin(meta["doc_id"].to_numpy(), resident.tombs)]
    hit = pd.MultiIndex.from_frame(live[LOGICAL_KEY]).isin(
        pd.MultiIndex.from_frame(keys)
    )
    removed = live.loc[hit, ["doc_id", *LOGICAL_KEY, "lang"]]

    n_removed, sum_dl, tomb_name = len(removed), 0, None
    if n_removed:
        docs = _stored_content(store, removed["doc_id"].to_numpy())
        tomb = pd.concat(list(_removed_doc_dls(analyzer)(iter([docs]))))
        sum_dl = int(tomb["dl"].sum())
        tomb_name = f"tombstones/tomb_{uuid.uuid4().hex}.parquet"
        _write_parquet(tomb, _TOMB_ARROW,
                       store.root / tomb_name / "part-00000.parquet")
        ddf = list(_removed_term_dfs(analyzer)(iter([docs])))
        if ddf:
            _write_parquet(
                pd.concat(ddf), _DDF_ARROW,
                store.root / "stats_delta"
                / f"part-{uuid.uuid4().hex}.parquet",
            )

    merged = None
    if upserts is not None and len(upserts):
        ups = upserts.merge(
            removed[[*LOGICAL_KEY, "lang"]].rename(
                columns={"lang": "_old_lang"}
            ),
            on=LOGICAL_KEY, how="left",
        )
        ups["lang"] = ups["lang"].where(ups["lang"].notna(), ups["_old_lang"])
        merged = _as_spark(spark, ups, DOCS_SCHEMA)
    return n_removed, sum_dl, tomb_name, merged


def _stored_content(store: IndexStore, doc_ids: np.ndarray) -> pd.DataFrame:
    """(doc_id, content) of ``doc_ids`` in doc_id order, read with pyarrow
    from the doc_meta files of their own segment and doc_part only (both
    are bit fields of the doc_id)."""
    doc_ids = np.sort(np.asarray(doc_ids, dtype=np.int64))
    parts = doc_ids >> RANK_BITS
    tables = []
    for seg in np.unique(parts >> BUCKET_BITS):
        mine = (parts >> BUCKET_BITS) == seg
        dset = arrow_table_dataset(store.seg_dir(int(seg)) / "doc_meta")
        tables.append(dset.to_table(
            columns=["doc_id", "content"],
            filter=ds.field("doc_part").isin(np.unique(parts[mine]).tolist())
            & ds.field("doc_id").isin(doc_ids[mine].tolist()),
        ))
    docs = pa.concat_tables(tables).to_pandas()
    docs = docs.sort_values("doc_id", ignore_index=True)
    if not np.array_equal(docs["doc_id"].to_numpy(), doc_ids):
        raise RuntimeError(
            f"{store.root}: stored content missing for doc_ids "
            f"{sorted(set(doc_ids.tolist()) - set(docs['doc_id']))[:5]}"
        )
    return docs


def _write_parquet(pdf: pd.DataFrame, schema: pa.Schema, path) -> None:
    """Write ``pdf`` as one parquet file; published by rename, so a
    reader never sees a partial file."""
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name(f".{path.name}.tmp")
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), tmp
    )
    os.replace(tmp, path)
