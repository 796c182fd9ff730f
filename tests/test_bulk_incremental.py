"""A bulk on a warmed resident engine costs what it changes: its keys
resolve on the driver and the reopened engine extends the old resident
source with the added files. The results must be exactly those of the
Spark merge path and of an engine opened and warmed from scratch."""

import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark import StorageLevel

from gofias_spark.api import FulltextAPI
from gofias_spark.config import IndexConfig
from gofias_spark.corpus import DOCS_SCHEMA, synth_corpus
from gofias_spark.index import merge
from gofias_spark.index.build import build_segment
from gofias_spark.index.compact import compact
from gofias_spark.index.store import IndexStore
from gofias_spark.query.engine import SearchEngine

N_DOCS = 120


def _doc(repo, path, ver, lang="py"):
    return {
        "repo": repo, "path": path, "commit": f"v{ver}", "lang": lang,
        "content": f"def fresh_{ver}(common_util, {ver})\n"
                   f"common_util helper(brand_new_{ver}, 2)",
    }


def _jobs_in(spark, fn):
    """(fn(), ids of the Spark jobs it started on this thread)."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "probe_jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup("probe_jobs")


def _build(spark, root, positions):
    build_segment(spark, synth_corpus(spark, N_DOCS), root,
                  IndexConfig(n_buckets=3, block_size=8, positions=positions))


QUERIES = {
    "and": lambda e: e.search("common_util helper", k=10, as_pandas=True),
    "or": lambda e: e.search("fresh_3 brand_new_5 helper", k=10, mode="or",
                             as_pandas=True),
    "filtered": lambda e: e.search("common_util", k=10, as_pandas=True,
                                   filters={"lang": ["py", "go"]}),
    "sorted": lambda e: e.search(
        "common_util", k=10, as_pandas=True,
        sort_by=[("lang", "asc"), ("_score", "desc")]),
    "phrase": lambda e: e.search_phrase("common_util helper", k=10,
                                        as_pandas=True),
    "count": lambda e: e.count("common_util helper"),
}


def _assert_same_engine(inc, fresh):
    assert inc._stats_cache == fresh._stats_cache
    assert (inc.n_docs, inc.sum_dl) == (fresh.n_docs, fresh.sum_dl)
    assert inc.avgdl == fresh.avgdl
    ri, rf = inc._resident, fresh._resident
    assert (ri.tombs is None) == (rf.tombs is None)
    if ri.tombs is not None:
        assert np.array_equal(ri.tombs, rf.tombs)
    pd.testing.assert_frame_equal(ri.meta, rf.meta)
    assert ri.state == rf.state
    assert ri.nbytes() == rf.nbytes()  # the governor's accounting
    for name, q in QUERIES.items():
        got, want = q(inc), q(fresh)
        if name == "count":
            assert got == want, name
            continue
        assert len(want) > 0, name
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), name
        np.testing.assert_allclose(got["score"], want["score"], rtol=1e-9)


@pytest.mark.parametrize("positions", [True, False])
def test_bulk_sequence_matches_fresh_engine(spark, tmp_path, monkeypatch,
                                            positions):
    root = str(tmp_path / "idx")
    _build(spark, root, positions)
    api = FulltextAPI(spark, root)
    api.engine.warm()
    keys = [
        (r["repo"], r["path"]) for r in api.engine.get_doc()
        .select("repo", "path").orderBy("doc_id").limit(6).collect()
    ]
    batches = [
        # new keys only
        [("index", _doc("new/a", "x.py", 1)),
         ("index", _doc("new/b", "y.go", 2, "go"))],
        # replaced keys and a delete
        [("index", _doc(*keys[0], 3)), ("index", _doc("new/a", "x.py", 4)),
         ("delete", {"repo": keys[1][0], "path": keys[1][1]})],
        # the same key indexed then deleted in one batch, beside a new key
        [("index", _doc(*keys[2], 5)),
         ("delete", {"repo": keys[2][0], "path": keys[2][1]}),
         ("index", _doc("new/c", "z.py", 6))],
        # deletes only, one of them a key indexed by an earlier bulk
        [("delete", {"repo": keys[3][0], "path": keys[3][1]}),
         ("delete", {"repo": "new/b", "path": "y.go"})],
    ]
    full_warms = []
    orig_full = SearchEngine._warm_full
    monkeypatch.setattr(
        SearchEngine, "_warm_full",
        lambda self, *a: (full_warms.append(self), orig_full(self, *a)),
    )
    orig_reopen = api._reopen
    try:
        for actions in batches:
            reopen_jobs = []
            monkeypatch.setattr(api, "_reopen", lambda: reopen_jobs.extend(
                _jobs_in(spark, orig_reopen)[1]))
            api.bulk(actions=actions)
            assert not full_warms, "the reopen took the full warm"
            assert reopen_jobs == [], "the reopen started Spark jobs"
            fresh = SearchEngine(spark, root)
            try:
                fresh.warm()
                full_warms.clear()
                _assert_same_engine(api.engine, fresh)
            finally:
                fresh.close()
    finally:
        api.close()


def test_reopen_after_compaction_warms_in_full(spark, tmp_path,
                                               monkeypatch):
    """A compaction replaces every segment: the reopen cannot extend the
    old resident source and takes the full warm, with the same result as
    a fresh engine."""
    root = str(tmp_path / "idx")
    _build(spark, root, False)
    api = FulltextAPI(spark, root)
    try:
        api.engine.warm()
        api.bulk(actions=[("index", _doc("new/a", "x.py", 1))])
        compact(spark, root)
        full = []
        orig_full = SearchEngine._warm_full
        monkeypatch.setattr(
            SearchEngine, "_warm_full",
            lambda self, *a: (full.append(self), orig_full(self, *a)),
        )
        api._reopen()
        assert full == [api.engine]
        fresh = SearchEngine(spark, root)
        try:
            fresh.warm()
            _assert_same_engine(api.engine, fresh)
        finally:
            fresh.close()
    finally:
        api.close()


def test_driver_path_writes_what_spark_path_writes(spark, tmp_path,
                                                   monkeypatch):
    """The same delta through both merge paths: equal tombstone rows
    (doc_id, dl), summed stats_delta rows (term, ddf) and manifest
    bookkeeping."""
    drv, spk = str(tmp_path / "driver"), str(tmp_path / "spark")
    _build(spark, drv, False)
    shutil.copytree(drv, spk)
    eng = SearchEngine(spark, drv)
    eng.warm()
    keys = [
        (r["repo"], r["path"]) for r in eng.get_doc()
        .select("repo", "path").orderBy("doc_id").limit(5).collect()
    ]
    ups = pd.DataFrame(
        [_doc(*keys[0], 1), _doc(*keys[1], 2), _doc("new/a", "x.py", 3)]
    )
    dels = pd.DataFrame(
        [{"repo": r, "path": p} for r, p in keys[2:]] + [
            {"repo": "no/such", "path": "key.py"}]
    )
    calls = []
    orig = merge._delta_on_driver
    monkeypatch.setattr(merge, "_delta_on_driver",
                        lambda *a: calls.append(1) or orig(*a))
    m_drv = merge.apply_delta(spark, drv, upserts=ups, deletes=dels,
                              resident=eng._resident)
    assert calls == [1]
    m_spk = merge.apply_delta(
        spark, spk,
        upserts=spark.createDataFrame(
            ups[DOCS_SCHEMA.fieldNames()].values.tolist(), DOCS_SCHEMA),
        deletes=spark.createDataFrame(dels.values.tolist(),
                                      "repo string, path string"),
    )
    assert calls == [1]
    eng.close()

    def tomb_rows(root, manifest):
        store = IndexStore(root)
        return pd.concat([
            pd.read_parquet(store.root / f)
            for f in manifest["tombstones"]["files"]
        ]).sort_values("doc_id", ignore_index=True)

    def ddf_rows(root):
        d = pd.read_parquet(IndexStore(root).root / "stats_delta")
        return d.groupby("term", as_index=False)["ddf"].sum()

    want = tomb_rows(spk, m_spk)
    assert len(want) == 5  # two replaced + three deleted keys
    pd.testing.assert_frame_equal(tomb_rows(drv, m_drv), want)
    pd.testing.assert_frame_equal(ddf_rows(drv), ddf_rows(spk))
    for k in ("n_docs", "sum_dl"):
        assert m_drv["tombstones"][k] == m_spk["tombstones"][k]
    assert m_drv["segments"] == m_spk["segments"]


def test_driver_path_needs_the_state_on_disk(spark, tmp_path, monkeypatch):
    """A resident snapshot of an older state resolves nothing: the delta
    takes the Spark path."""
    root = str(tmp_path / "idx")
    _build(spark, root, False)
    eng = SearchEngine(spark, root)
    eng.warm()
    stale = eng._resident
    key = eng.get_doc().select("repo", "path").first()
    eng.close()
    merge.apply_delta(spark, root, deletes=pd.DataFrame(
        [{"repo": key["repo"], "path": key["path"]}]), resident=stale)
    calls = []
    monkeypatch.setattr(merge, "_delta_on_driver",
                        lambda *a: calls.append(1))
    m = merge.apply_delta(spark, root, deletes=pd.DataFrame(
        [{"repo": "no/such", "path": "key.py"}]), resident=stale)
    assert calls == []
    assert m["tombstones"]["n_docs"] == 1


def test_delete_only_reopen_keeps_successor_cache(spark, tmp_path):
    """A delete-only delta leaves the segment set, and so the postings and
    meta plans, unchanged: the new engine's persisted frames share the old
    engine's cache entries, and closing the old engine must leave them
    cached."""
    root = str(tmp_path / "idx")
    _build(spark, root, False)
    api = FulltextAPI(spark, root)
    try:
        api.engine.warm(local_max_blocks=0)
        assert api.engine._resident is None
        key = api.engine.get_doc().select("repo", "path").first()
        api.bulk(actions=[("delete", {"repo": key["repo"],
                                      "path": key["path"]})])
        new = api.engine
        assert new.postings.storageLevel != StorageLevel.NONE
        assert new._meta_slim.storageLevel != StorageLevel.NONE
    finally:
        api.close()


def test_significant_terms_reads_warm_stats(spark, tmp_path):
    """On a warmed resident engine significant_terms starts no Spark job
    and returns what the Spark stats table gives — also on the stats dict
    an incremental reopen updated."""
    root = str(tmp_path / "idx")
    _build(spark, root, False)
    api = FulltextAPI(spark, root)

    def check(eng):
        def run():
            return eng.significant_terms("common_util", k=8,
                                         min_doc_count=2)

        got, jobs = _jobs_in(spark, run)
        assert jobs == []
        assert len(got) > 0
        sc, eng._stats_cache = eng._stats_cache, None
        try:
            want = run()
        finally:
            eng._stats_cache = sc
        pd.testing.assert_frame_equal(got, want)

    try:
        api.engine.warm()
        check(api.engine)
        api.bulk(actions=[("index", _doc("new/a", "x.py", 1)),
                          ("index", _doc("new/b", "y.py", 2))])
        assert any(t.startswith("brand_new") for t in api.engine._stats_cache)
        check(api.engine)
    finally:
        api.close()


def test_evicted_after_incremental_reopen_reads_fresh_state(spark, tmp_path):
    """An incremental reopen leaves the Spark-side caches lazy. Once the
    governor drops the resident source, the distributed branch must read
    the reopened state, not the state before the bulk."""
    root = str(tmp_path / "idx")
    _build(spark, root, False)
    api = FulltextAPI(spark, root)
    try:
        api.engine.warm()
        key = api.engine.get_doc().select("repo", "path").first()
        api.bulk(actions=[
            ("index", _doc("new/a", "x.py", 1)),
            ("delete", {"repo": key["repo"], "path": key["path"]}),
        ])
        eng = api.engine
        assert eng._resident is not None
        want = {name: q(eng) for name, q in QUERIES.items()}
        eng._drop_resident_caches()
        assert eng._driver_source({}, None) is None
        for name, q in QUERIES.items():
            got = q(eng)
            if name == "count":
                assert got == want[name], name
                continue
            assert got["doc_id"].tolist() == want[name]["doc_id"].tolist(), \
                name
            np.testing.assert_allclose(got["score"], want[name]["score"],
                                       rtol=1e-9)
        hit = eng.search("brand_new_1", k=5, as_pandas=True)
        assert len(hit) == 1
        docs = eng.get_doc()
        assert docs.filter((docs["repo"] == key["repo"])
                           & (docs["path"] == key["path"])).collect() == []
    finally:
        api.close()
