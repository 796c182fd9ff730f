"""Small-segment driver-side searcher (engine.warm local_max_blocks):
must be result-identical to the distributed cogroup path — same kernels,
same tie-breaks — across modes, filters, offset, and post-delta tombstones."""

import pytest

from gofias_spark.config import IndexConfig
from gofias_spark.corpus import DOCS_SCHEMA, load_refcorpus
from gofias_spark.index.build import build_segment
from gofias_spark.index.merge import apply_delta
from gofias_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def ref_index(spark, tmp_path_factory):
    docs = load_refcorpus(spark)
    if docs.isEmpty():  # no file loaded: the reference checkout is absent
        pytest.skip("reference checkout (FIXTURES.md §2) absent")
    root = str(tmp_path_factory.mktemp("localsearch"))
    build_segment(
        spark, docs, root, IndexConfig(n_buckets=5, block_size=8)
    )
    dels = spark.createDataFrame(
        [("GarinAG/gofias", "Makefile", "v1")],
        "repo string, path string, commit string",
    )
    apply_delta(spark, root, deletes=dels)
    return root


CASES = [
    dict(query="elastic batch", k=5),
    dict(query="elastic batch", k=5, mode="or"),
    dict(query="address", k=7, offset=3),
    dict(query="elastic", k=5, filters={"lang": "go", "path_prefix": "app/"}),
    dict(query="func", k=10, mode="or", filters={"lang": ["go", "md"]}),
]


def _rows(df):
    return [
        (r["doc_id"], round(r["score"], 9), r["path"]) for r in df.collect()
    ]


def test_local_equals_distributed(spark, ref_index):
    dist = SearchEngine(spark, ref_index, serve=False)
    dist.warm(local_max_blocks=0)  # force distributed (serve off too)
    loc = SearchEngine(spark, ref_index, cache=False)
    loc.warm()  # refcorpus is tiny -> local searcher engages
    assert loc._local_blocks is not None and dist._local_blocks is None
    for case in CASES:
        assert _rows(loc.search(**case)) == _rows(dist.search(**case)), case
    for q in ["elastic", "batch config", "zzz_missing"]:
        assert loc.count(q) == dist.count(q)
    assert loc.count("elastic", filters={"lang": "go"}) == dist.count(
        "elastic", filters={"lang": "go"}
    )


def test_local_excludes_tombstones(spark, ref_index):
    loc = SearchEngine(spark, ref_index, cache=False)
    loc.warm()
    paths = {r["path"] for r in loc.search("all", k=100, mode="or").collect()}
    assert "Makefile" not in paths
