"""Rank-identity E2E vs the pure-Python oracle (SURVEY.md §5.2, BASELINE.md):
top-k docIDs AND BM25 scores identical (scores rtol 1e-9) on the reference
query set over the reference source-code corpus (/root/reference as rows).
"""

import json
from pathlib import Path

import numpy as np
import pytest

from gofias_spark.config import AnalyzerConfig, IndexConfig
from gofias_spark.corpus import load_refcorpus
from gofias_spark.index.build import build_segment
from gofias_spark.query.engine import SearchEngine
from gofias_spark.query.naive import naive_bm25

from .oracle import OracleIndex

QUERIES = json.loads((Path(__file__).parent / "queries.json").read_text())
REF_QUERIES = [q for q in QUERIES if q.get("corpus") != "synthetic"]


def _refcorpus(spark):
    """The reference corpus rows; the module's tests skip when the
    reference checkout is absent (it then loads no file)."""
    docs = load_refcorpus(spark)
    if docs.isEmpty():
        pytest.skip("reference checkout (FIXTURES.md §2) absent")
    return docs


@pytest.fixture(scope="module")
def ref_index(spark, tmp_path_factory):
    """refcorpus built with small partitions (several doc_parts + small
    blocks so multi-block/multi-partition paths are exercised)."""
    root = str(tmp_path_factory.mktemp("refidx"))
    docs = _refcorpus(spark)
    cfg = IndexConfig(n_buckets=5, block_size=8)
    build_segment(spark, docs, root, cfg)
    return root, cfg


@pytest.fixture(scope="module")
def ref_prefix_index(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("refidx_prefix"))
    docs = _refcorpus(spark)
    cfg = IndexConfig(
        n_buckets=5,
        block_size=8,
        analyzer=AnalyzerConfig(mode="edge_ngram", min_gram=1, max_gram=40),
    )
    build_segment(spark, docs, root, cfg)
    return root, cfg


@pytest.fixture(scope="module")
def ref_oracle(spark, ref_index):
    root, _ = ref_index
    engine = SearchEngine(spark, root)
    meta = engine.doc_meta.select(
        "doc_id", "content", "lang", "repo", "path"
    ).collect()
    docs = {r["doc_id"]: r["content"] for r in meta}
    attrs = {
        r["doc_id"]: {"lang": r["lang"], "repo": r["repo"], "path": r["path"]}
        for r in meta
    }
    return OracleIndex(docs, attrs=attrs), engine


def _predicate(filters):
    if not filters:
        return None

    def pred(a):
        for f, v in filters.items():
            if f == "path_prefix":
                if not a.get("path", "").startswith(v):
                    return False
            elif a.get(f) != v:
                return False
        return True

    return pred


def _assert_rank_identical(got, expected, qid):
    got_ids = [r["doc_id"] for r in got]
    exp_ids = [d for d, _ in expected]
    assert got_ids == exp_ids, f"{qid}: docIDs {got_ids} != oracle {exp_ids}"
    got_scores = np.array([r["score"] for r in got])
    exp_scores = np.array([s for _, s in expected])
    assert np.allclose(got_scores, exp_scores, rtol=1e-9, atol=0), (
        f"{qid}: scores {got_scores} != oracle {exp_scores}"
    )


@pytest.mark.parametrize(
    "q", [q for q in REF_QUERIES if q.get("index") != "prefix"],
    ids=lambda q: q["id"],
)
def test_rank_identity_and(spark, ref_oracle, q):
    oracle, engine = ref_oracle
    got = engine.search(
        q["query"], k=q["k"], filters=q["filters"], mode="and"
    ).collect()
    expected = oracle.search(
        q["query"], k=q["k"], mode="and", predicate=_predicate(q["filters"])
    )
    _assert_rank_identical(got, expected, q["id"])


@pytest.mark.parametrize(
    "q", [q for q in REF_QUERIES if q.get("index") != "prefix"][:6],
    ids=lambda q: q["id"],
)
def test_rank_identity_or(spark, ref_oracle, q):
    oracle, engine = ref_oracle
    got = engine.search(
        q["query"], k=q["k"], filters=q["filters"], mode="or"
    ).collect()
    expected = oracle.search(
        q["query"], k=q["k"], mode="or", predicate=_predicate(q["filters"])
    )
    _assert_rank_identical(got, expected, q["id"])


def test_rank_identity_prefix(spark, ref_prefix_index):
    """q11: edge_ngram index makes the prefix query an exact term lookup."""
    root, _ = ref_prefix_index
    engine = SearchEngine(spark, root)
    docs = {
        r["doc_id"]: r["content"]
        for r in engine.doc_meta.select("doc_id", "content").collect()
    }
    oracle = OracleIndex(docs, mode="edge_ngram", min_gram=1, max_gram=40)
    q = next(q for q in QUERIES if q["id"] == "q11")
    got = engine.search(q["query"], k=q["k"]).collect()
    expected = oracle.search(q["query"], k=q["k"])
    _assert_rank_identical(got, expected, "q11")
    assert len(got) > 0  # 'elas' must match elastic-bearing docs


def test_pagination_offset(ref_oracle):
    """O4 analogue: from/size paging slices the same global ranking."""
    oracle, engine = ref_oracle
    full = oracle.search("elastic client", k=30)
    page = engine.search("elastic client", k=5, offset=3).collect()
    _assert_rank_identical(page, full[3:8], "paging")


def test_count_matches_oracle(ref_oracle):
    oracle, engine = ref_oracle
    assert engine.count("elastic") == oracle.count("elastic")
    assert engine.count("bulk index") == oracle.count("bulk index")
    assert engine.count() == oracle.count()
    assert engine.count(None, filters={"lang": "go"}) == oracle.count(
        None, predicate=_predicate({"lang": "go"})
    )


def test_naive_matches_kernel(spark, ref_oracle):
    """Differential: the DataFrame-only scorer and the block-max kernel agree."""
    oracle, engine = ref_oracle
    docs = engine.doc_meta.select("doc_id", "content")
    for query in ["elastic client", "bulk index", "address"]:
        kern = engine.search(query, k=10, with_meta=False).collect()
        naive = naive_bm25(docs, query.split(), k=10).collect()
        assert [r["doc_id"] for r in kern] == [r["doc_id"] for r in naive]
        assert np.allclose(
            [r["score"] for r in kern],
            [r["score"] for r in naive],
            rtol=1e-9,
        )


def test_sha256_invariant(ref_oracle):
    """Per-row invariant (BASELINE.json input_hint): sha256(content) equality
    through ingest -> doc_meta -> fetch-by-id."""
    import hashlib

    oracle, engine = ref_oracle
    rows = engine.get_doc(repo="GarinAG/gofias", path="Makefile").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["sha256"] == hashlib.sha256(r["content"].encode()).hexdigest()
    disk = Path("/root/reference/Makefile").read_bytes()
    assert r["sha256"] == hashlib.sha256(disk).hexdigest()
