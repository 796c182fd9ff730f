import hashlib
import json

import workload as W

VOCAB = [f"t{i}" for i in range(500)]
LANGS = ["go", "py"]
KEYS = [[f"org{i % 3}/p", f"src/f{i}.py"] for i in range(200)]


def corpus_hash(rows) -> str:
    return hashlib.sha256(
        json.dumps(sorted(map(list, rows))).encode()).hexdigest()


def test_same_seed_same_corpus_hash(spark):
    """The input table is a pure function of the seed, whatever the number
    of generator tasks (which follows the host's core count)."""
    from gofias_spark.corpus import synth_corpus_distributed

    def rows(seed, parts):
        return synth_corpus_distributed(spark, 300, seed,
                                        num_parts=parts).collect()

    a = corpus_hash(rows(5, 2))
    assert a == corpus_hash(rows(5, 3))
    assert a != corpus_hash(rows(6, 2))


def test_same_seed_same_queries():
    a = W.make_queries(VOCAB, LANGS, seed=3, n=400)
    assert a == W.make_queries(VOCAB, LANGS, seed=3, n=400)
    assert a != W.make_queries(VOCAB, LANGS, seed=4, n=400)
    assert [W.request_path(q) for q in a] == [
        W.request_path(q) for q in W.make_queries(VOCAB, LANGS, 3, 400)]


def test_query_mix_shape():
    qs = W.make_queries(VOCAB, LANGS, seed=1, n=5000)
    share = {op: sum(q["op"] == op for q in qs) / len(qs) for op, _ in W.MIX}
    for op, want in W.MIX:
        assert abs(share[op] - want) < 0.03, (op, share[op])
    for q in qs:
        assert len(set(q["terms"])) == (3 if q["op"] == "or" else 2)
        assert set(q["terms"]) <= set(VOCAB)
    # Zipf over the df-ranked vocabulary: the head term is the most drawn
    counts = {}
    for q in qs:
        for t in q["terms"]:
            counts[t] = counts.get(t, 0) + 1
    assert max(counts, key=counts.get) == VOCAB[0]


def test_request_paths():
    assert W.request_path({"op": "count", "terms": ["a", "b"]}) == \
        "/api/v1/count?term=a+b"
    assert W.request_path({"op": "or", "terms": ["a", "b", "c"]}) == \
        "/api/v1/address/term?term=a+b+c&size=10&match=or"
    assert W.request_path({"op": "filter", "terms": ["a", "b"],
                           "lang": "go"}).endswith("&lang=go")
    assert "sort=lang%3Aasc%2C_score%3Adesc" in W.request_path(
        {"op": "sort", "terms": ["a", "b"]})
    for q in W.make_queries(VOCAB, LANGS, seed=1, n=200):
        assert W.op_of(W.request_path(q)) == q["op"]
    assert W.op_of("/api/v1/bulk") == "other"


def test_bulks_are_seeded_and_touch_disjoint_keys():
    a = W.make_bulks(VOCAB, LANGS, KEYS, seed=2, n_batches=4)
    assert a == W.make_bulks(VOCAB, LANGS, KEYS, seed=2, n_batches=4)
    seen = set()
    for b in a:
        assert len(b["upserted"]) == W.BULK_INDEX
        assert len(b["deleted"]) == W.BULK_DELETE
        keys = {tuple(k[:2]) for k in b["upserted"]} | {
            tuple(k) for k in b["deleted"]}
        assert len(keys) == W.BULK_INDEX + W.BULK_DELETE
        assert not keys & seen
        seen |= keys
        lines = [json.loads(ln) for ln in b["body"].splitlines()]
        docs = [ln for ln in lines if "content" in ln]
        assert [hashlib.sha256(d["content"].encode()).hexdigest()
                for d in docs] == [u[2] for u in b["upserted"]]


def test_corpus_facts():
    rows = [("r", "a.py", "py", "Func x\nfunc y"), ("r", "b.go", "go", "x z")]
    f = W.corpus_facts(rows)
    assert f["vocab"] == ["x", "func", "y", "z"]
    assert f["langs"] == ["go", "py"]
    assert f["keys"] == [["r", "a.py"], ["r", "b.go"]]


def test_percentile():
    assert W.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert W.percentile([1.0, 2.0], 50) == 1.5
    assert W.percentile([0.0, 10.0], 99) == 9.9
