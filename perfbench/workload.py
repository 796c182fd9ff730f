"""Seeded inputs of the gateway benchmark: the read mix and the bulk batches.

Pure Python, no Spark: the load client imports this module, and the tests
check it without a session. Everything here is a function of the workload
seed and of the corpus facts the gateway process reports after building the
index (vocabulary ranked by document frequency, languages, a sample of
existing document keys).
"""

from __future__ import annotations

import bisect
import hashlib
import json
import random
import re
from urllib.parse import parse_qs, urlencode, urlparse

# (op, share of the read mix). "and"/"or" are the plain BM25 top-k routes,
# "filter" adds a lang equality filter, "sort" a composite attribute sort,
# "count" the _count route.
MIX = (("and", 0.40), ("or", 0.25), ("filter", 0.15), ("sort", 0.10),
       ("count", 0.10))
ZIPF_S = 1.0
PAGE_SIZE = 10
BULK_INDEX = 40
BULK_DELETE = 10
QUERY_DELETE = 10
# input rows the vocabulary, languages and bulk keys are drawn from
FACT_DOCS = 1_000
# read requests generated per run (a run walks them once, in order)
N_QUERIES = 6_000
# gateway answers checked against naive_bm25 per run
NAIVE_CHECKS = 1
# SearchEngine.warm()'s default driver-resident budget, in posting blocks.
RESIDENT_BUDGET = 200_000

# docs/buckets are sized so that the route guard holds with margin. Blocks
# grow with n_buckets x vocabulary once every bucket covers the vocabulary:
# the ingest index (16 buckets, ~96k blocks) stays well under
# RESIDENT_BUDGET and is served by the driver-resident local tier; the
# query_spill index (64 buckets, ~260k blocks) exceeds it and is served
# from the term-bucketed serve cache. One read connection each: a second
# one mostly measures two requests queueing on the gateway's GIL, which
# made the latencies follow the host's load more than the program's work.
# "bulks" is the number of ingest batches in the measured phase.
WORKLOADS = {
    "query_spill": {"n_docs": 6_000, "n_buckets": 64, "route": "serve",
                    "clients": 1},
    "ingest": {"n_docs": 8_000, "n_buckets": 16, "route": "local",
               "clients": 1, "bulks": 1, "warmup_docs": 200},
}


def corpus_facts(rows: list[tuple[str, str, str, str]]) -> dict:
    """From input rows (repo, path, lang, content): the vocabulary ranked by
    document frequency (most frequent first, ties by term; tokens as the
    standard analyzer makes them), the languages, and the keys that bulk
    batches may update or delete."""
    df: dict[str, int] = {}
    for _, _, _, content in rows:
        for t in set(re.findall(r"\w+", content.lower())):
            df[t] = df.get(t, 0) + 1
    return {"vocab": sorted(df, key=lambda t: (-df[t], t)),
            "langs": sorted({r[2] for r in rows}),
            "keys": sorted([r[0], r[1]] for r in rows)}


class Zipf:
    """Draws ranks 0..n-1 with P(r) proportional to 1 / (r + 1) ** s."""

    def __init__(self, n: int, s: float = ZIPF_S):
        if n < 1:
            raise ValueError("Zipf needs at least one rank")
        acc, self._cdf = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + 1) ** s
            self._cdf.append(acc)
        self._total = acc

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self._cdf, rng.random() * self._total)


def _distinct(rng: random.Random, zipf: Zipf, vocab: list[str], n: int):
    out: list[str] = []
    while len(out) < n:
        t = vocab[zipf.draw(rng)]
        if t not in out:
            out.append(t)
    return out


def make_queries(vocab: list[str], langs: list[str], seed: int,
                 n: int) -> list[dict]:
    """``n`` read requests: op drawn from MIX, terms drawn Zipf over
    ``vocab`` (ranked most frequent first). Every term is in the index, so
    no AND query short-circuits on an absent term."""
    rng = random.Random(f"queries-{seed}")
    zipf = Zipf(len(vocab))
    ops = [op for op, _ in MIX]
    weights = [w for _, w in MIX]
    out = []
    for _ in range(n):
        op = rng.choices(ops, weights)[0]
        q = {"op": op, "terms": _distinct(rng, zipf, vocab,
                                          3 if op == "or" else 2)}
        if op == "filter":
            q["lang"] = rng.choice(langs)
        out.append(q)
    return out


def naive_sample(queries: list[dict], seed: int,
                 n: int = NAIVE_CHECKS) -> list[dict]:
    """Seeded sample of the plain AND/OR queries (the ones naive_bm25 can
    score) whose gateway answers are checked."""
    cands = [q for q in queries if q["op"] in ("and", "or")]
    return random.Random(f"naive-{seed}").sample(cands, n)


def request_path(q: dict) -> str:
    """Gateway URL (path + query string) of one read request."""
    params = {"term": " ".join(q["terms"])}
    if q["op"] == "count":
        return "/api/v1/count?" + urlencode(params)
    params["size"] = PAGE_SIZE
    if q["op"] == "or":
        params["match"] = "or"
    elif q["op"] == "filter":
        params["lang"] = q["lang"]
    elif q["op"] == "sort":
        params["sort"] = "lang:asc,_score:desc"
    return "/api/v1/address/term?" + urlencode(params)


def op_of(path: str) -> str:
    """Read-mix class of a gateway URL (the inverse of ``request_path``);
    "other" for any other route."""
    u = urlparse(path)
    q = parse_qs(u.query)
    if u.path == "/api/v1/count":
        return "count"
    if u.path != "/api/v1/address/term":
        return "other"
    if q.get("match") == ["or"]:
        return "or"
    if "lang" in q:
        return "filter"
    if "sort" in q:
        return "sort"
    return "and"


def engine_call(q: dict) -> dict:
    """The SearchEngine arguments the gateway derives from ``q``: the route
    guard and the trace probes call the engine with exactly these."""
    return {"query": " ".join(q["terms"]),
            "mode": "or" if q["op"] == "or" else "and",
            "filters": {"lang": q["lang"]} if q["op"] == "filter" else None,
            "sort_by": ([("lang", "asc"), ("_score", "desc")]
                        if q["op"] == "sort" else None),
            "count": q["op"] == "count"}


def _content(rng: random.Random, zipf: Zipf, vocab: list[str]) -> str:
    lines = []
    for _ in range(rng.randint(5, 40)):
        a, b, c, d = (vocab[zipf.draw(rng)] for _ in range(4))
        lines.append(f"{a} {b}({c}, {d})")
    return "\n".join(lines)


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def make_bulks(vocab: list[str], langs: list[str], keys: list[list[str]],
               seed: int, n_batches: int, n_index: int = BULK_INDEX,
               n_delete: int = BULK_DELETE) -> list[dict]:
    """NDJSON ``/api/v1/bulk`` batches. Each batch indexes ``n_index`` docs
    (a quarter of them replace existing docs, the rest are new keys) and
    deletes ``n_delete`` existing docs. No key is touched by two batches,
    so the expected state after each acknowledgement is just that batch's
    upserts present and its deletes absent.

    Returns [{"body", "upserted": [[repo, path, sha256]],
    "deleted": [[repo, path]]}]."""
    rng = random.Random(f"bulks-{seed}")
    zipf = Zipf(len(vocab))
    n_update = n_index // 4
    need = n_batches * (n_update + n_delete)
    if len(keys) < need:
        raise ValueError(f"need {need} existing keys, got {len(keys)}")
    pool = [list(k) for k in keys]
    rng.shuffle(pool)
    batches = []
    for b in range(n_batches):
        lines: list[str] = []
        upserted, deleted = [], []
        targets = [pool.pop() for _ in range(n_update)]
        targets += [[f"bench/ingest{seed}", f"batch{b}/file{i}.py"]
                    for i in range(n_index - n_update)]
        for repo, path in targets:
            doc = {"repo": repo, "path": path, "commit": f"bulk{b}",
                   "lang": rng.choice(langs),
                   "content": _content(rng, zipf, vocab)}
            lines.append(json.dumps({"index": {}}))
            lines.append(json.dumps(doc))
            upserted.append([repo, path, _sha256(doc["content"])])
        for _ in range(n_delete):
            repo, path = pool.pop()
            lines.append(json.dumps({"delete": {"repo": repo, "path": path}}))
            deleted.append([repo, path])
        batches.append({"body": "\n".join(lines) + "\n",
                        "upserted": upserted, "deleted": deleted})
    return batches


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (0 <= p <= 100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    v = sorted(values)
    pos = (len(v) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)
