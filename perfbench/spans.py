"""In-memory spans for the traced benchmark run.

A span records name, start, end, parent and the id of the request it belongs
to. The parent comes from a thread-local stack: a span opened with no open
span on its thread is a root and starts a new request id, so every span of
one gateway request shares that request's id. Spans stay in memory and are
written out once, when the run ends.

Wrappers are installed on the program's functions at module boundaries, from
the benchmark's files, in the traced run only, for the life of that process;
the untraced run never imports this module.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    req: int
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def open(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        st = self._stack()
        with self._lock:
            sid = next(self._ids)
        parent = st[-1] if st else None
        sp = Span(sid, parent.sid if parent else None,
                  parent.req if parent else sid, name, time.perf_counter(),
                  attrs=attrs)
        st.append(sp)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        with self._lock:
            self.spans.append(sp)

    def wrap(self, fn, name: str, attrs_fn=None):
        """``fn`` timed as span ``name``; ``attrs_fn(args, kwargs, result)``
        returns work counters stored on the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = self.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.close(sp)
            if sp is not None and attrs_fn is not None:
                sp.attrs.update(attrs_fn(args, kwargs, out))
            return out

        return traced

    def install(self, owner, attr: str, name: str, attrs_fn=None) -> None:
        """Replace ``owner.attr`` (a module function or a class method) by
        its traced wrapper."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(
            owner, attr)
        setattr(owner, attr, self.wrap(orig, name, attrs_fn))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "sid": s.sid, "parent": s.parent, "req": s.req,
                    "name": s.name, "start": s.start, "end": s.end,
                    "attrs": s.attrs,
                }) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover (overlapping children counted once, children
    clipped to the parent's interval)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


def layer_of(name: str) -> str:
    """Layer of a span name: everything before its last dot
    ("query.kernel.score_and" -> "query.kernel")."""
    return name.rsplit(".", 1)[0]


# layers whose self time is reported for every workload, so the traced
# output always has the same keys (a layer a workload never enters reads 0%)
LAYERS = ("server", "query.engine", "query.kernel", "query.serve", "analyzer",
          "index.codec")
READ_OPS = ("and", "or", "filter", "sort", "count")


def _median(v: list[float]) -> float:
    s = sorted(v)
    n = len(s)
    if n == 0:
        return 0.0
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def aggregate(spans: list[Span], windows: list[tuple[float, float]],
              bulk_jobs: list[int]) -> dict:
    """Per-layer metrics from the spans of one traced run.

    Read requests are the ``server.request`` roots that started inside one
    of ``windows``; bulk metrics use every ``api.bulk`` span of the run."""
    st = self_times(spans)
    by_req: dict[int, list[Span]] = {}
    for s in spans:
        by_req.setdefault(s.req, []).append(s)
    reads = [
        s for s in spans
        if s.name == "server.request" and s.parent is None
        and s.attrs.get("op") in READ_OPS
        and any(lo <= s.start <= hi for lo, hi in windows)
    ]
    req_s = sum(r.end - r.start for r in reads) or float("inf")
    n = max(1, len(reads))
    self_s = dict.fromkeys(LAYERS, 0.0)
    op_ms: dict[str, list[float]] = {op: [] for op in READ_OPS}
    analyze, kernel_blocks = [], []
    kernel_s = fetch_s = meta_s = dec_s = 0.0
    dec_postings = fetch_rows = fetch_calls = 0
    for r in reads:
        for s in by_req[r.req]:
            lay = layer_of(s.name)
            if lay in self_s:
                self_s[lay] += st[s.sid]
            d = s.end - s.start
            if s.name in ("query.engine.search", "query.engine.count") \
                    and s.parent == r.sid:
                op_ms[r.attrs["op"]].append(d * 1e3)
            elif s.name == "analyzer.analyze_query":
                analyze.append(d)
            elif lay == "query.kernel":
                kernel_s += d
                kernel_blocks.append(s.attrs.get("blocks_in", 0))
            elif s.name == "index.codec.decode_blocks_concat":
                dec_s += d
                dec_postings += s.attrs.get("postings", 0)
            elif s.name == "query.serve.fetch":
                fetch_s += d
                fetch_rows += s.attrs.get("rows", 0)
                fetch_calls += 1
            elif s.name == "query.serve.fetch_meta":
                meta_s += d
    out = {f"self_pct.{lay}": 100.0 * v / req_s for lay, v in self_s.items()}
    out.update({f"query.engine.op.{op}_ms": _median(v)
                for op, v in op_ms.items()})
    out["analyzer.analyze_query_us"] = 1e6 * sum(analyze) / max(1, len(analyze))
    out["index.codec.decode_postings_per_s"] = (
        dec_postings / dec_s if dec_s else 0.0)
    out["query.kernel.score_ms"] = 1e3 * kernel_s / n
    out["query.kernel.blocks_in"] = (
        sum(kernel_blocks) / max(1, len(kernel_blocks)))
    out["query.serve.fetch_pct"] = 100.0 * fetch_s / req_s
    out["query.serve.fetch_meta_pct"] = 100.0 * meta_s / req_s
    out["query.serve.rows_fetched"] = fetch_rows / n
    out["query.serve.fetch_calls"] = fetch_calls
    out["trace.read_requests"] = len(reads)

    bulks = [s for s in spans if s.name == "api.bulk"]
    kids = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    delta, reopen = [], []
    for b in bulks:
        for c in kids.get(b.sid, []):
            if c.name == "index.merge.apply_delta":
                delta.append(c.end - c.start)
        reopen.append(sum(
            s.end - s.start for s in by_req[b.req]
            if s.name in ("query.engine.open", "query.engine.warm")))
    out["index.merge.apply_delta_s"] = _median(delta)
    out["index.merge.spark_jobs"] = _median([float(j) for j in bulk_jobs])
    out["query.engine.reopen_s"] = _median(reopen)
    return out
