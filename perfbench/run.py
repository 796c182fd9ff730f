"""Gateway benchmark of gofias_spark: one command, two workloads.

    python3 perfbench/run.py --workload query_spill --seed 1 \
        --seconds 10 --trace 0

Starts the gateway process (``perfbench/gateway.py``: index build + warm +
``server.serve`` at ``local[nproc]``), drives it over HTTP from this separate
process, runs the correctness checks and prints one JSON result as the last
line of stdout. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
installs span wrappers in the gateway and reports the per-layer metrics.
Metric meanings and the reason for each workload are in perfbench/NOTES.md.

Exits non-zero without a result when the program is missing, the gateway
fails, the run overruns its deadline, or the route guard fails.
"""

from __future__ import annotations

import argparse
import hashlib
import http.client
import itertools
import json
import os
import select
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workload as W  # noqa: E402

DEADLINE_S = 170.0
DRIVER_MEM = "3g"  # fits a 15 GB host; the program's 48g default does not
GUARD_SAMPLE = 20
WARMUP_S = 2.0


class GuardError(RuntimeError):
    pass


class Gateway:
    """The gateway subprocess, its control pipes and its process group."""

    def __init__(self, args, base: str, nproc: int, deadline: float):
        self.deadline = deadline
        tmp = os.path.join(base, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.update(
            GOFIAS_SPARK_MASTER=f"local[{nproc}]",
            GOFIAS_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=tmp,
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
            PYTHONPATH=os.pathsep.join(
                [ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        )
        in_r, self._in_w = os.pipe()
        self._out_r, out_w = os.pipe()
        self.log_path = os.path.join(base, "gateway.log")
        with open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "gateway.py"),
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--trace", str(args.trace),
                 "--work", os.path.join(base, "run"),
                 "--ctl-in", str(in_r), "--ctl-out", str(out_w)],
                cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=log,
                stderr=subprocess.STDOUT, pass_fds=(in_r, out_w),
                start_new_session=True,
            )
        os.close(in_r)
        os.close(out_w)
        self._buf = b""

    def _read_line(self) -> dict:
        while b"\n" not in self._buf:
            left = self.deadline - time.monotonic()
            if left <= 0:
                raise TimeoutError("gateway reply overran the run deadline")
            ready, _, _ = select.select([self._out_r], [], [], left)
            if not ready:
                continue
            chunk = os.read(self._out_r, 1 << 20)
            if not chunk:
                raise RuntimeError("gateway exited; see " + self.log_path)
            self._buf += chunk
        line, self._buf = self._buf.split(b"\n", 1)
        msg = json.loads(line)
        if not msg.get("ok"):
            raise RuntimeError("gateway error:\n" + msg.get("error", ""))
        return msg

    def ready(self) -> dict:
        return self._read_line()

    def call(self, cmd: str, **kw) -> dict:
        os.write(self._in_w, (json.dumps({"cmd": cmd, **kw}) + "\n")
                 .encode())
        return self._read_line()

    def stop(self) -> None:
        """Stop the gateway and everything it started (JVM, Python
        workers), and wait until all of them have ended."""
        try:
            os.close(self._in_w)
        except OSError:
            pass
        try:
            self.proc.wait(timeout=max(1.0, min(
                20.0, self.deadline - time.monotonic())))
        except subprocess.TimeoutExpired:
            pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            end = time.monotonic() + 5
            while time.monotonic() < end:
                try:
                    os.killpg(self.proc.pid, 0)
                except ProcessLookupError:
                    break
                time.sleep(0.05)
        if self.proc.poll() is None:
            self.proc.wait()
        os.close(self._out_r)


def http_get(port: int, path: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def http_post(port: int, path: str, body: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", path, body=body.encode(),
                     headers={"Content-Type": "application/x-ndjson"})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def read_loop(port: int, paths: list[str], cursor, stop: threading.Event,
              out: list) -> None:
    """One closed-loop connection: the next request goes out only when the
    previous response has been read. Connections share ``cursor``, so the
    run walks the query list once instead of repeating it per client."""
    while not stop.is_set():
        path = paths[next(cursor) % len(paths)]
        t = time.perf_counter()
        try:
            status, body = http_get(port, path)
        except OSError as exc:
            status, body = -1, str(exc).encode()
        out.append((time.perf_counter() - t, status,
                    None if status == 200 else f"{status} {path} "
                    + body[:300].decode(errors="replace")))


def read_window(port: int, paths: list[str], cursor, clients: int,
                seconds: float) -> dict:
    """Closed loop with ``clients`` connections for ``seconds``."""
    stop = threading.Event()
    samples: list[list] = [[] for _ in range(clients)]
    threads = [
        threading.Thread(target=read_loop,
                         args=(port, paths, cursor, stop, samples[c]))
        for c in range(clients)
    ]
    t0 = time.perf_counter()
    for th in threads:
        th.start()
    time.sleep(seconds)
    stop.set()
    for th in threads:
        th.join()
    wall = time.perf_counter() - t0
    flat = [s for per in samples for s in per]
    errors = [s[2] for s in flat if s[1] != 200]
    return {"lat": [s[0] for s in flat], "errors": len(errors),
            "error_samples": errors[:3], "n": len(flat), "wall": wall}


def metrics_snapshot(port: int) -> dict:
    status, body = http_get(port, "/metrics")
    if status != 200:
        raise RuntimeError(f"/metrics returned {status}")
    return json.loads(body)


def source_id() -> str:
    """git commit of the checkout, or a hash of the program's sources when
    the checkout is not a git repository."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return "git:" + out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "gofias_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "sources-sha256:" + h.hexdigest()


class Run:
    def __init__(self, args, gw: Gateway, ready: dict):
        self.args = args
        self.gw = gw
        self.cfg = W.WORKLOADS[args.workload]
        self.port = ready["port"]
        self.ready = ready
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.queries = W.make_queries(ready["vocab"], ready["langs"],
                                      args.seed, W.N_QUERIES)
        self.paths = [W.request_path(q) for q in self.queries]
        # one pass over the list across all windows of the run: a later
        # window never replays URLs the response cache already holds
        self.cursor = itertools.count()
        for name, chk in ready["checks"].items():
            self.check(name, chk["ok"])

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks[name] = self.checks.get(name, True) and bool(ok)

    def count_reads(self, win: dict) -> None:
        self.attempted += win["n"]
        self.failed += win["errors"]

    def guard(self) -> dict:
        """Route guard: every distinct query of the mix must take the
        workload's tier, with no Spark job, or the run measures the wrong
        thing and fails loudly."""
        g = self.gw.call("guard", queries=self.queries, sample=GUARD_SAMPLE)
        want = self.cfg["route"]
        wrong = {r: n for r, n in g["routes"].items() if r != want}
        if wrong or any(g["sample_jobs"]):
            raise GuardError(
                f"{self.args.workload}: expected route {want!r} with 0 "
                f"Spark jobs; got routes {g['routes']}, sample jobs "
                f"{g['sample_jobs']}, {self.ready['meta']['blocks']} "
                f"blocks vs resident budget {W.RESIDENT_BUDGET}")
        return g

    def bulk(self, batch: dict) -> float:
        t = time.perf_counter()
        try:
            status, _ = http_post(self.port, "/api/v1/bulk", batch["body"])
        except OSError:
            status = -1
        dt = time.perf_counter() - t
        self.attempted += 1
        self.failed += status != 200
        res = self.gw.call("check_bulk", upserted=batch["upserted"],
                           deleted=batch["deleted"])
        self.check("bulk_visibility", res["ok"])
        return dt

    def window(self, seconds: float, bulks: list[dict] | None) -> dict:
        """The measured phase: reads alone, or reads and bulks in turn.

        With ``bulks``, ``seconds`` of reads are split into equal phases
        before, between and after the bulks, and no read is in flight while
        a bulk is: ``FulltextAPI._reopen`` closes the old engine under
        reads that still hold it, and such reads fail (see NOTES.md)."""
        m0 = metrics_snapshot(self.port)
        self.gw.call("mark")
        bulk_s: list[float] = []
        clients = self.cfg["clients"]
        if not bulks:
            win = read_window(self.port, self.paths, self.cursor, clients,
                              seconds)
        else:
            phase = seconds / (len(bulks) + 1)
            parts = [read_window(self.port, self.paths, self.cursor,
                                 clients, phase)]
            for b in bulks:
                bulk_s.append(self.bulk(b))
                parts.append(read_window(self.port, self.paths, self.cursor,
                                         clients, phase))
            win = {"lat": [x for p in parts for x in p["lat"]],
                   "errors": sum(p["errors"] for p in parts),
                   "error_samples": [e for p in parts
                                     for e in p["error_samples"]][:3],
                   "n": sum(p["n"] for p in parts),
                   "wall": sum(p["wall"] for p in parts)}
        jobs = self.gw.call("jobs")["jobs"]
        m1 = metrics_snapshot(self.port)
        win["bulk_s"] = bulk_s
        win["jobs"] = jobs
        # /metrics sums every request; the first snapshot's own request and
        # the bulk POSTs are taken out (bulks by their client-side time)
        n_req = (m1["requests_total"] - m0["requests_total"] - 1
                 - len(bulk_s))
        win["handler_ms"] = 1e3 * (
            m1["latency_sum_secs"] - m0["latency_sum_secs"] - sum(bulk_s)
        ) / max(1, n_req)
        hits = m1["cache_hits"] - m0["cache_hits"]
        misses = m1["cache_misses"] - m0["cache_misses"]
        win["cache_hit_ratio"] = hits / max(1, hits + misses)
        self.count_reads(win)
        return win


def run(args) -> tuple[dict, dict]:
    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    deadline = time.monotonic() + DEADLINE_S
    gw = Gateway(args, base, nproc, deadline)
    try:
        return measure(args, gw, gw.ready(), nproc)
    finally:
        gw.stop()
        shutil.rmtree(os.path.join(base, "run"), ignore_errors=True)
        shutil.rmtree(os.path.join(base, "tmp"), ignore_errors=True)


def measure(args, gw: Gateway, ready: dict, nproc: int) -> tuple[dict, dict]:
    laps: dict[str, float] = {}
    t_lap = [time.monotonic()]

    def lap(name: str) -> None:
        now = time.monotonic()
        laps[name] = now - t_lap[0]
        t_lap[0] = now

    r = Run(args, gw, ready)
    cfg = r.cfg
    g = r.guard()
    lap("guard")
    # untimed warm-up of the HTTP path (first-call imports in pandas paths)
    # that also lets the JVM settle after the set-up's Spark jobs
    read_window(r.port, r.paths, r.cursor, cfg["clients"], WARMUP_S)
    ingest = args.workload == "ingest"
    bulks = W.make_bulks(
        ready["vocab"], ready["langs"], ready["keys"], args.seed,
        n_batches=cfg["bulks"] if ingest else 1,
        n_index=W.BULK_INDEX if ingest else 0,
        n_delete=W.BULK_DELETE if ingest else W.QUERY_DELETE)
    layers: dict = {}
    if args.trace:
        # tracing overhead: the same read load with spans off, then on
        # (ingest halves them; its traced write window follows)
        half = args.seconds / 2 if ingest else args.seconds
        gw.call("trace", on=False)
        off = r.window(half, None)
        gw.call("trace", on=True, window="open")
        on = r.window(half, None)
        main = r.window(args.seconds, bulks) if ingest else on
        gw.call("trace", on=True, window="close")
        base_p50 = W.median(off["lat"]) * 1e3
        layers["trace.overhead_ms"] = W.median(on["lat"]) * 1e3 - base_p50
        layers["trace.overhead_pct"] = (
            100 * layers["trace.overhead_ms"] / base_p50)
    else:
        main = r.window(args.seconds, bulks if ingest else None)
    lap("windows")
    if not ingest:
        main["bulk_s"] = [r.bulk(b) for b in bulks]
        lap("bulk")
    # a read-only window on a driver tier must not start a single Spark job
    if not ingest and main["jobs"]:
        raise GuardError(f"{main['jobs']} Spark jobs ran during the "
                         f"{cfg['route']}-tier read window")
    r.check("fsck_after_bulk", gw.call("fsck")["ok"])
    lap("fsck")
    if args.trace:
        layers.update(gw.call("probes", queries=r.queries[:40],
                              materialize=5, docs=2000))
    fin = gw.call("finish")
    lap("finish")

    meta = ready["meta"]
    setup = ready["setup"]
    lat = main["lat"]
    if args.trace:
        layers.update(fin["layers"])
        layers.update({
            "index.store.segments": fin["segments"],
            "query.engine.posting_volume": g["posting_volume_mean"],
            "query.engine.spark_jobs_per_query":
                sum(g["sample_jobs"]) / max(1, len(g["sample_jobs"])),
            "server.handler_ms": main["handler_ms"],
            "server.wait_ms": 1e3 * sum(lat) / max(1, len(lat))
            - main["handler_ms"],
            "server.cache_hit_ratio": main["cache_hit_ratio"],
        })
        for route in ("local", "serve", "distributed"):
            layers[f"query.engine.route.{route}"] = g["routes"].get(route, 0)
        missing = PER_LAYER - layers.keys()
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
        metrics = {k: {"value": v, "unit": UNITS[k]}
                   for k, v in sorted(layers.items()) if k in PER_LAYER}
    else:
        e2e = {
            "setup_s": setup["setup_s"],
            "http_p50_ms": W.percentile(lat, 50) * 1e3,
            "http_qps": main["n"] / main["wall"],
            "build_files_per_s": meta["n_docs"] / setup["build_s"],
            "bulk_p50_s": W.median(main["bulk_s"]),
            "index_bytes_per_input_byte":
                meta["index_bytes"] / meta["content_bytes"],
            "peak_rss_mb": fin["rss"]["total_mb"],
        }
        metrics = {k: {"value": v, "unit": UNITS[k]}
                   for k, v in e2e.items()}
    info = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": nproc,
        "spark_master": meta["master"], "driver_memory": meta["driver_memory"],
        "source": source_id(), "n_docs": meta["n_docs"],
        "blocks": meta["blocks"], "resident_budget": meta["resident_budget"],
        "tier": meta["tier"], "routes": g["routes"],
        "read_samples": main["n"], "bulks": len(main["bulk_s"]),
        "http_p95_ms": W.percentile(lat, 95) * 1e3,
        "http_p99_ms": W.percentile(lat, 99) * 1e3,
        "read_errors": main["errors"],
        "read_error_samples": main["error_samples"], "cache_hit_ratio":
            main["cache_hit_ratio"], "spark_jobs_in_window": main["jobs"],
        "setup": setup,
        "rss": fin["rss"], "checks": r.checks,
        "index_bytes_by_kind": meta["index_bytes_by_kind"],
        "client_laps_s": laps,
    }
    # correct = every correctness check passed; a non-200 response is a
    # failed operation (counted in `failed`), not a wrong answer
    result = {"correct": all(r.checks.values()),
              "attempted": r.attempted, "failed": r.failed,
              "metrics": metrics}
    return info, result


UNITS: dict[str, str] = {}
PER_LAYER: set[str] = set()


def load_spec() -> None:
    """Metric names and units come from BENCHMARK.json beside the code."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for m in spec["end_to_end"] + spec["per_layer"]:
        UNITS[m["name"]] = m["unit"]
    PER_LAYER.update(m["name"] for m in spec["per_layer"])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "gofias_spark", "__init__.py")):
        print(f"perfbench: no gofias_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    load_spec()
    try:
        info, result = run(args)
    except GuardError as exc:
        print(f"perfbench: route guard failed: {exc}", file=sys.stderr)
        return 3
    except (RuntimeError, TimeoutError, OSError) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        log = os.path.join(ROOT, ".perfbench_work", "gateway.log")
        if os.path.exists(log):
            with open(log, errors="replace") as f:
                tail = f.read()[-4000:]
            print("--- gateway log tail ---\n" + tail, file=sys.stderr)
        return 1
    print(json.dumps({"run": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
