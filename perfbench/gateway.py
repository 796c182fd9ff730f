"""Gateway process of the benchmark.

Builds the workload's index from a seeded synthetic corpus, opens it the way
``scripts/serve.py`` does (``FulltextAPI`` + ``warm()`` behind
``server.serve``), and then answers the load client's control commands:
route guard, correctness checks and, in the traced run, span aggregates.
The load itself comes over HTTP from the client process, so client-side work
never holds this interpreter's GIL.

Control protocol: one JSON object per line on the ``--ctl-in`` pipe, one
JSON reply per line on ``--ctl-out``. Spark's own output goes to this
process's stdout/stderr, which the client sends to a log file.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import http.client  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import workload as W  # noqa: E402


def _kb(status_path: str, key: str) -> int:
    try:
        with open(status_path) as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _child_pids(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces: ppid is the 2nd field after the ")"
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(d))
    return out


def peak_rss_mb() -> dict:
    """High-water RSS of this (driver Python) process and of its JVM."""
    py = _kb("/proc/self/status", "VmHWM")
    jvm = 0
    for c in _child_pids(os.getpid()):
        try:
            with open(f"/proc/{c}/comm") as f:
                if f.read().strip() == "java":
                    jvm += _kb(f"/proc/{c}/status", "VmHWM")
        except OSError:
            pass
    return {"python_mb": py / 1024.0, "jvm_mb": jvm / 1024.0,
            "total_mb": (py + jvm) / 1024.0}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Jobs:
    """Spark job counter over ``statusTracker`` (jobs outside any group)."""

    def __init__(self, sc):
        self.sc = sc
        self.st = sc.statusTracker()

    def ids(self) -> set[int]:
        return set(self.st.getJobIdsForGroup(None))

    def tasks(self, job_ids) -> int:
        n = 0
        for j in job_ids:
            info = self.st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = self.st.getStageInfo(s)
                n += si.numTasks if si else 0
        return n

    def in_group(self, gid: str, fn) -> int:
        """Run ``fn`` under job group ``gid``; returns its number of jobs."""
        self.sc.setJobGroup(gid, "perfbench route guard")
        try:
            fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        return len(self.st.getJobIdsForGroup(gid))


class Harness:
    def __init__(self, args):
        self.args = args
        self.cfg = W.WORKLOADS[args.workload]
        self.work = args.work
        self.root = os.path.join(self.work, "index")
        self.tracer = None
        self.setup: dict = {}
        self.meta: dict = {}
        self.layers: dict = {}
        self.windows: list[tuple[float, float]] = []
        self.bulk_jobs: list[int] = []
        self._mark: set[int] = set()

    # -- set-up -------------------------------------------------------------
    def start(self) -> dict:
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer()
            self.tracer.enabled = True
        from gofias_spark.session import get_spark

        self.spark = get_spark("gofias_serve")
        sc = self.spark.sparkContext
        self.setup["session_s"] = time.perf_counter() - PROCESS_T0
        self.jobs = Jobs(sc)
        if self.tracer is not None:
            self._install_wrappers()

        from pyspark.sql import functions as F

        from gofias_spark.api import FulltextAPI
        from gofias_spark.config import IndexConfig
        from gofias_spark.corpus import synth_corpus_distributed
        from gofias_spark.index.build import build_segment
        from gofias_spark.server import serve

        # one generator task per core: extra tasks only add scheduling
        n_parts = sc.defaultParallelism
        seed = self.args.seed
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        # the input table is materialized first, so the timed build reads a
        # source table and does not also run the corpus generator
        t = time.perf_counter()
        src = os.path.join(self.work, "input")
        synth_corpus_distributed(
            self.spark, self.cfg["n_docs"], seed, num_parts=n_parts
        ).write.parquet(src)
        docs = self.spark.read.parquet(src)
        self.docs = docs
        self.setup["input_gen_s"] = time.perf_counter() - t

        self.setup["warmup_build_s"] = 0.0
        if "warmup_docs" in self.cfg:
            # small untimed warm-up build, as in bench.py: the timed build
            # then measures the build, not the session's first-build JIT
            wsrc = os.path.join(self.work, "warmup_input")
            synth_corpus_distributed(
                self.spark, self.cfg["warmup_docs"], seed + 1,
                num_parts=n_parts).write.parquet(wsrc)
            t = time.perf_counter()
            build_segment(self.spark, self.spark.read.parquet(wsrc),
                          os.path.join(self.work, "warmup_index"),
                          IndexConfig(n_buckets=8))
            self.setup["warmup_build_s"] = time.perf_counter() - t

        before = self.jobs.ids()
        t = time.perf_counter()
        manifest = build_segment(self.spark, docs, self.root,
                                 IndexConfig(n_buckets=self.cfg["n_buckets"]))
        self.setup["build_s"] = time.perf_counter() - t
        build_jobs = self.jobs.ids() - before

        from gofias_spark.index.store import IndexStore

        store = IndexStore(self.root)
        parts = [p for s in manifest["segments"]
                 for p in store.read_seg_meta(s).partitions]
        part_s = [float(p.get("build_secs", 0.0)) for p in parts]
        kinds = {}
        for s in manifest["segments"]:
            for kind in ("postings", "doc_meta", "term_stats"):
                kinds[kind] = kinds.get(kind, 0) + dir_bytes(
                    str(store.seg_dir(s) / kind))
        self.meta.update(index_bytes=dir_bytes(self.root),
                         index_bytes_by_kind=kinds)
        self.layers.update({
            "index.build.wall_s": self.setup["build_s"],
            "index.build.part_s_p50": W.median(part_s),
            "index.build.part_s_max": max(part_s),
            "index.build.spark_jobs": len(build_jobs),
            "index.build.spark_tasks": self.jobs.tasks(build_jobs),
            "index.store.bytes_postings": kinds["postings"],
            "index.store.bytes_doc_meta": kinds["doc_meta"],
            "index.store.bytes_term_stats": kinds["term_stats"],
        })
        t = time.perf_counter()
        self.api = FulltextAPI(self.spark, self.root)
        self.setup["open_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.api.engine.warm()
        self.setup["warm_s"] = time.perf_counter() - t
        self.server, _ = serve(self.api, "127.0.0.1", 0)
        self.setup["setup_s"] = (
            self.setup["session_s"] + self.setup["warmup_build_s"]
            + self.setup["build_s"] + self.setup["open_s"]
            + self.setup["warm_s"]
        )
        self.layers.update({
            "session.start_s": self.setup["session_s"],
            "query.engine.open_s": self.setup["open_s"],
            "query.engine.warm_s": self.setup["warm_s"],
        })

        # untimed checks of the fresh index, run concurrently
        t = time.perf_counter()
        facts = W.corpus_facts([
            tuple(r) for r in docs.select("repo", "path", "lang", "content")
            .limit(W.FACT_DOCS).collect()
        ])
        queries = W.make_queries(facts["vocab"], facts["langs"], seed,
                                 W.N_QUERIES)
        with ThreadPoolExecutor(4) as pool:
            sha = pool.submit(self._check_sha, docs)
            fsck = pool.submit(self.fsck)
            naive = [pool.submit(self._naive, q)
                     for q in W.naive_sample(queries, seed)]
            size = docs.agg(
                F.count("*").alias("n"),
                F.sum(F.octet_length("content")).alias("content_bytes"),
            ).first()
            checks = {"sha256": sha.result(), "fsck_build": fsck.result(),
                      "naive_bm25": {"ok": all(f.result() for f in naive)}}
        self.setup["checks_s"] = time.perf_counter() - t
        eng = self.api.engine
        self.meta.update(
            n_docs=int(size["n"]), content_bytes=int(size["content_bytes"]),
            blocks=int(eng.postings.count()),
            resident_budget=W.RESIDENT_BUDGET,
            tier=("local" if eng._local_blocks is not None
                  else "serve" if eng._serve is not None else "distributed"),
            master=sc.master,
            driver_memory=sc.getConf().get("spark.driver.memory"),
        )
        return {
            "port": self.server.server_address[1], "setup": self.setup,
            "meta": self.meta, "checks": checks, **facts,
        }

    def _check_sha(self, docs) -> dict:
        """doc_meta sha256 must equal sha2(content) of the input rows, for
        every input row."""
        from pyspark.sql import functions as F

        from gofias_spark.index.store import IndexStore

        store = IndexStore(self.root)
        segs = store.read_manifest()["segments"]
        meta = self.spark.read.parquet(
            *[str(store.seg_dir(s) / "doc_meta") for s in segs]
        ).select("repo", "path", "commit", "sha256")
        joined = docs.join(meta, ["repo", "path", "commit"], "full_outer")
        bad = joined.filter(
            F.col("sha256").isNull() | F.col("content").isNull()
            | (F.col("sha256") != F.sha2(F.col("content"), 256))
        ).count()
        return {"ok": bad == 0, "mismatched_rows": bad}

    def fsck(self) -> dict:
        from gofias_spark.index.fsck import check_index

        rep = check_index(self.spark, self.root)
        return {"ok": bool(rep["ok"]), "errors": rep["errors"][:5]}

    # -- tracing --------------------------------------------------------------
    def _install_wrappers(self) -> None:
        from gofias_spark import api as api_mod
        from gofias_spark import server
        from gofias_spark.index import merge
        from gofias_spark.query import engine, kernel
        from gofias_spark.query import serve as serve_mod

        tr = self.tracer
        rows = lambda a, k, out: {"rows": len(out) if out is not None else 0}  # noqa: E731
        blocks = lambda a, k, out: {"blocks_in": len(a[0])}  # noqa: E731
        tr.install(engine, "analyze_query", "analyzer.analyze_query")
        tr.install(kernel, "decode_blocks_concat",
                   "index.codec.decode_blocks_concat",
                   lambda a, k, out: {"postings": int(out[0].size)})
        for fn in ("score_and", "score_or", "count_and"):
            tr.install(kernel, fn, f"query.kernel.{fn}", blocks)
        tr.install(serve_mod.ServeCache, "fetch", "query.serve.fetch", rows)
        tr.install(serve_mod.ServeCache, "fetch_meta",
                   "query.serve.fetch_meta", rows)
        tr.install(engine.SearchEngine, "search", "query.engine.search")
        tr.install(engine.SearchEngine, "count", "query.engine.count")
        tr.install(engine.SearchEngine, "__init__", "query.engine.open")
        tr.install(engine.SearchEngine, "warm", "query.engine.warm")
        tr.install(api_mod.FulltextAPI, "bulk", "api.bulk")

        orig_delta = merge.apply_delta

        def apply_delta(*a, **k):
            before = self.jobs.ids()
            try:
                return orig_delta(*a, **k)
            finally:
                self.bulk_jobs.append(len(self.jobs.ids() - before))

        merge.apply_delta = tr.wrap(apply_delta, "index.merge.apply_delta")

        orig_make = server.make_handler

        def make_handler(api, cache_size=256):
            base = orig_make(api, cache_size)

            class Traced(base):
                def do_GET(self):  # noqa: N802 (stdlib API)
                    sp = tr.open("server.request", op=W.op_of(self.path))
                    try:
                        super().do_GET()
                    finally:
                        tr.close(sp)

                def do_POST(self):  # noqa: N802 (stdlib API)
                    sp = tr.open("server.request", op="bulk")
                    try:
                        super().do_POST()
                    finally:
                        tr.close(sp)

            return Traced

        server.make_handler = make_handler

    # -- commands -------------------------------------------------------------
    def _engine_call(self, call: dict, **extra):
        eng = self.api.engine
        if call["count"]:
            return eng.count(call["query"], filters=call["filters"])
        return eng.search(call["query"], k=W.PAGE_SIZE, mode=call["mode"],
                          filters=call["filters"], sort_by=call["sort_by"],
                          **extra)

    def cmd_guard(self, msg: dict) -> dict:
        """Route of every distinct query of the mix per ``explain_query``,
        plus Spark jobs per query for a sample run under job groups."""
        eng = self.api.engine
        routes: dict[str, int] = {}
        vols = []
        seen = {}
        for q in msg["queries"]:
            call = W.engine_call(q)
            key = json.dumps(call, sort_keys=True)
            if key not in seen:
                seen[key] = call
                ex = eng.explain_query(call["query"], filters=call["filters"],
                                       mode=call["mode"])
                routes[ex["route"]] = routes.get(ex["route"], 0) + 1
                vols.append(ex.get("posting_volume", 0))
        jobs = []
        for i, call in enumerate(list(seen.values())[: msg["sample"]]):
            jobs.append(self.jobs.in_group(
                f"perfbench-guard-{i}",
                lambda c=call: self._engine_call(c, as_pandas=True)))
        return {"routes": routes, "distinct": len(seen),
                "posting_volume_mean": sum(vols) / max(1, len(vols)),
                "sample_jobs": jobs}

    def cmd_mark(self, msg: dict) -> dict:
        self._mark = self.jobs.ids()
        return {}

    def cmd_jobs(self, msg: dict) -> dict:
        return {"jobs": len(self.jobs.ids() - self._mark)}

    def cmd_check_bulk(self, msg: dict) -> dict:
        """After a bulk acknowledgement: every upserted key live with the
        upserted content, every deleted key absent."""
        from pyspark.sql import functions as F

        want = {f"{r}\x00{p}": sha for r, p, sha in msg["upserted"]}
        gone = {f"{r}\x00{p}" for r, p in msg["deleted"]}
        key = F.concat_ws("\x00", "repo", "path")
        rows = (self.api.engine.get_doc()
                .filter(key.isin(list(want) + list(gone)))
                .select(key.alias("k"), "sha256").collect())
        live = {}
        for r in rows:
            live.setdefault(r["k"], []).append(r["sha256"])
        missing = [k for k, sha in want.items() if live.get(k) != [sha]]
        present = [k for k in gone if k in live]
        return {"ok": not missing and not present,
                "missing": len(missing), "still_present": len(present)}

    def _naive(self, q: dict) -> bool:
        """The gateway's answer to ``q`` vs ``naive_bm25`` over the live doc
        store: same top-k doc order, scores within rtol 1e-9."""
        from gofias_spark.query.naive import naive_bm25

        conn = http.client.HTTPConnection(
            "127.0.0.1", self.server.server_address[1], timeout=60)
        try:
            conn.request("GET", W.request_path(q))
            resp = conn.getresponse()
            body = resp.read()
        finally:
            conn.close()
        if resp.status != 200:
            return False
        got = [(it["doc_id"], it["score"]) for it in json.loads(body)["items"]]
        live = self.api.engine.get_doc().select("doc_id", "content")
        ref = naive_bm25(live, q["terms"], k=W.PAGE_SIZE,
                         mode=W.engine_call(q)["mode"]).collect()
        return [r["doc_id"] for r in ref] == [g[0] for g in got] and all(
            abs(r["score"] - g[1]) <= 1e-9 * abs(r["score"])
            for r, g in zip(ref, got)
        )

    def cmd_fsck(self, msg: dict) -> dict:
        return self.fsck()

    def cmd_trace(self, msg: dict) -> dict:
        """Switch span recording; ``window`` "open"/"close" marks the read
        window whose requests the per-layer aggregates cover."""
        self.tracer.enabled = bool(msg["on"])
        now = time.perf_counter()
        if msg.get("window") == "open":
            self.windows.append((now, float("inf")))
        elif msg.get("window") == "close":
            self.windows[-1] = (self.windows[-1][0], now)
        return {}

    def cmd_probes(self, msg: dict) -> dict:
        """Direct engine and codec probes of the traced run."""
        import numpy as np
        import pyarrow as pa

        from gofias_spark.analyzer import term_frequencies_coded
        from gofias_spark.config import AnalyzerConfig
        from gofias_spark.index.codec import encode_blocks_arrow

        self.tracer.enabled = False
        calls = [W.engine_call(q) for q in msg["queries"]]
        calls = [c for c in calls if not c["count"] and not c["sort_by"]
                 and not c["filters"]]
        lat = {"meta": [], "nometa": [], "df": []}
        eng = self.api.engine
        for c in calls:
            for name, kw in (("meta", {"as_pandas": True}),
                             ("nometa", {"as_pandas": True,
                                         "with_meta": False})):
                t = time.perf_counter()
                self._engine_call(c, **kw)
                lat[name].append(time.perf_counter() - t)
        for c in calls[: msg["materialize"]]:
            t = time.perf_counter()
            eng.search(c["query"], k=W.PAGE_SIZE, mode=c["mode"]).collect()
            lat["df"].append(time.perf_counter() - t)
        search = W.median(lat["meta"]) * 1e3
        nometa = W.median(lat["nometa"]) * 1e3
        # same queries, DataFrame result: materialize = collect - as_pandas
        pdf_ms = W.median(lat["meta"][: len(lat["df"])]) * 1e3
        out = {
            "query.engine.search_ms": search,
            "query.engine.search_nometa_ms": nometa,
            "query.engine.meta_attach_ms": search - nometa,
            "query.engine.materialize_ms": W.median(lat["df"]) * 1e3 - pdf_ms,
        }
        texts = self.docs.select("content").limit(msg["docs"]).toPandas()
        content = pa.array(texts["content"], type=pa.string())
        ids = np.arange(len(content), dtype=np.int64)
        mb = content.nbytes / 1e6
        tok, enc = [], []
        for _ in range(3):
            t = time.perf_counter()
            res = term_frequencies_coded(ids, content, AnalyzerConfig())
            tok.append(time.perf_counter() - t)
            t = time.perf_counter()
            encode_blocks_arrow(res["term_codes"], res["doc_id"], res["tf"],
                                res["dl"], 128)
            enc.append(time.perf_counter() - t)
        out["analyzer.tokenize_mb_per_s"] = mb / W.median(tok)
        out["index.codec.encode_postings_per_s"] = (
            res["doc_id"].size / W.median(enc))
        return out

    def cmd_finish(self, msg: dict) -> dict:
        rss = peak_rss_mb()
        out = {"rss": rss,
               "segments": len(self.api.engine.manifest["segments"]),
               "bulk_jobs": self.bulk_jobs}
        if self.tracer is not None:
            self.tracer.enabled = False
            from spans import aggregate

            out["layers"] = dict(self.layers)
            out["layers"].update(aggregate(self.tracer.spans, self.windows,
                                           self.bulk_jobs))
            # beside the work dir, which the client removes after the run
            self.tracer.dump(os.path.join(os.path.dirname(self.work),
                                          "spans.jsonl"))
        return out

    def stop(self) -> None:
        try:
            self.server.shutdown()
            self.api.close()
        finally:
            self.spark.stop()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--ctl-in", type=int, required=True)
    ap.add_argument("--ctl-out", type=int, required=True)
    args = ap.parse_args()
    cin = os.fdopen(args.ctl_in, "r")
    cout = os.fdopen(args.ctl_out, "w")

    def reply(obj) -> None:
        cout.write(json.dumps(obj) + "\n")
        cout.flush()

    h = Harness(args)
    try:
        reply({"ok": True, **h.start()})
    except Exception:  # report to the client, which fails the run
        reply({"ok": False, "error": traceback.format_exc()})
        return 1
    try:
        for line in cin:
            msg = json.loads(line)
            try:
                res = getattr(h, "cmd_" + msg["cmd"])(msg)
                reply({"ok": True, **res})
            except Exception:  # keep serving; the client fails the run
                reply({"ok": False, "error": traceback.format_exc()})
            if msg["cmd"] == "finish":
                break
    finally:
        t = time.perf_counter()
        h.stop()
        print(f"perfbench gateway: stopped in {time.perf_counter() - t:.2f}s",
              flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
