"""SparkSession factory with the engine's tuned defaults.

Local-mode testing uses ``local[N]``; the same configuration scales to a real
cluster — everything scale-sensitive is expressed via partitioning (see
IndexConfig.n_buckets), not via local-mode assumptions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Allocator tuning for Python workers (and the driver process).
#
# Measured on this host (32-core KVM guest): concurrent Python workers doing
# large transient allocations (numpy sort buffers, Arrow string batches)
# spend up to 95% of CPU in the KERNEL at 32-way parallelism — every big
# malloc becomes an mmap, every free a munmap, and the resulting page-fault +
# TLB-shootdown storm scales with core count (identical job: 2.3s at 8 procs,
# 15-200s at 32). Forcing glibc to retain and reuse freed memory (no
# mmap/munmap churn) and routing pyarrow's pool through glibc makes worker
# heaps warm after the first task per worker: measured 4.8x on the 32-way
# microbenchmark, and it is THE lever that makes build scaling efficiency
# possible on shared-memory hosts. On a real cluster the same flags apply
# per-executor via spark.executorEnv (set below).
_ALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
    "MALLOC_TOP_PAD_": "268435456",
    "MALLOC_MMAP_MAX_": "0",
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}


def _tune_allocators() -> None:
    for k, v in _ALLOC_ENV.items():
        os.environ.setdefault(k, v)


def get_spark(
    app_name: str = "gofias_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _tune_allocators()
    master = master or os.environ.get("GOFIAS_SPARK_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cpus:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = _parallelism_of(master)
        shuffle_partitions = max(8, n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        # local mode: executors live in the driver JVM — size it to the box
        # (spilling the build's one content shuffle to disk is what kills
        # scaling; see scripts/run_scaling.py)
        .config(
            "spark.driver.memory",
            os.environ.get("GOFIAS_DRIVER_MEM") or default_driver_memory(),
        )
        # ParallelGC: measured 6-15x faster than default G1 on this engine's
        # string-churn stages (regex tokenize, sha2, Arrow encode) AND it
        # scales with threads where G1 anti-scales (local[8] 30s -> local[32]
        # 63s under G1 vs 5.1s -> 4.3s under ParallelGC on the same job).
        # Applied to driver (local mode = executor JVM) and executors (real
        # clusters) alike.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        # partitionBy writes: concurrent writers instead of a full sort by
        # the partition column (preserves our term-sorted row order too)
        .config("spark.sql.maxConcurrentOutputFileWriters", "256")
        # parquet scans: keep row groups prunable on the postings `term` column
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
    )
    # allocator tuning for executor python workers on real clusters (in local
    # mode the workers inherit the driver process env set above)
    for k, v in _ALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` when ``GOFIAS_DRIVER_MEM`` is unset: half
    the host's ``MemTotal``, at least 1g and at most 48g. A fixed 48g let
    the heap of a long local session (the test suite) outgrow a 15 GB
    host. Without a readable ``meminfo``: 48g."""
    cap_gb = 48
    try:
        with open(meminfo) as f:
            kb = next(
                int(line.split()[1]) for line in f
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{cap_gb}g"
    return f"{min(cap_gb, max(1, kb // (2 * 1024 * 1024)))}g"


def _ship_package(spark: SparkSession) -> None:
    """Make ``gofias_spark`` importable on executor Python workers, the
    programmatic equivalent of ``spark-submit --py-files gofias_spark.zip``
    (the deployment mode mandated by BASELINE.json). Idempotent."""
    import zipfile
    from pathlib import Path
    from tempfile import gettempdir

    pkg_dir = Path(__file__).resolve().parent
    zip_path = Path(gettempdir()) / f"gofias_spark_pyfiles_{os.getpid()}.zip"
    if not zip_path.exists():
        with zipfile.ZipFile(zip_path, "w") as zf:
            for p in sorted(pkg_dir.rglob("*.py")):
                zf.write(p, f"gofias_spark/{p.relative_to(pkg_dir)}")
    try:
        spark.sparkContext.addPyFile(str(zip_path))
    except Exception:
        pass  # already added in this context


def _parallelism_of(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return 32
