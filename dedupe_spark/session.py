"""SparkSession factory with the configs the pipeline depends on.

Local mode is a stand-in for a multi-executor cluster: everything here
(AQE, skew-join splitting, runtime bloom-filter joins, Arrow batching)
is exactly what a 1000-executor deployment would set; only master() and
the memory numbers change. On a real cluster this module is used
unchanged via ``spark-submit --py-files dedupe_spark.zip job.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Cores this process may run on; ``SPARK_GRAFT_CPUS`` overrides."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory(cpus: int) -> str:
    """Driver heap sized to the machine: 768 MB per core, at most a third
    of the memory available now, at least 1 GB. ``SPARK_GRAFT_DRIVER_MEM``
    overrides."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    with open("/proc/meminfo") as f:
        avail_kb = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    return f"{max(1024, min(768 * cpus, avail_kb // 1024 // 3))}m"


def build_session(
    app_name: str = "dedupe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for the dedupe pipeline."""
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    # Shuffle partitions: ~2-3x total cores is the classic rule; here we
    # match the core count. At 100 TB you would raise this to O(10k) and
    # let AQE coalesce — AQE is on, so the static number only sets the
    # upper bound before runtime coalescing.
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    # Shuffle spill/block files on tmpfs: this sandbox's disk is slow
    # enough that concurrent shuffle writers at local[32] invert scaling
    # (measured 3.85s -> 1.58s on a 50M-row groupBy). On a real cluster
    # spark.local.dir points at executor-local NVMe — same role.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    try:
        os.makedirs(local_dir, exist_ok=True)
    except OSError:
        local_dir = None

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- AQE: runtime re-planning, partition coalescing, skew splits ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce the stages that build persisted frames too
        # (docs, repeated_blocks): by default Spark keeps them at
        # spark.sql.shuffle.partitions, and at small inputs each extra
        # task (a pandas-UDF task pays a Python worker round trip) costs
        # more than its rows. Spark documents the cost: a read of cached
        # data may then need an extra shuffle. With broadcast joins off,
        # as a stand-in for large inputs, run() on transcripts(120) went
        # from 29 to 30 stages; at bench sizes it runs one fewer.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Runtime bloom-filter join: Spark injects a bloom filter built from
        # the small join side into the large side's scan — the engine-level
        # analog of the reference's HashDB bloom negative-lookup
        # (/root/reference/src/HashDB.cpp:372,429-431).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # --- shuffle / memory ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", default_driver_memory(cpus))
        .config("spark.driver.maxResultSize", "4g")
        # --- Arrow: every pandas UDF crossing is Arrow-batched ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- determinism / oracle comparability ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
