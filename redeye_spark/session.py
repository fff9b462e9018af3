"""SparkSession construction with the pipeline's tuned configuration.

The Arrow batch size is the Spark analog of redeye's --input-buffer
(src/bin/redeye.rs:47-53): it bounds the unit of work crossing the
JVM→Python boundary. AQE is on for runtime coalesce + skew-join splitting;
hot-key *aggregation* skew is additionally handled by explicit salting in
operators/aggregate.py (north_rule requires explicit skew mitigation).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ~10k rows/batch: large enough to amortize Arrow IPC + regex setup,
    # small enough to keep per-batch memory bounded at wide rows.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Parquet scans: keep splits big enough that the regex UDF dominates,
    # not task scheduling; 128 MiB default is right at cluster scale.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # NOTE: partitionOverwriteMode is set PER WRITE in sources/io.py:
    # plain overwrite uses static (a global dynamic default would leave
    # stale partitions behind on full overwrites), checkpoint chunk
    # commits use dynamic for idempotent re-runs.
    # Without concurrent writers, partitionBy() falls back to a
    # sort-based writer that materializes+spills each task's whole
    # output before writing — 4x slower when the source is the parse
    # UDF. 10 covers #sinks (+1 spare); memory = writers x row-group.
    "spark.sql.maxConcurrentOutputFileWriters": "10",
    # partitionBy(sink) writes open (#sinks x #tasks) parquet writers; the
    # default 128 MB row-group buffer makes parquet's MemoryManager thrash
    # at high task counts (write anti-scaled 2x going 8->32 threads).
    # 16 MB keeps aggregate writer memory bounded; raise on clusters with
    # more memory per writer for better scan-side row groups.
    "spark.hadoop.parquet.block.size": str(16 * 1024 * 1024),
    # v2 commit: task outputs move to the destination at task commit,
    # instead of a sequential driver-side directory merge at job commit
    # — the job-commit wall is O(1) instead of O(files). The v2
    # trade-off (a mid-job failure can leave partial files behind) is
    # acceptable for overwrite-mode analytic outputs; flows needing
    # atomic publish (checkpoint chunk commits) already route through
    # dynamic partition overwrite, which stages per-partition.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
}

# Shuffle/spill scratch space: tmpfs when available. The sandbox's root
# disk writes ~150 MB/s and serializes every shuffle; a cluster's NVMe +
# network fabric does not have that single-spindle bottleneck, so local
# benchmarking against tmpfs is the faithful proxy.
_TMPFS = "/dev/shm"


def _local_dir() -> str | None:
    import tempfile

    if os.path.isdir(_TMPFS) and os.access(_TMPFS, os.W_OK):
        d = os.path.join(_TMPFS, "spark-local")
        os.makedirs(d, exist_ok=True)
        return d
    return None


def driver_memory() -> str:
    """$SPARK_GRAFT_DRIVER_MEM, else ~40% of host RAM capped at 48g.

    In local mode the driver heap holds every executor thread's working
    set, but it shares the host with the Python workers (one per task
    slot) and the page cache, so a heap near RAM size gets the JVM
    OOM-killed instead of garbage-collected."""
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(48 * 1024, host_mb * 2 // 5)}m"


def get_spark(
    app_name: str = "redeye_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    master defaults to $SPARK_GRAFT_MASTER or local[$SPARK_GRAFT_CPUS],
    where the CPU count defaults to this process's usable cores; on a real
    cluster pass None and let spark-submit own it.
    """
    builder = SparkSession.builder.appName(app_name)
    # local-mode driver == all executors: size the heap for the thread
    # count (default 1g thrashes with 32 concurrent parquet writers).
    builder = builder.config("spark.driver.memory", driver_memory()).config(
        "spark.driver.maxResultSize", "4g"
    )
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if os.environ.get("REDEYE_EVENTLOG"):
        # measurement hook (guide §1): event logs for any session,
        # including bench exec-workers, without touching the harness
        os.makedirs("/tmp/spark-events", exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file:///tmp/spark-events"
    ld = _local_dir()
    if ld:
        conf.setdefault("spark.local.dir", ld)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    # Parallel (throughput) GC: the pipeline's executors run 2-8 core
    # slices with 12g heaps and allocation-heavy Arrow->row conversion;
    # G1's concurrent cycles compete with the pinned task cores there.
    # Appended so a caller's own extraJavaOptions (e.g. the bench's
    # ActiveProcessorCount pin) are preserved.
    _jk = "spark.driver.extraJavaOptions"
    if "UseG1GC" not in conf.get(_jk, ""):
        conf[_jk] = (conf.get(_jk, "") + " -XX:+UseParallelGC").strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
