"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ~ cores (not 200), AQE on (runtime coalescing + skew-join
splitting), Arrow on for pandas UDFs, UTC session timezone so results are
comparable with the DuckDB oracle (DuckDB timestamps are UTC-naive).

At cluster scale the same builder is used by ``spark-submit --py-files``;
only ``master`` and the memory/shuffle knobs change via ``--conf``.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Scale-oriented defaults. On a real 1000-executor cluster the shuffle
# partition count is sized to ~2-3x total cores via --conf; AQE coalesces
# down at runtime so over-provisioning is safe, under-provisioning is not.
_BASE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Without this, materializing a cached plan compiles WITHOUT AQE and
    # loses runtime broadcast/skew conversions — measured 5x slower on the
    # validation union (persist+count 170s vs 33s plain).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.session.timeZone": "UTC",
    # MIN/MAX/COUNT of raw columns over a plain parquet scan answer from
    # footer statistics instead of reading data (metadata-only aggregates).
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batches for pandas UDFs: large enough to amortize the per-batch
    # python round-trip; 8192 rows of ~5KB capped PCM ≈ 40MB per batch.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
    # Python workers: keep allocator memory resident (no trim, no mmap for
    # big buffers, Arrow through system malloc). Repeated mmap/munmap of
    # Arrow batch buffers re-faults pages continuously; in a VM that first-
    # touch cost dominated the UDF stage at high parallelism (measured 27s
    # vs 5.8s for the identical 1M-row pass once workers stop churning).
    "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": "1073741824",
    "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "2147483647",
    "spark.executorEnv.MALLOC_ARENA_MAX": "2",
    "spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL": "system",
    "spark.ui.enabled": "false",
}


# Local-mode driver heap when SPARK_GRAFT_DRIVER_MEM is unset: this share of
# physical memory, capped. The heap is pinned and pre-touched (see below), so
# a heap the machine cannot back is OOM-killed at JVM start.
_HEAP_SHARE = 0.6
_HEAP_CAP_MB = 16 * 1024
_UNIT_MB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def physical_memory_mb() -> int:
    """Physical memory of this machine in MiB (Linux: /proc/meminfo MemTotal)."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)


def driver_heap(requested: str | None, total_mb: int) -> str:
    """The local driver heap as a JVM size string: ``requested`` if given
    (e.g. ``"8g"``, ``"4096m"``), else ~60% of ``total_mb`` capped at 16g.
    Raises ValueError for a malformed size or one above physical memory."""
    if requested is None:
        return f"{min(int(total_mb * _HEAP_SHARE), _HEAP_CAP_MB)}m"
    m = re.fullmatch(r"(\d+)([kmgt])", requested.strip().lower())
    if m is None:
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM={requested!r}: expected a size like 8g or 4096m"
        )
    if int(m[1]) * _UNIT_MB[m[2]] > total_mb:
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM={requested} exceeds this machine's "
            f"{total_mb} MiB of physical memory; the pinned, pre-touched heap "
            "would be OOM-killed at JVM start. Unset it for the default "
            f"({_HEAP_SHARE:.0%} of physical memory, at most 16g) or pick less."
        )
    return m[1] + m[2]


def get_spark(
    app_name: str = "data_check_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count so small-scale
    runs don't over-parallelize; cluster runs override via --conf.
    """
    # Builder options beat spark-submit's --master/--conf, so a submitted
    # master (yarn/k8s) must NOT be overridden by the local default, and
    # submitted --conf values must win over this module's defaults.
    from pyspark import SparkConf

    submit_conf = dict(SparkConf().getAll())
    submitted_master = submit_conf.get("spark.master")
    if master is None:
        if submitted_master:
            master = submitted_master
        else:
            cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
            master = f"local[{cpus}]"
    if shuffle_partitions is None and "spark.sql.shuffle.partitions" not in submit_conf:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "8"
        shuffle_partitions = 32 if inner == "*" else max(int(inner), 4)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if master.startswith("local"):
        mem = driver_heap(os.environ.get("SPARK_GRAFT_DRIVER_MEM"), physical_memory_mb())
        conf.setdefault("spark.driver.memory", mem)
        # Pin + pre-touch the heap and use a non-uncommitting GC: a growing
        # or shrinking heap re-faults pages continuously, and with 32 task
        # threads in ONE process the fault storm serializes on mmap_lock
        # (measured ~1.1M faults/sec, 80% sys time, 4x slower at local[32]
        # than local[8]). -Xms=-Xmx + AlwaysPreTouch + ParallelGC made the
        # 1M-row UDF pass 2.8s instead of 30-80s.
        conf.setdefault(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseParallelGC",
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        # A spark-submit --conf for the same key wins over this module's
        # defaults (explicit extra_conf still overrides).
        if k in submit_conf and k not in (extra_conf or {}):
            continue
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
