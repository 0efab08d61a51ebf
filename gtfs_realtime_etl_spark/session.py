"""SparkSession factory tuned for this engine.

The local master and shuffle partitions default to the cores this
process may run on (``SPARK_GRAFT_CPUS`` overrides), but every knob is
the one you would also set on a 1000-executor cluster:

- AQE on (runtime join re-planning, skew-join splitting, partition
  coalescing) so plans survive skewed / mis-estimated inputs at scale.
- ``spark.sql.shuffle.partitions`` sized to the core count; on a real
  cluster AQE coalescing makes the static number mostly irrelevant.
- Arrow enabled for any pandas_udf / toPandas edge (vectorized transfer).
- Driver heap sized to the box: half of physical memory, capped at
  48g (``SPARK_DRIVER_MEMORY`` overrides).
- Session timezone pinned per agency (the reference stores zoned
  timestamps; cf. /root/reference/etl/runtime/handler.py:104-114).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_TZ = "America/Toronto"
_SPARK_SIZE = re.compile(r"\d+[kmgtp]?b?", re.IGNORECASE)


def spark_graft_cpus() -> int:
    """Core count from ``SPARK_GRAFT_CPUS``: a positive integer, or a
    ValueError naming the variable.  Unset, it is the number of cores
    this process may run on (its CPU affinity set)."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return len(os.sched_getaffinity(0))
    if not raw.isdecimal() or int(raw) < 1:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}"
        )
    return int(raw)


def driver_memory() -> str:
    """``spark.driver.memory`` from ``SPARK_DRIVER_MEMORY``: a Spark
    size string (digits, an optional ``k|m|g|t|p`` suffix, optionally
    followed by ``b``), or a ValueError naming the variable.  Unset, it
    is half of physical memory, capped at 48g."""
    raw = os.environ.get("SPARK_DRIVER_MEMORY")
    if raw is None:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        return f"{min(phys // 2 // 2**20, 48 * 1024)}m"
    if not _SPARK_SIZE.fullmatch(raw):
        raise ValueError(
            f"SPARK_DRIVER_MEMORY must be a Spark size such as 8192m or "
            f"16g, got {raw!r}"
        )
    return raw


def get_spark(
    app_name: str = "gtfs-realtime-etl-spark",
    master: str | None = None,
    timezone: str = DEFAULT_TZ,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    cpus = spark_graft_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", timezone)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # TIMESTAMP_MICROS (isAdjustedToUTC=true) instead of legacy INT96:
        # external readers (DuckDB/Trino/PyArrow) then see a proper
        # instant, not a naive UTC wall time — required for lake
        # interoperability (reference stores tz-aware timestamps).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # ICU case mappings trigger a multi-minute CollationAwareUTF8String
        # static init on first lower()/upper(); JVM mappings are equivalent
        # for our ASCII-dominated data and skip that cost entirely.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local[N] runs all executor threads inside the driver JVM; the
        # array-heavy ops (shingle sets, signatures) churn real memory at
        # 32-way parallelism, and an undersized heap turns into GC storms
        # with 10x run-to-run variance.
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # Even with the UI off, AppStatusListener/SQLAppStatusListener
        # retain per-execution state (full physical-plan description
        # strings, per-task metrics) for the REST status store — the
        # defaults keep 1000 SQL executions and 100k tasks LIVE on the
        # heap.  A few hundred registry executions in one session hold
        # hundreds of MB that stretch every full GC and never help
        # anything (no UI to serve).  Cap the store to a small window.
        .config("spark.sql.ui.retainedExecutions", "8")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
        # The ContextCleaner reclaims shuffle files, broadcast blocks,
        # and accumulators only when the DRIVER GC collects their
        # references — and a large heap almost never full-GCs on its own,
        # so a long session (the 170-query x 4-run bench is ~850 query
        # executions in one JVM) accumulates state until every query
        # slows several-fold (measured: 0.9 s queries at 15 s, 7 s at
        # 70+ s deep into a session).  The stock fix is the periodic-GC
        # floor; default is 30min — far longer than the whole bench.
        .config("spark.cleaner.periodicGC.interval", "1min")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
