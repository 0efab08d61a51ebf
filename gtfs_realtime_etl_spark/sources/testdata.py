"""Loader for the driver-generated TPC-H-ish testdata star schema
(TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_testdata(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """The named tables of ``sf_dir``, as frames in the order named."""
    if "events" in names:
        # Older testdata drops wrote events.ts as parquet TIMESTAMP(NANOS),
        # which Spark's vectorized reader rejects; this flag reads that
        # layout as a raw nanoseconds bigint.  Newer drops use
        # TIMESTAMP(MICROS), which Spark reads as timestamp_ntz — the
        # normalization below converts either form to the same bigint.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    # The local testdata files are single-row-group parquet, so a scan is
    # ONE task no matter the split config — the map side of a heavy
    # consumer (per-row kernels, ×B expansion joins) then runs serially.
    # documents/embeddings are spread across the cluster at the source
    # boundary (every consumer of those runs a per-row kernel or an
    # outer-product explode), gated so that at production scale — many
    # input files/row groups — no extra exchange is ever inserted.
    # Round 12 TRIED widening lineitem/orders/events here too: the
    # interleaved A/B wins on heavy single-stage scans (rollup-style
    # decimal aggregation 3.79 s -> 1.78 s, the bootstrap ×32 explode
    # 3.06 s -> 1.37 s) were real, but the suite run showed the cost
    # side dominates — most fact-table queries are MULTI-STAGE plans of
    # small jobs, and 32 tasks per stage of pure scheduling overhead
    # regressed them 3–9× (funnel_attribution best 0.48 -> 4.39 s,
    # group_split 0.67 -> 4.76 s, isolated-probe-confirmed).  Fact
    # tables therefore stay narrow at the loader; the few proven heavy
    # consumers widen at the point of use via saturate_scan below.
    heavy = {"documents", "embeddings"}
    out = []
    for t in names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        if t == "events":
            df = _normalize_event_ts(df)
        if t in heavy:
            df = saturate_scan(df)
        out.append(df)
    return out


def saturate_scan(df: DataFrame) -> DataFrame:
    """Spread a narrow scan across the cluster for a HEAVY map-side
    consumer (per-row Arrow kernels, full-table decimal aggregation,
    ×B expansion explode): repartition to ``defaultParallelism`` only
    when the scan cannot feed it by itself (fewer input files than
    cores).  On production multi-file inputs the condition is false
    and no exchange is inserted.

    The gate reads ``inputFiles()`` — plan-time metadata that is
    Spark-Connect-safe — never ``df.rdd``.  A non-file source (an
    in-memory frame) reports zero files and is repartitioned, the
    conservative choice at that size.  Apply ONLY where the downstream
    map work dominates the added exchange + per-stage task overhead —
    round-12 measurement: worth ~2× on rollup-style aggregation and
    the bootstrap ×32 explode, a 3–9× LOSS on multi-stage plans of
    small jobs (see load_testdata's comment)."""
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file plans on some backends
        n_files = 0
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if n_files < parallelism:
        return df.repartition(parallelism)
    return df


def _normalize_event_ts(events: DataFrame) -> DataFrame:
    """Canonicalize ``events.ts`` to epoch-nanoseconds bigint.

    The driver's parquet has shipped ``ts`` both as TIMESTAMP(NANOS)
    (read as bigint via ``nanosAsLong``) and as TIMESTAMP(MICROS) (read
    as ``timestamp_ntz``).  All downstream calendar math is tz-free
    integer arithmetic on nanoseconds, mirroring DuckDB's
    ``epoch_ns(ts)`` on the same naive timestamp — so the wall-clock
    value is converted without any session-timezone dependency
    (``timestampdiff`` on TIMESTAMP_NTZ operands is pure wall-clock).
    """
    (ts_type,) = [f.dataType.simpleString() for f in events.schema.fields if f.name == "ts"]
    if ts_type in ("bigint", "long"):
        return events
    from pyspark.sql import functions as F

    if ts_type == "timestamp":
        # TIMESTAMP_LTZ (parquet isAdjustedToUTC=true, or NTZ inference
        # disabled): the value IS an epoch instant — unix_micros reads
        # it directly, with no session-timezone dependency.  A bare
        # cast to NTZ here would shift by the session tz and diverge
        # from DuckDB's epoch_ns.
        nanos = F.unix_micros(F.col("ts")) * F.lit(1000).cast("bigint")
    elif ts_type == "timestamp_ntz":
        nanos = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            " cast(ts as timestamp_ntz)) * CAST(1000 AS BIGINT)"
        )
    else:  # fail loud: silent misinterpretation broke round 3
        raise TypeError(
            f"events.ts has unsupported type {ts_type!r}; expected "
            "bigint (epoch ns), timestamp_ntz, or timestamp"
        )
    return events.withColumn("ts", nanos)
