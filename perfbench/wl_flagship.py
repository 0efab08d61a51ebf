"""flagship_lake: closed loop, one client, over a seeded multi-day lake.

Each loop iteration is one flagship request —
``stop_reliability(schedule_deviation(read_locations(...)))`` into the
noop sink — followed by a ``day_slice_arrow`` of each day.  After the
timed loop, two registry queries from ``plans.queries`` run once each on
a seeded star schema, so the registry's import (in ``setup_s``) and its
builds are measured on this workload too.
Only the raw inputs are cached per seed.
Every invocation writes the lake from them through the engine's own
write path (``enrich_positions`` → ``write_locations_batch`` →
``compact_partition``), untimed by the end-to-end metrics, so reads see
the layout the engine produces and a write-path change shows in the
per-layer numbers; GTFS static tables are loaded with
``load_gtfs_static``."""

from __future__ import annotations

import glob
import json
import os
import random
import time

import common
import gen

MODULES = [
    "gtfs_realtime_etl_spark.operators.schedule_deviation",
    "gtfs_realtime_etl_spark.operators.ingest",
    "gtfs_realtime_etl_spark.sources.lake",
    "gtfs_realtime_etl_spark.sources.gtfs_static",
    "gtfs_realtime_etl_spark.streaming.compaction",
    "gtfs_realtime_etl_spark.plans.queries",
]
#: location rows; the reference's measurement has 21.3M (about 1/500 here).
#: A request's cost is mostly per-stage overhead (2–3 s on 4 cores here,
#: 5–7 s at 150k rows), and every run writes its lake afresh, so the lake
#: is kept small
FACT_ROWS = 40_000
DAYS = 2
GTFS_TABLES = ("routes", "trips", "stops", "stop_times")
#: one build-bound registry query (Python plan construction dominates)
#: and one execute-bound one, each checked against its DuckDB oracle,
#: which runs in under a second at this scale; the seed sets their order
REGISTRY_QUERIES = ("ndcg_report", "agg_pricing")
REGISTRY_SF = 0.01
#: requests timed at least, whatever ``--seconds``: the first ones run
#: faster each time as the JVM warms, so the median is taken over a fixed
#: number of them, not over however many a slow or fast host fits
MIN_REQUESTS = 5

ORACLE_SQL = """
SELECT stop_id, stop_lon, stop_lat, COUNT(diff) AS count,
       AVG(diff) AS avg_diff, STDDEV(diff) AS stddev_diff
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY trip_id, stop_id, arrival_time, stop_sequence
      ORDER BY arrival_time ASC, ABS(diff) ASC, diff ASC) AS rn
  FROM (
    SELECT X.trip_id, S.stop_sequence, S.arrival_time,
           DATEDIFF('seconds', S.arrival_time::TIME,
                    strftime(Y.timestamp, '%H:%M:%S')::TIME) AS diff,
           S.stop_id, V.stop_lon, V.stop_lat
    FROM routes T
    JOIN trips X ON T.route_id = X.route_id
    JOIN stop_times S ON X.trip_id = S.trip_id
    JOIN stops V ON S.stop_id = V.stop_id
    JOIN locations Y
      ON X.trip_id = Y.trip_id
     AND sqrt((Y.longitude - V.stop_lon) ** 2 + (Y.latitude - V.stop_lat) ** 2) <= 0.0002
    WHERE NOT regexp_matches(S.arrival_time, '^(2[4-9]|3[0-5]):', 'c')
      AND (T.route_type = 700 OR T.route_type = 3)
  ) WHERE diff BETWEEN -600 AND 600
) WHERE rn = 1
GROUP BY stop_id, stop_lon, stop_lat
"""


def _dir_stats(root: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(root, "year=*", "month=*", "day=*", "*.parquet"))
    return len(files), sum(os.path.getsize(f) for f in files)


def build_lake(spark, path: str, work: str) -> dict:
    """Write the cached raw positions through the engine: one append into
    a raw zone, then one compaction per day into the lake.  Returns the
    lake path and the write-side per-layer numbers."""
    from gtfs_realtime_etl_spark.operators.ingest import enrich_positions
    from gtfs_realtime_etl_spark.schemas import VEHICLE_POSITIONS_RAW
    from gtfs_realtime_etl_spark.sources.lake import write_locations_batch
    from gtfs_realtime_etl_spark.streaming.compaction import compact_partition

    meta = gen.read_meta(path)
    raw_zone, lake = os.path.join(work, "raw_zone"), os.path.join(work, "lake")
    raw = spark.read.schema(VEHICLE_POSITIONS_RAW).parquet(
        *(os.path.join(path, "raw", f"day={d}.parquet") for d in range(len(meta["days"]))))
    t = time.perf_counter()
    write_locations_batch(enrich_positions(raw), raw_zone)
    write_s = time.perf_counter() - t
    files_in, bytes_in = _dir_stats(raw_zone)
    problems = []
    t = time.perf_counter()
    for (y, m, d), rows in zip(meta["days"], meta["day_rows"]):
        n = compact_partition(spark, raw_zone, lake, y, m, d)
        if n != rows:
            problems.append(f"compaction wrote {n} rows of {rows} for {y}-{m}-{d}")
    compaction_s = time.perf_counter() - t
    files_out, bytes_out = _dir_stats(lake)
    return {
        "lake": lake, "problems": problems,
        "per_layer": {
            "sources.lake.write_s": (write_s, "s"),
            "streaming.compaction_s": (compaction_s, "s"),
            "streaming.compaction.files_in": (files_in, "count"),
            "streaming.compaction.files_out": (files_out, "count"),
            "streaming.compaction.bytes_out_per_byte_in": (bytes_out / bytes_in, "ratio"),
        },
    }


def _oracle(lake: str, gtfs_dir: str):
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET timezone = '{gen.TZ}'")
        con.execute("SET threads = 4")
        for t in GTFS_TABLES:
            types = {"stops": ", types={'stop_id': 'VARCHAR'}",
                     "stop_times": ", all_varchar=true"}.get(t, "")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_csv('{gtfs_dir}/{t}.txt'{types})")
        con.execute(
            "CREATE VIEW locations AS SELECT * FROM read_parquet("
            f"'{lake}/year=*/month=*/day=*/*.parquet', hive_partitioning=true)")
        return con.execute(ORACLE_SQL).df()
    finally:
        con.close()


def check_against_oracle(got, exp) -> str | None:
    """None when the engine's deviation table equals the DuckDB oracle's
    (counts exactly, means and stddevs to 1e-9), else the first mismatch."""
    import numpy as np

    key = ["stop_id", "stop_lon", "stop_lat"]
    g = got.sort_values(key).reset_index(drop=True)
    e = exp.sort_values(key).reset_index(drop=True)
    if len(g) != len(e) or len(g) < 50:
        return f"rows: engine {len(g)}, oracle {len(e)}"
    if not (g["stop_id"].values == e["stop_id"].values).all():
        return "stop_id differs"
    if not (g["count"].values == e["count"].values).all():
        return "count differs"
    if not np.allclose(g["avg_diff"].values, e["avg_diff"].values, rtol=0, atol=1e-9):
        return "avg_diff differs"
    gs, es = g["stddev_diff"].values.astype(float), e["stddev_diff"].values.astype(float)
    if not np.allclose(gs, es, rtol=0, atol=1e-9, equal_nan=True):
        return "stddev_diff differs"
    return None


def digest(pdf) -> str:
    import pandas as pd

    cols = sorted(c for c in pdf.columns if c != "geometry")
    df = pdf[cols].copy()
    for c in cols:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
    return f"{len(df)}:{int(pd.util.hash_pandas_object(df, index=False).sum())}"


def input_key(args) -> str:
    return f"flagship-s{args.seed}-r{FACT_ROWS}-d{DAYS}-sf{REGISTRY_SF}"


def build_inputs(out: str, args, work: str) -> dict:
    reg = os.path.join(out, "registry")
    os.makedirs(reg)
    gen.registry_tables(reg, args.seed, REGISTRY_SF)
    return gen.flagship_tables(out, args.seed, FACT_ROWS, DAYS)


def run_registry(spark, sf_dir: str, seed: int, trace: bool) -> tuple[dict, list[str]]:
    """Each of ``REGISTRY_QUERIES`` once: build (in a job group, so eager
    jobs are counted), collect, and compare with its ``ORACLE_SQL`` on
    DuckDB.  Returns per-layer numbers and the problems found."""
    from gtfs_realtime_etl_spark.plans.queries import ORACLE_SQL, QUERIES
    from gtfs_realtime_etl_spark.testing import compare_frames, run_oracle

    order = list(REGISTRY_QUERIES)
    random.Random(seed).shuffle(order)
    out: dict = {}
    problems: list[str] = []
    jobs = 0
    for name in order:
        try:
            group = f"registry-build-{name}"
            with common.job_group(spark, group):
                t = time.perf_counter()
                df = QUERIES[name](spark, sf_dir)
                build = time.perf_counter() - t
            jobs += common.jobs_in_group(spark, group)
            compile_s = common.compile_seconds(df) if trace else 0.0
            with common.job_group(spark, f"registry-{name}"):
                t = time.perf_counter()
                pdf = df.toPandas()
                execute = time.perf_counter() - t + compile_s
            out[f"plans.{name}.build_s"] = (build, "s")
            out[f"plans.{name}.execute_s"] = (execute, "s")
            res = compare_frames(name, pdf, run_oracle(ORACLE_SQL[name], sf_dir))
            if not res.ok:
                problems.append(f"{name}: " + ("; ".join(res.notes)[:300] or "oracle mismatch"))
        except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
            problems.append(f"{name}: {exc!r}"[:300])
    for k in ("build", "execute"):
        out[f"plans.registry.{k}_s"] = (
            sum(v for n, (v, _) in out.items() if n.endswith(f".{k}_s")), "s")
    out["plans.registry.build_jobs"] = (jobs, "count")
    return out, problems


def run(spark, args, path: str, work: str, trace: bool) -> common.Result:
    from gtfs_realtime_etl_spark.operators.schedule_deviation import (
        schedule_deviation,
        stop_reliability,
    )
    from gtfs_realtime_etl_spark.sources.gtfs_static import load_gtfs_static
    from gtfs_realtime_etl_spark.sources.lake import day_slice_arrow, read_locations

    meta = gen.read_meta(path)
    gtfs_dir = os.path.join(path, "gtfs")
    built = build_lake(spark, path, work)
    lake = built["lake"]
    tabs = load_gtfs_static(spark, gtfs_dir, tables=GTFS_TABLES)

    def deviation():
        return schedule_deviation(read_locations(spark, lake), tabs["routes"],
                                  tabs["trips"], tabs["stops"], tabs["stop_times"])

    problems: list[str] = list(built["problems"])
    attempted, failed = len(meta["days"]), len(problems)

    # Correctness, once per invocation (also the warm-up): the engine's
    # deviation table against the reference's cell-11 SQL run on DuckDB
    # over the same lake files, and against the digest the first
    # invocation with this seed recorded.
    attempted += 1
    got = deviation().toPandas()
    bad = check_against_oracle(got, _oracle(lake, gtfs_dir))
    digest_path = os.path.join(path, "digest.json")
    d = digest(got)
    if os.path.exists(digest_path):
        with open(digest_path) as f:
            if json.load(f)["digest"] != d:
                bad = bad or "result differs from an earlier run on this seed"
    else:
        with open(digest_path, "w") as f:
            json.dump({"digest": d}, f)
    if bad:
        failed += 1
        problems.append(f"flagship oracle: {bad}")
    day_slice_arrow(spark, lake, *meta["days"][0])
    # one untimed request: the first of a run took about a third longer
    # than the later ones
    stop_reliability(deviation()).write.format("noop").mode("overwrite").save()
    spark.sparkContext._jvm.System.gc()  # start the timed loop with a clean heap

    spans = common.Spans()
    flag_s, slice_s, slice_rate = [], [], []
    build_jobs = 0
    t_end = time.perf_counter() + args.seconds
    i = 0
    while time.perf_counter() < t_end or i < MIN_REQUESTS:
        attempted += 1
        try:
            t0 = time.perf_counter()
            with common.job_group(spark, f"build-flagship-{i}"), spans.span("plans.build"):
                df = stop_reliability(deviation())
            build_jobs += common.jobs_in_group(spark, f"build-flagship-{i}")
            if trace:
                spans.by_name.setdefault("catalyst.compile", []).append(
                    common.compile_seconds(df))
            with common.job_group(spark, f"timed-flagship-{i}"), spans.span("execute.action"):
                df.write.format("noop").mode("overwrite").save()
            flag_s.append(time.perf_counter() - t0)
        except Exception as exc:  # noqa: BLE001 - a failed request is counted, not fatal
            failed += 1
            problems.append(f"flagship: {exc!r}"[:300])
        for k, day in enumerate(meta["days"]):
            attempted += 1
            try:
                t0 = time.perf_counter()
                with common.job_group(spark, f"timed-slice-{i}-{k}"):
                    tbl = day_slice_arrow(spark, lake, *day)
                dt_s = time.perf_counter() - t0
                slice_s.append(dt_s)
                slice_rate.append(tbl.num_rows / dt_s)
                if tbl.num_rows != meta["day_rows"][k]:
                    failed += 1
                    problems.append(f"day slice rows {tbl.num_rows} != {meta['day_rows'][k]}")
            except Exception as exc:  # noqa: BLE001
                failed += 1
                problems.append(f"day slice: {exc!r}"[:300])
        i += 1

    registry, reg_problems = run_registry(spark, os.path.join(path, "registry"), args.seed, trace)
    attempted += len(REGISTRY_QUERIES)
    failed += len(reg_problems)
    problems += reg_problems

    for p in problems:
        print("FAILED", p)
    common.report("lake.fact_rows", meta["fact_rows"], "rows")
    common.report("lake.dim_rows", meta["dim_rows"], "rows")
    common.report_timing("flagship_s", flag_s)
    common.report_timing("day_slice_s", slice_s)
    common.report("lake.write_s", built["per_layer"]["sources.lake.write_s"][0], "s",
                  1, "(lake set-up)")
    common.report("compaction_s", built["per_layer"]["streaming.compaction_s"][0], "s",
                  len(meta["days"]), "(lake set-up)")
    for k, (v, unit) in registry.items():
        common.report(k, v, unit, 1)

    build = spans.total("plans.build")
    compile_s = spans.total("catalyst.compile")
    action = spans.total("execute.action")
    per_layer = {
        "plans.build_s": (common.median(spans.values("plans.build")), "s"),
        "plans.build_jobs": (build_jobs / max(i, 1), "count"),
        "catalyst.compile_s": (common.median(spans.values("catalyst.compile")) if trace else 0.0, "s"),
        "execute.run_s": (max(action - compile_s, 0.0) / max(len(flag_s), 1), "s"),
        "flagship.p50_s": (common.median(flag_s), "s"),
        "day_slice.p50_s": (common.median(slice_s), "s"),
        **built["per_layer"],
        **registry,
    }
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    run_s = sum(flag_s) + sum(slice_s) - build

    def finish_trace() -> dict:
        return common.execute_metrics(os.path.join(work, "eventlog"),
                                      lambda g: g.startswith("timed-"), run_s, cores)

    return common.Result(
        correct=failed == 0, attempted=attempted, failed=failed,
        latency_p50_s=common.median(flag_s), rows_per_s=common.median(slice_rate),
        per_layer=per_layer, finish_trace=finish_trace,
    )
