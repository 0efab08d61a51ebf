"""Benchmark entry point.

    python3 perfbench/run.py --workload <flagship_lake|ingest_stream>
                             --seed N --seconds S --trace 0|1

Run from the repository root.  Human-readable metric lines come first;
the last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``).  See
``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import common  # noqa: E402
import gen  # noqa: E402
import wl_flagship  # noqa: E402
import wl_ingest  # noqa: E402

WORKLOADS = {"flagship_lake": wl_flagship, "ingest_stream": wl_ingest}
CACHE = os.path.join(ROOT, ".perfbench_cache")

END_TO_END = {"setup_s": "s", "latency_p50_s": "s", "rows_per_s": "1/s"}
#: every per-layer metric, printed by every workload; a layer a workload
#: does not exercise reads 0
PER_LAYER = {
    "session.cold_start_s": "s", "session.start_s": "s", "plans.import_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "plans.registry.build_s": "s", "plans.registry.execute_s": "s",
    "plans.registry.build_jobs": "count",
    **{f"plans.{q}.{k}_s": "s" for q in wl_flagship.REGISTRY_QUERIES for k in ("build", "execute")},
    "catalyst.compile_s": "s", "execute.run_s": "s",
    "execute.jobs": "count", "execute.stages": "count", "execute.tasks": "count",
    "execute.task_s": "s", "execute.busy_share": "ratio",
    "execute.shuffle_write_mb": "MB", "execute.shuffle_read_mb": "MB",
    "execute.spill_mb": "MB", "execute.jvm_gc_s": "s",
    "sources.read_mb": "MB", "sources.read_rows": "count", "sources.read_files": "count",
    "flagship.p50_s": "s", "day_slice.p50_s": "s",
    "ingest.freshness_p50_s": "s", "ingest.freshness_tail_s": "s", "ingest.catchup_s": "s",
    "sources.gtfs_rt.decode_s": "s", "operators.ingest.enrich_s": "s",
    "sources.lake.write_s": "s",
    "streaming.ingest.add_batch_s": "s", "streaming.ingest.list_s": "s",
    "streaming.ingest.plan_s": "s", "streaming.ingest.commit_s": "s",
    "streaming.ingest.state_rows": "count", "streaming.ingest.dedup_dropped_rows": "count",
    "streaming.ingest.batches": "count", "streaming.quarantine.rows": "count",
    "streaming.quarantine.batches": "count", "streaming.compaction_s": "s",
    "streaming.compaction.files_in": "count", "streaming.compaction.files_out": "count",
    "streaming.compaction.bytes_out_per_byte_in": "ratio",
    "loadgen.late_max_s": "s", "loadgen.backlog_max_ticks": "count",
    "driver_peak_rss_mb": "MB", "failed_ops_ratio": "ratio",
    **{f"trace.overhead.{k}": u for k, u in END_TO_END.items()},
}


def _overhead(workload: str, e2e: dict, trace: bool) -> dict:
    """Tracing overhead: this traced run's end-to-end numbers minus those
    of the latest untraced run of the same workload in this checkout."""
    path = os.path.join(CACHE, f"untraced-{workload}.json")
    if not trace:
        with open(path, "w") as f:
            json.dump({k: v for k, (v, _) in e2e.items()}, f)
        return {}
    try:
        with open(path) as f:
            base = json.load(f)
    except FileNotFoundError:
        print("no untraced run of this workload yet: tracing overhead reads 0")
        base = {k: v for k, (v, _) in e2e.items()}
    out = {}
    for k, (v, unit) in e2e.items():
        out[f"trace.overhead.{k}"] = (v - base.get(k, v), unit)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="only generate (and cache) the inputs of this seed")
    args = ap.parse_args()
    trace = bool(args.trace)
    if importlib.util.find_spec("gtfs_realtime_etl_spark") is None:
        print(f"no gtfs_realtime_etl_spark package under {ROOT}: run from a checkout of the "
              "repository", file=sys.stderr)
        return 2

    host = common.host_info()
    cpu_start = common.cpu_times()
    work = os.path.join(CACHE, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    common.configure_env(ROOT, work, host)
    mod = WORKLOADS[args.workload]
    inputs = os.path.join(CACHE, "inputs")
    if args.prepare:
        try:
            gen.cached(inputs, mod.input_key(args), lambda out: mod.build_inputs(out, args, work))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return 0
    path = os.path.join(inputs, mod.input_key(args))
    prep = None
    if not gen.is_cached(path):
        # generated in a process of its own while the JVM launches; the
        # set-up samples that make the median (the context restarts) and
        # the workload start after it has finished
        prep = subprocess.Popen([sys.executable, os.path.abspath(__file__), "--prepare",
                                 *sys.argv[1:]], stdout=subprocess.DEVNULL)

    def inputs_ready() -> None:
        if prep is not None and prep.wait(timeout=600) != 0:
            raise RuntimeError(f"input generation failed with exit code {prep.returncode}")

    for k, v in host.items():
        common.report(f"host.{k}", v, "")
    common.report("host.driver_heap_mb", float(os.environ["SPARK_DRIVER_MEMORY"][:-1]), "MB")

    spark = None
    try:
        spark, setup = common.measure_setup(T_PROCESS, mod.MODULES, work, trace, inputs_ready)
        res = mod.run(spark, args, path, work, trace)
        rss = common.jvm_peak_rss_mb(spark)
        if trace:
            spark.stop()  # flushes the event log
            spark = None
            res.per_layer.update(res.finish_trace())
    finally:
        if prep is not None and prep.poll() is None:
            prep.kill()
            prep.wait()
        common.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    if not res.latency_p50_s > 0 or not res.rows_per_s > 0:
        raise RuntimeError("no operation succeeded: nothing to report")
    e2e = {
        "setup_s": (setup["setup"], "s"),
        "latency_p50_s": (res.latency_p50_s, "s"),
        "rows_per_s": (res.rows_per_s, "1/s"),
    }
    common.report("setup.cold_s", setup["cold"], "s", 1, "(JVM launch included)")
    common.report("setup_s", e2e["setup_s"][0], "s", len(setup["session"]),
                  "(import + median context restart)")
    common.report("driver_peak_rss_mb", rss, "MB")
    common.report("host.cpu_steal_share", common.steal_share(cpu_start, common.cpu_times()),
                  "ratio", note="(CPU time taken by other guests during the run)")
    ratio = res.failed / max(res.attempted, 1)
    common.report("failed_ops_ratio", ratio, "ratio", res.attempted)
    per_layer = {k: (0.0, u) for k, u in PER_LAYER.items()}
    per_layer.update({
        "session.cold_start_s": (setup["cold"], "s"),
        "session.start_s": (common.median(setup["session"]), "s"),
        "plans.import_s": (setup["import"], "s"),
        "driver_peak_rss_mb": (rss, "MB"),
        "failed_ops_ratio": (ratio, "ratio"),
        **res.per_layer,
        **_overhead(args.workload, e2e, trace),
    })
    unknown = set(per_layer) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    if trace:
        for k, (v, unit) in per_layer.items():
            common.report(k, v, unit)
    common.emit(res.correct, res.attempted, res.failed, per_layer if trace else e2e)
    return 0


if __name__ == "__main__":
    sys.exit(main())
