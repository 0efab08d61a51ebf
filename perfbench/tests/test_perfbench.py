"""The benchmark's own tests: generator determinism, tick-to-batch
freshness matching, event-log attribution by job group, and that the
workloads and metric names the benchmark has are the ones
``BENCHMARK.json`` declares.  No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import common  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import wl_ingest  # noqa: E402


def _frames(d: str) -> dict[str, pd.DataFrame]:
    out = {}
    for root, _, files in os.walk(d):
        for f in sorted(files):
            p = os.path.join(root, f)
            rel = os.path.relpath(p, d)
            if f.endswith(".parquet"):
                out[rel] = pd.read_parquet(p)
            else:
                with open(p, "rb") as fh:
                    out[rel] = fh.read()
    return out


def _same(a: dict, b: dict) -> bool:
    if a.keys() != b.keys():
        return False
    for k in a:
        if isinstance(a[k], pd.DataFrame):
            try:
                pd.testing.assert_frame_equal(a[k], b[k])
            except AssertionError:
                return False
        elif a[k] != b[k]:
            return False
    return True


@pytest.mark.parametrize("build", [
    lambda out, seed: gen.registry_tables(out, seed, 0.001),
    lambda out, seed: gen.flagship_tables(out, seed, 3000),
    lambda out, seed: gen.feed_ticks(out, seed, 4, 25),
], ids=["registry", "flagship", "feed"])
def test_generators_are_deterministic_per_seed(tmp_path, build):
    dirs = [tmp_path / n for n in ("a", "b", "c")]
    for d, seed in zip(dirs, (7, 7, 8)):
        d.mkdir()
        build(str(d), seed)
    a, b, c = (_frames(str(d)) for d in dirs)
    assert _same(a, b)
    assert not _same(a, c)


def test_flagship_pings_stay_on_their_local_day(tmp_path):
    """Every raw ping of day ``i`` falls on that local calendar day, also
    when a day is 23 hours long (a daylight-saving change)."""
    import datetime as dt
    import zoneinfo

    tz = zoneinfo.ZoneInfo(gen.TZ)
    dst_days = 0
    for seed in range(40):
        out = tmp_path / str(seed)
        out.mkdir()
        meta = gen.flagship_tables(str(out), seed, 600)
        for i, (y, m, d) in enumerate(meta["days"]):
            ts = pd.read_parquet(out / "raw" / f"day={i}.parquet")["timestamp"]
            local = pd.to_datetime(ts, unit="s", utc=True).dt.tz_convert(tz)
            assert (local.dt.date == dt.date(y, m, d)).all()
            dst_days += (y, m, d) == (2024, 3, 10)
    assert dst_days  # the seeds above include the spring-forward day


def test_feed_ticks_meta_matches_payloads(tmp_path):
    from gtfs_realtime_etl_spark.sources.gtfs_rt import try_parse_feed

    meta = gen.feed_ticks(str(tmp_path), 3, 6, 40)
    seen = set()
    for k in range(6):
        with open(tmp_path / f"tick-{k:05d}.pb", "rb") as f:
            recs, err = try_parse_feed(f.read())
        assert err is None and len(recs) == 40
        new = {(r["vehicle_id"], r["timestamp"]) for r in recs} - seen
        assert len(new) == meta["new_pairs"][k]
        seen |= new
    assert meta["new_pairs"][0] == 40 and min(meta["new_pairs"][1:]) < 40  # stale repeats
    assert meta["bad_ticks"]
    for k in meta["bad_ticks"]:
        with open(tmp_path / f"bad-{k:05d}.pb", "rb") as f:
            assert try_parse_feed(f.read())[1] is not None


def _write_log(path, batch_id: int, names: list[str]) -> None:
    with open(path, "w") as f:
        f.write("v1\n")
        for n in names:
            f.write(json.dumps({"path": f"file:///feed/{n}", "timestamp": 0,
                                "batchId": batch_id}) + "\n")


def _write_offsets(path, log_offset: int) -> None:
    with open(path, "w") as f:
        f.write('v1\n{"batchWatermarkMs":0,"batchTimestampMs":0}\n')
        f.write(json.dumps({"logOffset": log_offset}) + "\n")


def test_freshness_maps_ticks_to_batch_commits(tmp_path):
    ckpt = tmp_path / "ckpt"
    for d in ("sources/0", "offsets", "lake_commits", "commits"):
        (ckpt / d).mkdir(parents=True)
    # the file source numbers only the batches that found files
    _write_log(ckpt / "sources" / "0" / "0", 0, ["tick-00000.pb", "tick-00001.pb"])
    _write_log(ckpt / "sources" / "0" / "1.compact", 1, ["tick-00002.pb", "bad-00002.pb"])
    _write_log(ckpt / "sources" / "0" / "2", 2, ["tick-00003.pb"])
    # micro-batch 1 is a no-data batch (watermark only): source batch 1
    # is read by micro-batch 2, source batch 2 by micro-batch 3
    for batch, log_offset in enumerate((0, 0, 1, 2)):
        _write_offsets(ckpt / "offsets" / str(batch), log_offset)
    # micro-batch 0 appended rows: its lake marker counts, not Spark's commit
    (ckpt / "lake_commits" / "0").touch()
    os.utime(ckpt / "lake_commits" / "0", (1000.0, 1000.0))
    (ckpt / "commits" / "0").touch()
    os.utime(ckpt / "commits" / "0", (1005.0, 1005.0))
    (ckpt / "commits" / "1").touch()
    os.utime(ckpt / "commits" / "1", (1001.0, 1001.0))
    # micro-batch 2 appended nothing (all duplicates): Spark's commit counts
    (ckpt / "commits" / "2").touch()
    os.utime(ckpt / "commits" / "2", (1003.0, 1003.0))
    # micro-batch 3 never committed
    ticks = [("tick-00000.pb", 998.0), ("tick-00001.pb", 999.5),
             ("tick-00002.pb", 1001.0), ("tick-00003.pb", 1002.0),
             ("tick-00004.pb", 1003.0)]
    assert wl_ingest.file_batches(str(ckpt))["bad-00002.pb"] == 2
    got = wl_ingest.freshness(ticks, str(ckpt))
    assert got == [2.0, 0.5, 2.0, None, None]


def _event(kind: str, **fields) -> str:
    return json.dumps({"Event": kind, **fields}) + "\n"


def test_event_log_counts_only_the_kept_job_groups(tmp_path):
    app = tmp_path / "eventlog_v2_app"
    app.mkdir()
    lines = [
        _event("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0],
               "Properties": {"spark.jobGroup.id": "run-a"}}),
        _event("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [1],
               "Properties": {"spark.jobGroup.id": "other"}}),
        _event("SparkListenerJobStart", **{"Job ID": 2, "Stage IDs": [2], "Properties": {}}),
    ]
    for stage, ms in ((0, 700), (0, 300), (1, 5000), (2, 9000)):
        lines.append(_event("SparkListenerTaskEnd", **{"Stage ID": stage, "Task Metrics": {
            "Executor Run Time": ms, "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024 * 1024}}}))
    for stage in (0, 1, 2):
        lines.append(_event("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": stage}}))
    (app / "events_1_app").write_text("".join(lines))
    got = common.execute_metrics(str(tmp_path), {"run-a"}.__contains__, run_s=1.0, cores=4)
    assert got["execute.jobs"][0] == 1 and got["execute.stages"][0] == 1
    assert got["execute.tasks"][0] == 2 and got["execute.task_s"][0] == 1.0
    assert got["execute.busy_share"][0] == 0.25
    assert got["execute.shuffle_write_mb"][0] == 2.0


def test_steal_share_is_the_stolen_part_of_all_cpu_time():
    before = [100, 0, 10, 500, 0, 0, 0, 20, 0, 0]
    after = [160, 0, 20, 520, 0, 0, 0, 30, 0, 0]
    assert common.steal_share(before, after) == 0.1


def test_descendants_finds_grandchildren():
    import subprocess
    import time

    proc = subprocess.Popen(["sh", "-c", "sleep 30 & sleep 30 & wait"])
    kids: list[int] = []
    try:
        deadline = time.monotonic() + 10
        while len(kids) < 2 and time.monotonic() < deadline:
            time.sleep(0.05)
            kids = common._descendants(proc.pid)
        assert len(kids) == 2 and all(map(common._alive, kids))
        assert set(kids) < set(common._descendants(os.getpid()))
    finally:
        for p in common._descendants(proc.pid):
            os.kill(p, 9)
        try:
            proc.wait(timeout=10)  # the shell's ``wait`` reaps the sleeps
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    assert not any(map(common._alive, kids))


def test_tail_percentile_keeps_ten_samples_beyond():
    assert common.tail([3.0, 1.0, 2.0]) == ("max", 3.0)
    xs = list(range(1, 101))
    label, v = common.tail(xs)
    assert label == "p90" and v == 90
    assert sum(x > v for x in xs) >= 10


def test_printed_names_match_benchmark_json(capsys):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    common.emit(True, 3, 0, {k: (1.5, u) for k, u in run.END_TO_END.items()})
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert set(last["metrics"]) == set(run.END_TO_END)
