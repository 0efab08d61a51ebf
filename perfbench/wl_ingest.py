"""ingest_stream: open-loop GTFS-RT ingest, an outage and its catch-up.

A generator thread writes one pre-encoded FeedMessage file per tick into
the feed directory at a fixed rate (write to a hidden name, then rename,
so the file source never sees half a file).  The consumers are
``start_feed_file_stream`` (dedup on, processing-time trigger) with
``start_feed_quarantine_stream`` beside it.  After the live phase both
streams stop, as in an outage, while a backlog of ticks lands; the
ingest stream then restarts on the same checkpoint with
``available_now=True`` to catch up, and the quarantine stream drains
the feed.  Compaction is measured in ``flagship_lake``, whose lake build
runs ``compact_partition`` on every day.

Freshness of a tick is the time from when it was due to the commit of
the micro-batch that carried it.  The checkpoint's file-source and
offset logs map files to micro-batch ids and the sink's
``lake_commits/<batch_id>`` marker (or Spark's own
``commits/<batch_id>`` for a batch that appended nothing) gives the
commit time."""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import pyarrow.parquet as pq

import common
import gen

MODULES = ["gtfs_realtime_etl_spark.streaming.ingest"]
VEHICLES = 2000
#: a one-tick micro-batch takes 1.5–1.8 s on 4 cores and is followed by
#: a no-data batch of about 1 s that advances the dedup watermark.  When
#: other tenants take CPU both grow by half, and at one tick every 4 s the
#: ticks then queued behind each other; at one every 5 s the consumer
#: stays below saturation
TICK_S = 5.0
#: processing-time trigger interval; 0 starts the next micro-batch as soon as
#: the previous one ends, so freshness carries no trigger-phase noise
TRIGGER_S = 0
#: the quarantine stream beside it polls once a minute, the slow end of
#: the reference's 30–60 s poll: its first batch runs during the warm-up
#: and it is stopped before the next one is due, so it never competes
#: with a timed tick for the cores
QUARANTINE_TRIGGER_S = 60
#: ticks written at once and drained before the live phase, left out of
#: freshness
WARMUP_TICKS = 2
#: first ticks of the live phase left out of freshness too: the first
#: paced tick's batch took about a fifth longer than the later ones
LIVE_WARMUP_TICKS = 1
MIN_TIMED_TICKS = 4
#: ticks that land during the outage
BACKLOG_TICKS = 8


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name → id of the micro-batch that read it.

    The file source numbers its own batches (``sources/0``), counting
    only batches that found new files; the query also runs no-data
    batches that advance the dedup watermark.  The query's offset log
    (``offsets/<batch id>``) records the source batch each micro-batch
    read up to, so a file belongs to the first micro-batch whose offset
    reaches its source batch."""
    source_batch: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    source_batch[os.path.basename(entry["path"])] = int(entry["batchId"])
    reached: list[tuple[int, int]] = []  # (source offset, micro-batch id)
    for path in glob.glob(os.path.join(checkpoint, "offsets", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            with open(path) as f:
                offset = json.loads(f.read().splitlines()[2])["logOffset"]
            reached.append((int(offset), int(name)))
    reached.sort()
    out = {}
    for name, s in source_batch.items():
        batch = next((b for off, b in reached if off >= s), None)
        if batch is not None:
            out[name] = batch
    return out


def commit_time(checkpoint: str, batch_id: int) -> float | None:
    for sub in ("lake_commits", "commits"):
        p = os.path.join(checkpoint, sub, str(batch_id))
        if os.path.exists(p):
            return os.path.getmtime(p)
    return None


def freshness(ticks: list[tuple[str, float]], checkpoint: str) -> list[float | None]:
    """Seconds from each tick's due time to its batch's commit (None for a
    tick no committed batch carries)."""
    batches = file_batches(checkpoint)
    out = []
    for name, due in ticks:
        b = batches.get(name)
        t = commit_time(checkpoint, b) if b is not None else None
        out.append(None if t is None else t - due)
    return out


class TickWriter(threading.Thread):
    """Open-loop load generator: tick ``k`` is due at ``t0 + k * interval``
    whatever the consumer is doing.  Records (file name, due time) per
    tick and how late each write was."""

    def __init__(self, src: str, dst: str, ticks: range, interval: float, bad: set[int]):
        super().__init__(daemon=True)
        self.src, self.dst, self.ticks, self.interval, self.bad = src, dst, ticks, interval, bad
        self.written: list[tuple[str, float]] = []
        self.late: list[float] = []
        self.error: BaseException | None = None

    def put(self, name: str) -> None:
        with open(os.path.join(self.src, name), "rb") as f:
            data = f.read()
        tmp = os.path.join(self.dst, f".{name}.tmp")
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, os.path.join(self.dst, name))

    def run(self) -> None:
        try:
            t0 = time.time()
            for i, k in enumerate(self.ticks):
                due = t0 + i * self.interval
                time.sleep(max(0.0, due - time.time()))
                name = f"tick-{k:05d}.pb"
                self.put(name)
                self.late.append(time.time() - due)
                self.written.append((name, due))
                if k in self.bad:
                    self.put(f"bad-{k:05d}.pb")
        except BaseException as exc:  # noqa: BLE001 - re-raised by the caller
            self.error = exc


class ProgressRecorder:
    """StreamingQueryListener keeping every progress event, per query name."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events: list = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.events = events
        self.listener = _L()

    def summary(self, keep) -> dict:
        """Totals over the progress events ``keep(event)`` accepts."""
        d = {"add_batch_s": 0.0, "list_s": 0.0, "plan_s": 0.0, "commit_s": 0.0,
             "state_rows": 0, "dedup_dropped_rows": 0, "batches": 0}
        for p in self.events:
            if not keep(p):
                continue
            ms = p.get("durationMs", {})
            d["batches"] += 1
            d["add_batch_s"] += ms.get("addBatch", 0) / 1000
            d["list_s"] += (ms.get("latestOffset", 0) + ms.get("getBatch", 0)) / 1000
            d["plan_s"] += ms.get("queryPlanning", 0) / 1000
            d["commit_s"] += (ms.get("walCommit", 0) + ms.get("commitOffsets", 0)) / 1000
            for op in p.get("stateOperators", []):
                d["state_rows"] = max(d["state_rows"], op.get("numRowsTotal", 0))
                d["dedup_dropped_rows"] += op.get("customMetrics", {}).get(
                    "numDroppedDuplicateRows", 0)
        return d


def _busy_seconds(progress) -> float:
    """Seconds spent in the micro-batches in ``progress`` that read input;
    no-data batches that only advance the dedup watermark are left out."""
    return sum(p["durationMs"]["triggerExecution"] for p in progress
               if p["numInputRows"] > 0) / 1000


def _lake_rows(root: str):
    import pyarrow.dataset as ds

    files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    if not files:
        return None
    return ds.dataset(root, format="parquet", partitioning="hive").to_table(
        columns=["vehicle_id", "timestamp", "year", "month", "day"])


def _ticks(args) -> tuple[int, int]:
    """(live ticks, all ticks): at least ``MIN_TIMED_TICKS`` timed ticks"""
    live = WARMUP_TICKS + LIVE_WARMUP_TICKS + max(int(args.seconds / TICK_S), MIN_TIMED_TICKS)
    return live, live + BACKLOG_TICKS


def input_key(args) -> str:
    return f"feed-s{args.seed}-t{_ticks(args)[1]}-v{VEHICLES}"


def build_inputs(out: str, args, work: str) -> dict:
    return gen.feed_ticks(out, args.seed, _ticks(args)[1], VEHICLES)


def run(spark, args, src: str, work: str, trace: bool) -> common.Result:
    from gtfs_realtime_etl_spark.streaming.ingest import (
        start_feed_file_stream,
        start_feed_quarantine_stream,
    )

    live, n_ticks = _ticks(args)
    meta = gen.read_meta(src)
    bad = set(meta["bad_ticks"])
    feed, lake, ckpt = (os.path.join(work, d) for d in ("feed", "lake", "ckpt"))
    qdir, qckpt = os.path.join(work, "quarantine"), os.path.join(work, "qckpt")
    os.makedirs(feed)

    rec = ProgressRecorder() if trace else None
    if rec:
        spark.streams.addListener(rec.listener)
    spans = common.Spans()
    problems: list[str] = []
    t_live = time.perf_counter()

    # warm-up: the first ticks land at once and are drained before the
    # timed ticks start (the first batches plan, compile and start Python
    # workers), so no warm-up backlog spills into the measured ticks
    with spans.span("plans.build"):
        q = start_feed_file_stream(spark, feed, lake, ckpt, trigger_seconds=TRIGGER_S)
        qq = start_feed_quarantine_stream(spark, feed, qdir, qckpt,
                                          trigger_seconds=QUARANTINE_TRIGGER_S)
    ingest_id, quarantine_id = str(q.id), str(qq.id)
    warmup = TickWriter(src, feed, range(WARMUP_TICKS), 0.0, bad)
    warmup.run()
    if warmup.error:
        raise warmup.error
    q.processAllAvailable()
    n_warm = len(q.recentProgress)
    rows_warm = _lake_rows(lake).num_rows

    # live phase: open loop, one tick every TICK_S seconds
    writer = TickWriter(src, feed, range(WARMUP_TICKS, live), TICK_S, bad)
    writer.start()
    writer.join(timeout=live * TICK_S + 60)
    if writer.is_alive() or writer.error:
        raise RuntimeError(f"tick writer failed: {writer.error!r}")
    q.processAllAvailable()
    q.stop()
    live_s = time.perf_counter() - t_live
    busy_s = _busy_seconds(q.recentProgress[n_warm:])
    qq.stop()  # drained after the outage
    # Spark runs each streaming query's jobs in a job group named after
    # its run id: the execute metrics cover these two runs' micro-batches
    run_ids = {str(q.runId)}
    fresh = freshness(writer.written, ckpt)
    live_fresh = [f for f in fresh[LIVE_WARMUP_TICKS:] if f is not None]
    missing = sum(f is None for f in freshness(warmup.written + writer.written, ckpt))
    if missing:
        problems.append(f"{missing} live ticks in no committed batch")
    commits = [None if f is None else due + f for f, (_, due) in zip(fresh, writer.written)]
    backlog = [sum(1 for c in commits[:k] if c is None or c > due)
               for k, (_, due) in enumerate(writer.written)]

    # outage: the backlog lands while nothing consumes it, then the ingest
    # stream restarts on the same checkpoint and drains it
    outage = TickWriter(src, feed, range(live, n_ticks), 0.0, bad)
    outage.run()
    if outage.error:
        raise outage.error
    rows_before = _lake_rows(lake).num_rows
    t0 = time.perf_counter()
    q = start_feed_file_stream(spark, feed, lake, ckpt, available_now=True)
    q.awaitTermination()
    catchup_s = time.perf_counter() - t0
    run_ids.add(str(q.runId))
    busy_s += _busy_seconds(q.recentProgress)
    qq = start_feed_quarantine_stream(spark, feed, qdir, qckpt, available_now=True)
    qq.awaitTermination()

    table = _lake_rows(lake)
    catchup_rate = (table.num_rows - rows_before) / catchup_s
    # lake rows appended per second of micro-batch time, over the timed
    # ticks and the backlog: summed over about half a minute of the run,
    # so it does not rest on one short window
    rows_per_s = (table.num_rows - rows_warm) / busy_s
    expected = sum(meta["new_pairs"])
    pairs = table.select(["vehicle_id", "timestamp"]).to_pandas()
    if table.num_rows != expected or pairs.duplicated().any():
        problems.append(f"lake rows {table.num_rows}, distinct valid pairs {expected}")
    n_quarantined = sum(pq.ParquetFile(f).metadata.num_rows
                        for f in glob.glob(os.path.join(qdir, "*.parquet")))
    if n_quarantined != len(bad):
        problems.append(f"quarantine rows {n_quarantined}, corrupt payloads {len(bad)}")

    attempted = n_ticks + len(bad)
    failed = len(problems)
    for msg in problems:
        print("FAILED", msg)
    common.report_timing("ingest_freshness_s", live_fresh)
    common.report("ingest_rows_per_s", rows_per_s, "1/s", len(live_fresh) + BACKLOG_TICKS,
                  "(lake rows per micro-batch second)")
    common.report("ingest_catchup_rows_per_s", catchup_rate, "1/s", BACKLOG_TICKS,
                  "(lake rows, restart to stop)")
    common.report("ingest_catchup_s", catchup_s, "s", BACKLOG_TICKS)
    common.report("lake.rows", table.num_rows, "rows")

    per_layer = {
        "plans.build_s": (spans.total("plans.build"), "s"),
        "ingest.freshness_p50_s": (common.median(live_fresh), "s"),
        "ingest.freshness_tail_s": (common.tail(live_fresh)[1], "s"),
        "ingest.catchup_s": (catchup_s, "s"),
        "streaming.quarantine.rows": (n_quarantined, "count"),
        "loadgen.late_max_s": (max(writer.late), "s"),
        "loadgen.backlog_max_ticks": (max(backlog), "count"),
    }
    if trace:
        per_layer.update(_prefix_timings(spark, src, work, range(live, n_ticks)))
        s_ing = rec.summary(lambda p: p.get("id") == ingest_id)
        s_q = rec.summary(lambda p: p.get("id") == quarantine_id)
        per_layer["streaming.quarantine.batches"] = (s_q["batches"], "count")
        for k in ("add_batch_s", "list_s", "plan_s", "commit_s"):
            per_layer[f"streaming.ingest.{k}"] = (s_ing[k], "s")
        for k in ("state_rows", "dedup_dropped_rows", "batches"):
            per_layer[f"streaming.ingest.{k}"] = (s_ing[k], "count")
        per_layer["catalyst.compile_s"] = (s_ing["plan_s"], "s")
        per_layer["execute.run_s"] = (s_ing["add_batch_s"], "s")
        spark.streams.removeListener(rec.listener)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    def finish_trace() -> dict:
        return common.execute_metrics(os.path.join(work, "eventlog"), run_ids.__contains__,
                                      live_s + catchup_s, cores)

    return common.Result(
        correct=not problems, attempted=attempted, failed=failed,
        latency_p50_s=common.median(live_fresh), rows_per_s=rows_per_s,
        per_layer=per_layer, finish_trace=finish_trace,
    )


def _prefix_timings(spark, src: str, work: str, ticks: range) -> dict:
    """Decode, decode+enrich and decode+enrich+write of the backlog as one
    batch job each; differences give each layer's share."""
    from pyspark.sql import functions as F

    from gtfs_realtime_etl_spark.operators.ingest import enrich_positions
    from gtfs_realtime_etl_spark.sources.gtfs_rt import decode_feed_frames
    from gtfs_realtime_etl_spark.sources.lake import write_locations_batch

    paths = [os.path.join(src, f"tick-{k:05d}.pb") for k in ticks]
    frames = spark.read.format("binaryFile").load(paths).select(F.col("content").alias("payload"))
    t = time.perf_counter()
    decode_feed_frames(frames).write.format("noop").mode("overwrite").save()
    decode = time.perf_counter() - t
    t = time.perf_counter()
    enrich_positions(decode_feed_frames(frames)).write.format("noop").mode("overwrite").save()
    enrich = time.perf_counter() - t
    t = time.perf_counter()
    write_locations_batch(enrich_positions(decode_feed_frames(frames)),
                          os.path.join(work, "prefix_lake"))
    write = time.perf_counter() - t
    return {
        "sources.gtfs_rt.decode_s": (decode, "s"),
        "operators.ingest.enrich_s": (max(enrich - decode, 0.0), "s"),
        "sources.lake.write_s": (max(write - enrich, 0.0), "s"),
    }
