"""Native streaming HTTP source for GTFS-RT feeds (PySpark Python
DataSource API).

The reference polls the agency endpoint with an HTTP GET inside a
lambda on an EventBridge/Step Functions cadence (reference
``etl/runtime/handler.py:43-54`` with the sub-minute loop of
``etl/infrastructure/construct.py:26-110``).  The idiomatic Spark form
of that poll loop is a first-class streaming source: this module
implements ``readStream.format("gtfs_rt")`` via PySpark 4's
``DataSource`` / ``SimpleDataSourceStreamReader`` API — one
engine-managed source whose offsets live in the streaming checkpoint.
``GtfsRtStreamReader._fetch`` is the engine's only HTTP fetch;
``config.py::AgencyConfig.start_ingest`` drives it with an agency's
URL, API-key header and cadence.

Semantics:

- One HTTP GET per micro-batch (the reference's tick), executed
  driver-side — exactly the simple-reader contract ("lightweight,
  small batch"; a vehicle-positions payload is KBs, the fan-out
  happens AFTER decode in the distributed pipeline).
- Offsets are fetch tick numbers (``{"tick": n}``).  Every fetched
  payload is spooled as ``tick_<n>_<fetch_ts_us>.pb`` under the
  required ``spool_dir`` BEFORE the rows are returned, which makes
  recovery honest: ``readBetweenOffsets`` (Spark's failure-recovery
  replay) re-reads the exact bytes from the spool — an HTTP endpoint
  cannot re-serve the past — and recovers the ORIGINAL ``fetch_ts_us``
  from the filename, so replay is bit-identical in every output column
  (file bytes stay the raw protobuf payload; the spool doubles as the
  raw-payload archive the reference keeps in S3).
- ``max_ticks`` (option, default unbounded) stops advancing the offset
  after N fetches — the bounded-drain mode used by tests and backfill
  jobs; further reads return no rows and the same offset.
- Fetch failures under ``on_error=skip`` (default) emit no rows for
  the tick but STILL advance the offset and spool an empty marker —
  at-least-once posture, reference parity with its skip-and-continue
  poll loop; ``on_error=raise`` fails the query.

Options: ``url`` (required), ``spool_dir`` (required), ``timeout``
(seconds, default 30), ``headers`` (JSON object — the reference's
API-key header pair), ``max_ticks``, ``on_error``.

Output schema: ``fetch_ts_us LONG, payload BINARY`` — feed it to
``streaming/ingest.py::feed_pipeline`` (select ``payload``) exactly
like the Kafka/file frames.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)

FEED_FRAME_SCHEMA = StructType(
    [
        StructField("fetch_ts_us", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def _spool_path(spool_dir: str, tick: int, ts_us: int) -> str:
    return os.path.join(spool_dir, f"tick_{tick:012d}_{ts_us:020d}.pb")


def _find_spool(spool_dir: str, tick: int) -> tuple[str, int] | None:
    """Locate tick ``n``'s spool file; returns (path, fetch_ts_us).

    A pre-offset-commit crash can leave more than one variant for the
    same tick (each attempt spools under its own fetch timestamp); the
    LATEST one is the attempt whose rows were exposed, and ``read``
    prunes stale variants on its next successful pass anyway.
    """
    try:
        names = sorted(
            n
            for n in os.listdir(spool_dir)
            if n.startswith(f"tick_{tick:012d}_") and n.endswith(".pb")
        )
    except FileNotFoundError:
        return None
    if not names:
        return None
    name = names[-1]
    return os.path.join(spool_dir, name), int(name[len("tick_000000000000_"):-3])


class GtfsRtStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.url = options.get("url")
        self.spool_dir = options.get("spool_dir")
        if not self.url or not self.spool_dir:
            raise ValueError(
                "gtfs_rt source requires both 'url' and 'spool_dir' options"
            )
        self.timeout = float(options.get("timeout", "30"))
        self.headers = json.loads(options["headers"]) if options.get("headers") else {}
        self.max_ticks = int(options["max_ticks"]) if options.get("max_ticks") else None
        self.on_error = options.get("on_error", "skip")
        if self.on_error not in ("skip", "raise"):
            raise ValueError(f"on_error must be skip|raise, got {self.on_error!r}")

    def initialOffset(self) -> dict:
        return {"tick": 0}

    def _fetch(self) -> bytes:
        req = urllib.request.Request(self.url, headers=self.headers)
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            return resp.read()

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        tick = int(start["tick"])
        if self.max_ticks is not None and tick >= self.max_ticks:
            return iter(()), {"tick": tick}  # drained: no progress
        try:
            payload = self._fetch()
        except Exception:
            if self.on_error == "raise":
                raise
            payload = b""  # skip tick: offset advances, empty spool marker
        # Spool BEFORE returning rows: once the offset is exposed, the
        # bytes must be replayable (readBetweenOffsets).  The fetch
        # timestamp rides in the FILENAME (payload bytes stay the raw
        # protobuf), so replay emits the same fetch_ts_us the original
        # batch did.  Atomic rename so a crashed write never leaves a
        # torn spool file; a same-tick re-fetch after a
        # pre-offset-commit crash spools under a new timestamp and the
        # stale variant is pruned below.
        ts_us = int(time.time() * 1_000_000)
        os.makedirs(self.spool_dir, exist_ok=True)
        final = _spool_path(self.spool_dir, tick, ts_us)
        tmp = f"{final}.tmp"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, final)
        for name in os.listdir(self.spool_dir):
            if (
                name.startswith(f"tick_{tick:012d}_")
                and name.endswith(".pb")
                and os.path.join(self.spool_dir, name) != final
            ):
                os.remove(os.path.join(self.spool_dir, name))
        rows = iter([(ts_us, payload)]) if payload else iter(())
        return rows, {"tick": tick + 1}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # Failure recovery: deterministic replay from the spool —
        # payload bytes from the file, fetch_ts_us from the filename,
        # so a recovered batch is bit-identical to the original.
        for tick in range(int(start["tick"]), int(end["tick"])):
            found = _find_spool(self.spool_dir, tick)
            if found is None:
                raise FileNotFoundError(
                    f"gtfs_rt spool missing tick {tick} "
                    f"({self.spool_dir}); cannot replay — was the spool "
                    "pruned below the checkpoint horizon?"
                )
            path, ts_us = found
            with open(path, "rb") as f:
                payload = f.read()
            if payload:
                yield (ts_us, payload)

    def commit(self, end: dict) -> None:
        # Spool files at ticks < end are no longer needed for recovery.
        # Retention is deliberately NOT automatic (the spool doubles as
        # the raw archive, reference parity: payloads land in S3 and
        # stay); prune with a lifecycle rule or cron on spool_dir.
        pass


class GtfsRtDataSource(DataSource):
    """``spark.dataSource.register(GtfsRtDataSource)`` then
    ``spark.readStream.format("gtfs_rt").option(...).load()``."""

    @classmethod
    def name(cls) -> str:
        return "gtfs_rt"

    def schema(self) -> StructType:
        return FEED_FRAME_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> GtfsRtStreamReader:
        return GtfsRtStreamReader(dict(self.options))


def register(spark) -> None:
    """Idempotent registration of the ``gtfs_rt`` format."""
    spark.dataSource.register(GtfsRtDataSource)
