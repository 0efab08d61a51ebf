"""Per-agency deployment configuration.

The reference is multi-city via env-driven pydantic settings — feed URL,
API key + header, IANA timezone, poll cadence, destination bucket per
agency (reference ``etl/infrastructure/config.py:11-38``, consumed by
``deploy.sh:4-8`` and read back inside the lambda from env,
``etl/runtime/handler.py``).  This module replicates that deployment
story without pydantic: one stdlib dataclass, an env loader with the
same field names, and helpers that wire the config into the session
factory and the HTTP streaming ingest (one configured GET per
micro-batch through the ``gtfs_rt`` source, into the agency's lake).

Two cities = two env prefixes = two ``AgencyConfig``s driving two
independent pipelines in the same process (or two jobs on a cluster).
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field
from typing import Mapping

from pyspark.sql import SparkSession

#: Default env prefix; reference vars are unprefixed (VEH_POSITION_URL),
#: but a prefix is what makes multi-agency-per-environment possible.
DEFAULT_ENV_PREFIX = "GTFS_ETL_"


@dataclass(frozen=True)
class AgencyConfig:
    """One agency's deployment settings (reference ETLSettings parity).

    Field-for-field mirror of ``etl/infrastructure/config.py:11-38``:
    ``veh_position_url``, ``schedule_seconds``, ``timezone``,
    ``destination_bucket`` (here ``lake_root`` — any Hadoop-FS URI, not
    only S3), ``api_key``/``api_key_header``; plus the app/stage naming
    fields of ``config.py:14-26`` collapsed into ``name``.
    """

    name: str = "gtfs-realtime-etl"
    veh_position_url: str | None = None
    schedule_seconds: int = 60
    timezone: str = "America/Edmonton"
    lake_root: str | None = None
    api_key: str | None = None
    api_key_header: str | None = None

    @classmethod
    def from_env(
        cls,
        prefix: str = DEFAULT_ENV_PREFIX,
        env: Mapping[str, str] | None = None,
    ) -> "AgencyConfig":
        """Build a config from ``{prefix}{FIELD}`` environment variables
        (the reference's lambda reads the same unprefixed names from its
        deploy env; pass ``prefix=""`` for drop-in parity)."""
        env = os.environ if env is None else env

        def get(name: str, default: str | None = None) -> str | None:
            return env.get(f"{prefix}{name}", default)

        return cls(
            name=get("APP_NAME", "gtfs-realtime-etl"),
            veh_position_url=get("VEH_POSITION_URL"),
            schedule_seconds=int(get("SCHEDULE_SECONDS", "60")),
            timezone=get("TIMEZONE", "America/Edmonton"),
            lake_root=get("DESTINATION_BUCKET"),
            api_key=get("API_KEY"),
            api_key_header=get("API_KEY_HEADER"),
        )

    # -- wiring helpers ----------------------------------------------------

    def request_headers(self) -> dict[str, str]:
        """HTTP headers for the feed fetch (handler.py builds the same
        single-header dict from API_KEY_HEADER/API_KEY)."""
        if self.api_key and self.api_key_header:
            return {self.api_key_header: self.api_key}
        return {}

    def session(self, **kwargs) -> SparkSession:
        """SparkSession with this agency's timezone pinned."""
        from gtfs_realtime_etl_spark.session import get_spark

        kwargs.setdefault("app_name", self.name)
        kwargs.setdefault("timezone", self.timezone)
        return get_spark(**kwargs)

    def start_ingest(
        self,
        spark: SparkSession,
        spool_dir: str,
        checkpoint_dir: str,
        max_ticks: int | None = None,
    ):
        """Start this agency's HTTP ingest: GET the configured URL with
        the API-key header every ``schedule_seconds``, spool each
        payload under ``spool_dir``, and append to the lake root.
        ``max_ticks`` bounds the poll (None polls forever)."""
        from gtfs_realtime_etl_spark.streaming.ingest import start_feed_http_stream

        if not self.veh_position_url:
            raise ValueError("veh_position_url is not configured")
        if not self.lake_root:
            raise ValueError("lake_root (DESTINATION_BUCKET) is not configured")
        return start_feed_http_stream(
            spark,
            url=self.veh_position_url,
            spool_dir=spool_dir,
            lake_root=self.lake_root,
            checkpoint_dir=checkpoint_dir,
            trigger_seconds=self.schedule_seconds,
            max_ticks=max_ticks,
            headers=self.request_headers(),
        )

    def compact(
        self,
        spark: SparkSession,
        target_root: str,
        period: str,
        now: dt.datetime | None = None,
    ) -> dict[str, int]:
        """Compact the last closed day (``period="day"``) or month
        (``"month"``) of this agency's lake into ``target_root``, dated in
        the agency's time zone: the reference's daily and monthly crons
        (compaction/infrastructure/construct.py:102-140).  Returns rows
        written per ``YYYY-MM-DD`` / ``YYYY-MM`` key."""
        from gtfs_realtime_etl_spark.streaming.compaction import compact_partitions

        if not self.lake_root:
            raise ValueError("lake_root (DESTINATION_BUCKET) is not configured")
        return compact_partitions(
            spark,
            self.lake_root,
            target_root,
            self.timezone,
            period=period,
            now=now,
        )
