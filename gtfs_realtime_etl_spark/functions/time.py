"""Time-of-day arithmetic.

Spark has no TIME type (SURVEY.md §4.3); the canonical representation is
integer seconds-since-midnight.  Replicates DuckDB semantics used by the
flagship query:

- ``arrival_time::TIME`` cast of GTFS "HH:MM:SS" strings where hours may
  exceed 23 (schedule_deviation.ipynb:587) → :func:`gtfs_time_to_secs`
- ``strftime(timestamp,'%H:%M:%S')::TIME`` (:588) → :func:`seconds_of_day`
  (session timezone applies, matching DuckDB ``SET timezone``)
- ``DATEDIFF('seconds', t1, t2)`` on TIME (:585-589) → plain subtraction
  of the two seconds-of-day representations.
- the past-midnight exclusion regex (:599) → :data:`NOT_PAST_MIDNIGHT`
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: GTFS "past-midnight" times (hours 24-35) — the flagship query EXCLUDES
#: them: ``NOT regexp_matches(arrival_time, '^(2[4-9]|3[0-5]):', 'c')``.
PAST_MIDNIGHT_RE = r"^(2[4-9]|3[0-5]):"


def NOT_PAST_MIDNIGHT(arrival_time: Column) -> Column:
    return ~arrival_time.rlike(PAST_MIDNIGHT_RE)


def gtfs_time_to_secs(t: Column) -> Column:
    """'HH:MM:SS' (hours may exceed 23) → integer seconds since midnight."""
    parts = F.split(t, ":")
    return (
        parts.getItem(0).cast("int") * 3600
        + parts.getItem(1).cast("int") * 60
        + parts.getItem(2).cast("int")
    )


def seconds_of_day(ts: Column) -> Column:
    """Local (session-tz) seconds-since-midnight of a timestamp."""
    return F.hour(ts) * 3600 + F.minute(ts) * 60 + F.second(ts)


def to_zoned_ts(epoch_s: Column) -> Column:
    """Epoch seconds → session-timezone timestamp (handler.py:104-114)."""
    return F.to_timestamp(F.from_unixtime(epoch_s))
