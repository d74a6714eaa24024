"""Query interval specs → time-range predicates.

Reference: every native query carries ``intervals`` (a QuerySegmentSpec,
query/spec/MultipleIntervalSegmentSpec.java) of ISO-8601 ``start/end`` interval
strings, half-open [start, end).  In Druid this prunes the segment timeline
(CachingClusteredClient); here it becomes a predicate on ``__time`` that Catalyst
pushes into the Parquet scan and uses for partition pruning on time-partitioned
tables — the same role, one layer lower.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

from pyspark.sql import Column
from pyspark.sql import functions as F

ETERNITY = (-62135596800000, 253402300799999)  # Druid's JodaUtils MIN/MAX-ish bound

_BARE_YEAR = re.compile(r"[+-]?\d{1,6}")


def parse_iso_millis(s: str) -> int:
    s = s.strip()
    if s.endswith("Z"):
        s = s[:-1] + "+00:00"
    if _BARE_YEAR.fullmatch(s):
        # Joda accepts bare-year instants ("1000/3000",
        # SchemaEvolutionTest.java:235 intervals("1000/3000")); Python
        # datetime only spans years 1-9999, so clamp outside years to the
        # eternity bounds — no real timestamp lies beyond either.
        y = int(s)
        if y < 1:
            return ETERNITY[0]
        if y > 9999:
            return ETERNITY[1]
        s = f"{y:04d}-01-01"
    dt = datetime.fromisoformat(s)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def parse_interval(s: str) -> tuple[int, int]:
    """'2020-01-01T00:00:00Z/2020-01-02T00:00:00Z' → (start_ms, end_ms)."""
    start, _, end = s.partition("/")
    if not end:
        raise ValueError(f"bad interval: {s!r}")
    return parse_iso_millis(start), parse_iso_millis(end)


def parse_intervals(spec) -> list[tuple[int, int]]:
    if spec is None:
        return []
    if isinstance(spec, dict):  # {"type":"intervals","intervals":[...]}
        spec = spec.get("intervals", [])
    if isinstance(spec, str):
        spec = [spec]
    return [parse_interval(s) if isinstance(s, str) else (int(s[0]), int(s[1]))
            for s in spec]


def interval_predicate(intervals: list[tuple[int, int]], time_col: Column) -> Column | None:
    """OR of half-open range predicates; None means unconstrained."""
    if not intervals:
        return None
    preds = []
    for start, end in intervals:
        preds.append(
            (time_col >= F.timestamp_millis(F.lit(start)))
            & (time_col < F.timestamp_millis(F.lit(end))))
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out
