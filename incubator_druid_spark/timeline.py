"""Segment timeline of a datasource version: the days that hold segments and
the [minTime, maxTime] extent of their rows.

Druid's broker reduces a query's intervals to the segments of its in-memory
``VersionedIntervalTimeline`` before it zero-fills buckets
(``CachingClusteredClient``).  Segment files here are immutable, so a file
list is one datasource version: its timeline is computed once and memoized
by that list and the frame's analyzed plan (two frames over the same files
can differ: a query datasource, or another time column), and an ingest or
re-registration gets a new one.  It comes from the ``__bucket`` partition
listing plus parquet footers where those exist, else from one aggregate job
over the unfiltered source.  A frame that is not a single file relation
(join, union, inline) is not memoized: nothing reuses it, so each query runs
that job over the rows inside its own intervals.
"""

from __future__ import annotations

import datetime
import re
from bisect import bisect_left, bisect_right
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incubator_druid_spark.catalog import TIME_COLUMN
from incubator_druid_spark.model.intervals import interval_predicate

DAY_MS = 86_400_000


@dataclass(frozen=True)
class Timeline:
    """Segment starts (sorted) of one span, and the row extent; epoch millis,
    UTC (Druid's default segmentGranularity is a UTC day)."""

    starts: tuple[int, ...]
    span: int
    extent: tuple[int, int] | None  # None: not known, no clipping

    def buckets(self, gran, intervals) -> list[int]:
        """Sorted starts of the ``gran`` buckets the timeline covers: those
        that overlap a segment day inside a query interval and the extent.
        Segments are pruned at their own span before they widen to days, so
        an hour segment outside a sub-day interval adds no bucket."""
        keep = set()
        for s, e in intervals:
            spine = gran.spine(s, e)
            if self.extent:
                s, e = max(s, self.extent[0]), min(e, self.extent[1] + 1)
            if s >= e:
                continue
            segs = self.starts[bisect_right(self.starts, s - self.span):
                               bisect_left(self.starts, e)]
            for d in {m - m % DAY_MS for m in segs}:
                # the buckets holding the day's first and last covered instant
                # and every bucket between them
                a, z = max(d, s), min(d + DAY_MS, e)
                keep.update(spine[bisect_right(spine, a) - 1:
                                  bisect_left(spine, z)])
        return sorted(keep)


def timeline(src: DataFrame, intervals) -> Timeline:
    """The segment timeline of a datasource frame with a __time column, as
    far as a query over ``intervals`` needs it."""
    files = relation_files(src)
    if not files:
        return _scanned_timeline(src.where(
            interval_predicate(intervals, F.col(TIME_COLUMN))), windowed=True)
    key = (tuple(sorted(files)),
           src._jdf.queryExecution().analyzed().semanticHash())
    if key not in _TIMELINES:
        if len(_TIMELINES) > 256:  # bound memory on churny catalogs
            _TIMELINES.clear()
        _TIMELINES[key] = (_listed_timeline(src, files)
                           or _scanned_timeline(src))
    return _TIMELINES[key]


_TIMELINES: dict = {}


def relation_files(src: DataFrame) -> list[str] | None:
    """The input files of a SINGLE-relation frame, or None.  A join/union
    frame's inputFiles() mixes every input's files, so neither its footer
    extent nor its partition listing is the datasource's segment timeline."""
    try:
        plan = src._jdf.queryExecution().analyzed().toString()
        if re.search(r"(?m)^\s*[:+-]*\s*(?:Join|Union)\b", plan):
            return None
        return src.inputFiles()
    except Exception:  # pragma: no cover - non-file-backed frame
        return None


def _scanned_timeline(src: DataFrame, windowed: bool = False) -> Timeline:
    """One aggregate over the source, reading only __time: the min and max
    instant of every UTC day.  A ``windowed`` source holds only the rows
    inside the query intervals, so rows past either end may exist and the
    extent is left unknown."""
    t = F.unix_millis(F.col(TIME_COLUMN))
    rows = (src.where(F.col(TIME_COLUMN).isNotNull())
            .groupBy((t - F.pmod(t, F.lit(DAY_MS))).alias("d"))
            .agg(F.min(t).alias("lo"), F.max(t).alias("hi")).collect())
    extent = None if windowed or not rows else (
        min(r["lo"] for r in rows), max(r["hi"] for r in rows))
    return Timeline(tuple(sorted(r["d"] for r in rows)), DAY_MS, extent)


def _listed_timeline(src: DataFrame, files: list[str]) -> Timeline | None:
    """The timeline from metadata alone.  Tables written by sources/ingest
    partition by __bucket (yyyy-MM-dd'T'HH of the floored segment
    granularity), so the directory names enumerate the segments that exist.
    An all-midnight listing is read as DAY segments (a day segment covers
    the whole day, testTimeseriesQueryZeroFilling); any other hour makes
    them hour segments.  None when the layout or the footers do not tell."""
    if "__bucket" not in src.columns:
        return None
    starts = set()
    for f in files:
        m = re.search(r"__bucket=([^/]+)/", f)
        try:
            h = datetime.datetime.strptime(m.group(1), "%Y-%m-%dT%H")
        except (AttributeError, ValueError):
            return None  # a file outside the layout: let the scan decide
        starts.add(int(h.replace(tzinfo=datetime.timezone.utc)
                       .timestamp() * 1000))
    extent = _footer_time_extent(files)
    span = 3_600_000 if any(s % DAY_MS for s in starts) else DAY_MS
    return extent and Timeline(tuple(sorted(starts)), span, extent)


def _footer_time_extent(files: list[str]) -> tuple[int, int] | None:
    """[min, max] of a physical __time column in epoch millis from parquet
    FOOTER row-group statistics (the analogue of DataSegment interval
    bounds).  None for non-local or non-parquet storage, too many files, or
    absent/odd-typed stats."""
    import pyarrow.parquet as pq

    if len(files) > 4096:
        return None
    utc = datetime.timezone.utc
    ends = []
    for uri in files:
        if not uri.startswith("file:"):
            return None
        path = "/" + uri[5:].lstrip("/")
        try:
            md = pq.ParquetFile(path).metadata
        except Exception:
            return None
        idx = next((i for i in range(md.num_columns)
                    if md.schema.column(i).name == TIME_COLUMN), None)
        if idx is None:
            return None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            if st is None or not st.has_min_max \
                    or not isinstance(st.min, datetime.datetime):
                return None  # e.g. raw TIMESTAMP(NANOS)-as-long storage
            ends += [int(t.replace(tzinfo=t.tzinfo or utc).timestamp() * 1000)
                     for t in (st.min, st.max)]
    return (min(ends), max(ends)) if ends else None
