"""Segment layout and timeline: the one module that knows how segments sit
on disk.

Batch ingest and compaction write a parquet directory partitioned by
``__bucket``, each row's segment start (__time floored to the
segmentGranularity) as UTC yyyy-MM-dd'T'HH whatever the session zone, so key
order is time order; the ``_druid_meta.json`` sidecar beside it records the
segment granularity and the schema written.  The catalog reads it once per
datasource version, with the frame, and reads the table with the recorded
schema instead of inferring it from the files.  A listed segment is
[start, next bucket of that granularity): queries prune partitions by key
range, and the timeline lists segments without reading a row.  A ``__bucket`` table with no recorded
granularity is scanned like a plain table: no pruning, and its segments are
the UTC days holding rows.

The module also decides which sources are read as one partition
(``one_row_group``): local parquet of one row group in all is one segment,
which Spark scans in one task anyway, so the catalog tells Catalyst and a
query over it plans no exchange, as Druid merges nothing for one segment.

The timeline is what Druid's broker reduces a query's intervals to before
it zero-fills (``CachingClusteredClient``), memoized per file list (one
datasource version) and analyzed plan.  A join, union or inline frame is not
memoized; its scan reads only the rows inside the query intervals.
"""

from __future__ import annotations

import datetime
import json
import os
import re
from bisect import bisect_left, bisect_right
from dataclasses import dataclass
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from incubator_druid_spark.catalog import TIME_COLUMN
from incubator_druid_spark.model.granularity import Granularity, parse_granularity
from incubator_druid_spark.model.intervals import interval_predicate

BUCKET = "__bucket"
META_FILE = "_druid_meta.json"
HOUR_MS, DAY_MS = 3_600_000, 86_400_000
_UTC = datetime.timezone.utc


def bucket_key(gran: Granularity) -> Column:
    """Each row's partition key, its __time floored to ``gran``, from epoch
    arithmetic and a date: the session time zone never enters."""
    ms = F.unix_millis(F.expr(gran.floor_sql(TIME_COLUMN)))
    day = F.date_from_unix_date(F.floor(ms / DAY_MS).cast("int"))
    hour = F.floor(F.pmod(ms, F.lit(DAY_MS)) / HOUR_MS).cast("string")
    return F.concat(day.cast("string"), F.lit("T"), F.lpad(hour, 2, "0"))


def written_schema(df: DataFrame) -> dict:
    """The schema Spark infers for the table ``df`` writes partitioned by
    __bucket: the data columns made nullable, as a file read makes them,
    then the key as the string partition discovery infers."""
    data = [f for f in df.schema.jsonValue()["fields"] if f["name"] != BUCKET]
    return _nullable({"type": "struct", "fields": data + [
        {"name": BUCKET, "type": "string", "nullable": True, "metadata": {}}]})


def _nullable(t):
    if isinstance(t, dict):
        return {k: True if k in ("nullable", "containsNull",
                                 "valueContainsNull") else _nullable(v)
                for k, v in t.items()}
    return [_nullable(x) for x in t] if isinstance(t, list) else t


def write_meta(path: str, meta: dict, append: bool = False) -> None:
    """Write the sidecar beside the partitions of a table just written.  An
    append of another segment granularity leaves none recorded: keys of two
    granularities are scanned like a plain table.  An append keeps the
    recorded schema only where it writes the same one."""
    if append:
        old = read_sidecar(path) or {}
        if old and old.get("segmentGranularity") != meta["segmentGranularity"]:
            meta = {**meta, "segmentGranularity": None}
        if old.get("schema") != meta.get("schema"):
            meta = {**meta, "schema": None}
    try:
        with open(os.path.join(path, META_FILE), "w") as fh:
            json.dump(meta, fh)
    except OSError:
        pass  # non-local FS (s3/hdfs): the table is scanned like a plain one


def read_meta(catalog, datasource) -> dict | None:
    """The sidecar of a table datasource's current version, or None."""
    name = _table(datasource)
    return catalog.meta(catalog.table(name)) if name in catalog else None


def segment_granularity(catalog, src: DataFrame) -> Granularity | None:
    """The recorded segment granularity of a datasource frame the catalog
    resolved, if its table has this layout, else None."""
    return _granularity(catalog.meta(src)) if BUCKET in src.columns else None


def utc_day_segments(seg: Granularity | None) -> bool:
    """Whether every segment of granularity ``seg`` lies inside one UTC day
    (None: a scanned table, whose segments are UTC days)."""
    p = seg and seg.period
    return seg is None or (not seg.tz and not p.is_calendar
                           and DAY_MS % p.millis == 0
                           and (seg.origin_millis or 0) % p.millis == 0)


def bucket_range(seg: Granularity, intervals) -> Column:
    """A predicate on the partition key keeping every segment that overlaps
    the intervals, from the one holding the first instant to the last
    instant's key; Catalyst makes it PartitionFilters."""
    lo, hi = min(s for s, _ in intervals), max(e for _, e in intervals)
    try:
        return (F.col(BUCKET) >= _key(seg.spine(lo, lo + 1)[0])) \
            & (F.col(BUCKET) <= _key(hi))
    except (OverflowError, ValueError, OSError):
        return F.lit(True)  # a bound past the calendar: no pruning


def segment_dirs(path: str) -> list[tuple[str, str]]:
    """(key, directory) of each segment partition under a table directory."""
    prefix = BUCKET + "="
    return [(d[len(prefix):], os.path.join(path, d))
            for d in sorted(os.listdir(path)) if d.startswith(prefix)]


def _table(datasource) -> str | None:
    if isinstance(datasource, dict) and datasource.get("type") == "table":
        datasource = datasource.get("name")
    return datasource if isinstance(datasource, str) else None


def read_sidecar(path: str) -> dict | None:
    """The sidecar file beside the partitions at ``path``, or None."""
    try:
        with open(os.path.join(path, META_FILE)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _granularity(meta: dict | None) -> Granularity | None:
    """The recorded segment granularity, if it buckets time."""
    try:
        gran = parse_granularity((meta or {})["segmentGranularity"])
    except (ValueError, KeyError, TypeError):
        return None
    return gran if gran.kind == "period" else None


def _key(ms: int) -> str:
    t = datetime.datetime.fromtimestamp(ms / 1000, tz=_UTC)
    return f"{t.year:04d}-{t.month:02d}-{t.day:02d}T{t.hour:02d}"


def _segment(seg: Granularity, start: int) -> tuple[int, int]:
    """The interval of the segment keyed at ``start``: up to the next bucket
    after the key hour's last instant (a sub-hour granularity puts several
    buckets under one key)."""
    p = seg.period
    width = p.millis or p.months * 31 * DAY_MS
    return start, seg.spine(start + HOUR_MS - 1,
                            start + HOUR_MS + 2 * width)[1]


def _local(uri: str) -> str | None:
    return "/" + unquote(uri[5:]).lstrip("/") if uri.startswith("file:") \
        else None


@dataclass(frozen=True)
class Timeline:
    """Segment intervals [start, end), sorted, and the row extent; epoch
    millis, UTC."""

    segments: tuple[tuple[int, int], ...]
    extent: tuple[int, int] | None  # None: not known, no clipping

    def buckets(self, gran, intervals) -> list[int]:
        """Sorted starts of the ``gran`` buckets the timeline covers: those
        that overlap a segment inside a query interval and the extent."""
        keep = set()
        for s, e in intervals:
            spine = gran.spine(s, e)
            if self.extent:
                s, e = max(s, self.extent[0]), min(e, self.extent[1] + 1)
            if s >= e:
                continue
            first = bisect_right(self.segments, s, key=lambda g: g[1])
            for a, z in self.segments[first:]:
                if a >= e:
                    break
                # the buckets holding the segment's first and last covered
                # instant and every bucket between them
                a, z = max(a, s), min(z, e)
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
    """One aggregate over the source, reading only __time: the UTC days
    holding rows are the segments, their min and max instant the extent
    (unknown for a ``windowed`` source, cut to the query intervals)."""
    t = F.unix_millis(F.col(TIME_COLUMN))
    rows = (src.where(F.col(TIME_COLUMN).isNotNull())
            .groupBy((t - F.pmod(t, F.lit(DAY_MS))).alias("d"))
            .agg(F.min(t).alias("lo"), F.max(t).alias("hi")).collect())
    extent = None if windowed or not rows else (
        min(r["lo"] for r in rows), max(r["hi"] for r in rows))
    return Timeline(tuple((r["d"], r["d"] + DAY_MS)
                          for r in sorted(rows, key=lambda r: r["d"])),
                    extent)


def _listed_timeline(src: DataFrame, files: list[str]) -> Timeline | None:
    """The timeline from metadata alone: the partition keys enumerate the
    segments that exist, the sidecar at their root gives each one's
    interval, and the footers the extent.  None when the layout, the
    sidecar or the footers do not tell."""
    if BUCKET not in src.columns:
        return None
    roots, starts = set(), set()
    for f in files:
        m = re.fullmatch(rf"(.*)/{BUCKET}=([^/]+)/[^/]+", f)
        try:
            t = datetime.datetime.strptime(m.group(2), "%Y-%m-%dT%H")
        except (AttributeError, ValueError):
            return None  # a file outside the layout: let the scan decide
        roots.add(_local(m.group(1)))
        starts.add(int(t.replace(tzinfo=_UTC).timestamp() * 1000))
    root = roots.pop() if len(roots) == 1 else None
    seg = root and _granularity(read_sidecar(root))
    extent = seg and _footer_time_extent(files)
    return extent and Timeline(
        tuple(_segment(seg, s) for s in sorted(starts)), extent)


def one_row_group(src: DataFrame) -> bool:
    """Whether a single-relation frame reads local parquet holding at most
    one row group in all: a datasource of one segment, which Spark scans in
    one task whatever its split count (a row group is its smallest split).
    False for non-local, non-parquet or unreadable input."""
    import pyarrow.parquet as pq

    files = relation_files(src)
    if not files:
        return False
    groups = 0
    for uri in files:
        path = _local(uri)
        if path is None:
            return False  # not on the local file system
        try:
            groups += pq.read_metadata(path).num_row_groups
        except (ValueError, OSError):
            return False  # not parquet, or unreadable
        if groups > 1:
            return False
    return True


def _footer_time_extent(files: list[str]) -> tuple[int, int] | None:
    """[min, max] of a physical __time column in epoch millis from parquet
    FOOTER row-group statistics (the analogue of DataSegment interval
    bounds).  None for non-local or non-parquet storage, too many files, or
    absent/odd-typed stats."""
    import pyarrow.parquet as pq

    if len(files) > 4096:
        return None
    ends = []
    for uri in files:
        try:
            md = pq.read_metadata(_local(uri))
            idx = md.schema.names.index(TIME_COLUMN)
        except (TypeError, ValueError, OSError):
            return None  # not a local parquet file, or no physical __time
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            if st is None or not st.has_min_max \
                    or not isinstance(st.min, datetime.datetime):
                return None  # e.g. raw TIMESTAMP(NANOS)-as-long storage
            ends += [int(t.replace(tzinfo=t.tzinfo or _UTC).timestamp() * 1000)
                     for t in (st.min, st.max)]
    return (min(ends), max(ends)) if ends else None
