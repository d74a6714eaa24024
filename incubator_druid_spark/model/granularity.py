"""Druid granularity system → Spark time-bucketing expressions.

Reference semantics:
- GranularityType enumerates SECOND…MINUTE, FIVE/TEN/FIFTEEN/THIRTY_MINUTE, HOUR,
  SIX_HOUR, EIGHT_HOUR, DAY, WEEK, MONTH, QUARTER, YEAR, ALL, NONE
  (core/src/main/java/org/apache/druid/java/util/common/granularity/GranularityType.java:34-84).
- PeriodGranularity: arbitrary ISO-8601 period with timeZone + origin
  (granularity/PeriodGranularity.java) — flooring happens in the local timezone,
  relative to the origin.
- DurationGranularity: fixed millis bucket (granularity/DurationGranularity.java).
- ALL → single bucket (no time grouping); NONE → identity (group by raw timestamp).
- Druid weeks are ISO weeks (Monday start) — Spark's date_trunc('week') matches.

Spark-first design: everything compiles to a Column expression over a timestamp
column so it stays inside whole-stage codegen — no UDFs.  Fixed-width periods
use millis arithmetic (`floor((t - origin) / width) * width + origin`), which
Catalyst constant-folds; month-based periods use date_trunc / a months-arithmetic
expression.  Flooring with a timezone shifts into local wall time, floors, and
shifts back (matching PeriodGranularity.truncate).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

#: the most buckets ``Granularity.spine`` enumerates driver-side
SPINE_CAP = 500_000

_MILLIS = {"s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000, "w": 7 * 86_400_000}

# Simple-name → ISO period (GranularityType.java:34-84)
SIMPLE_PERIODS = {
    "second": "PT1S", "minute": "PT1M", "five_minute": "PT5M",
    "ten_minute": "PT10M", "fifteen_minute": "PT15M", "thirty_minute": "PT30M",
    "hour": "PT1H", "six_hour": "PT6H", "eight_hour": "PT8H",
    "day": "P1D", "week": "P1W", "month": "P1M", "quarter": "P3M", "year": "P1Y",
}

_PERIOD_RE = re.compile(
    r"^P(?:(?P<y>\d+)Y)?(?:(?P<mo>\d+)M)?(?:(?P<w>\d+)W)?(?:(?P<d>\d+)D)?"
    r"(?:T(?:(?P<h>\d+)H)?(?:(?P<mi>\d+)M)?(?:(?P<s>\d+(?:\.\d+)?)S)?)?$",
    re.IGNORECASE,
)


@dataclass(frozen=True)
class Period:
    months: int  # calendar part (years*12 + months)
    millis: int  # fixed part (weeks/days/hours/minutes/seconds)
    # True iff the period was SPECIFIED in weeks (P1W): only that form gets
    # the Monday anchor — P7D is day-arithmetic from the epoch (a Thursday),
    # PeriodGranularity.java:281-300 weeks-vs-days branches
    weeks: bool = False

    @property
    def is_calendar(self) -> bool:
        return self.months > 0


def parse_period(iso: str) -> Period:
    m = _PERIOD_RE.match(iso.strip())
    if not m or iso.strip().upper() in ("P", "PT"):
        raise ValueError(f"bad ISO-8601 period: {iso!r}")
    g = {k: (float(v) if v else 0) for k, v in m.groupdict().items()}
    months = int(g["y"]) * 12 + int(g["mo"])
    millis = int(
        g["w"] * _MILLIS["w"] + g["d"] * _MILLIS["d"] + g["h"] * _MILLIS["h"]
        + g["mi"] * _MILLIS["m"] + g["s"] * _MILLIS["s"]
    )
    if months and millis:
        raise ValueError(f"mixed calendar+fixed period not supported: {iso!r}")
    return Period(months, millis,
                  weeks=bool(g["w"]) and not any(
                      g[k] for k in ("d", "h", "mi", "s")))


class Granularity:
    """Compiled granularity: ``floor(col)`` returns the bucket-start timestamp."""

    def __init__(self, kind: str, period: Period | None = None,
                 origin_millis: int | None = None, tz: str | None = None):
        self.kind = kind  # 'all' | 'none' | 'period'
        self.period = period
        self.origin_millis = origin_millis
        self.tz = tz if tz not in (None, "UTC", "Etc/UTC") else None

    # ------------------------------------------------------------------
    def floor(self, col: Column) -> Column:
        if self.kind == "all":
            # Druid ALL: one bucket anchored at the interval start; callers
            # aggregate without time grouping, so floor is unused in practice.
            return F.lit(None).cast("timestamp")
        if self.kind == "none":
            return col
        p = self.period
        local = F.from_utc_timestamp(col, self.tz) if self.tz else col
        if p.is_calendar:
            out = self._floor_months(local, p.months)
        else:
            out = self._floor_millis(local, p.millis)
        return F.to_utc_timestamp(out, self.tz) if self.tz else out

    _EPOCH_MONDAY = -259_200_000  # 1969-12-29T00:00Z; epoch itself is a Thursday

    def _origin_wall_millis(self) -> int | None:
        """The origin as LOCAL wall-clock millis when a timeZone is set —
        the phase of a period granularity anchors in the origin's wall time
        (PeriodGranularity.java truncate() works in the local chronology;
        QueryGranularityTest.testPeriodTruncateDays: origin
        2012-01-02T05:00-08:00 floors LA times to 05:00 wall, not 13:00Z
        phase)."""
        if self.origin_millis is None or not self.tz:
            return self.origin_millis
        from datetime import datetime, timezone
        from zoneinfo import ZoneInfo
        d = datetime.fromtimestamp(self.origin_millis / 1000,
                                   tz=timezone.utc) \
            .astimezone(ZoneInfo(self.tz)).replace(tzinfo=timezone.utc)
        return int(d.timestamp() * 1000)

    def _floor_millis(self, col: Column, width: int) -> Column:
        origin = self._origin_wall_millis()
        if origin is None:
            # Druid weeks are ISO weeks (Monday start) — but ONLY the exact
            # P1W spelling with no origin (PeriodGranularity.java:295-298
            # weeks==1 branch); P2W/P3W align week MULTIPLES from the default
            # epoch origin (:283-293), and P7D counts days from the Thursday
            # epoch (:302-318)
            origin = (self._EPOCH_MONDAY
                      if self.period is not None and self.period.weeks
                      and self.period.millis == 7 * 86_400_000
                      else 0)
        t = F.unix_millis(col)
        # floor-div handles pre-origin timestamps correctly (Spark div truncates
        # toward negative infinity only via `floor`, so use it explicitly).
        bucket = F.floor((t - F.lit(origin)) / F.lit(width)) * width + origin
        return F.timestamp_millis(bucket.cast("long"))

    def _floor_months(self, col: Column, months: int) -> Column:
        ow = self._origin_wall_millis()
        if ow is not None:
            # PeriodGranularity.truncate months-with-origin branch
            # (:265-278): whole month-periods are counted FROM THE ORIGIN,
            # keeping its day-of-month and time — NOT truncated to month
            # starts.  Candidate month-difference clamps down when the
            # origin's day/time hasn't been reached yet (Joda month-end
            # clamping matches Spark's timestampadd).
            o = F.timestamp_millis(F.lit(int(ow)))

            def add_months_ts(ts, k):
                # interval month arithmetic keeps the time-of-day and
                # clamps month-end days, like Joda's months().add
                return ts + F.make_interval(F.lit(0), k.cast("int"))

            diff = ((F.year(col) * 12 + F.month(col))
                    - (F.year(o) * 12 + F.month(o)))
            whole = (diff - F.when(add_months_ts(o, diff) > col,
                                   F.lit(1)).otherwise(F.lit(0)))
            k = F.floor(whole / months) * months
            return add_months_ts(o, k)
        if months == 1:
            return F.date_trunc("month", col)
        if months == 12:
            return F.date_trunc("year", col)
        if months == 3:
            return F.date_trunc("quarter", col)
        # generic: month index since epoch, floored to the period; pmod
        # keeps pre-epoch (negative-index) months in 0..11 — a sign-
        # following % would make make_timestamp yield NULL for 1969 rows
        mi = (F.year(col) - 1970) * 12 + F.month(col) - 1
        floored = F.floor(mi / months) * months
        return F.make_timestamp(
            (F.floor(floored / 12) + 1970).cast("int"),
            (F.pmod(floored, 12) + 1).cast("int"),
            F.lit(1), F.lit(0), F.lit(0), F.lit(0),
        )

    # ------------------------------------------------------------------
    def ceil(self, col: Column) -> Column:
        """timestamp_ceil semantics: floor, then +1 period if not on boundary
        (reference: query/expression/TimestampCeilExprMacro.java)."""
        fl = self.floor(col)
        nxt = self.shift(fl, 1)
        return F.when(fl == col, fl).otherwise(nxt)

    def shift(self, col: Column, steps: int) -> Column:
        p = self.period
        if p is None:
            return col
        day = 86_400_000
        if not p.is_calendar and (self.tz is None or p.millis % day != 0):
            # sub-day fixed periods are physical durations in any chronology
            return F.timestamp_millis(
                (F.unix_millis(col) + F.lit(p.millis * steps)).cast("long"))
        # calendar months and day-multiple periods advance in LOCAL wall time
        # (joda Period.plus semantics — a tz day across a DST switch is
        # 23/25 physical hours; TimestampShiftExprMacro.java chronology)
        local = F.from_utc_timestamp(col, self.tz) if self.tz else col
        if p.is_calendar:
            # add_months returns a DATE (drops time-of-day); timestamp_add keeps it
            out = F.timestamp_add("MONTH", F.lit(p.months * steps), local)
        else:
            out = F.timestamp_add("DAY", F.lit(p.millis // day * steps), local)
        return F.to_utc_timestamp(out, self.tz) if self.tz else out

    def spine_fits(self, intervals: list[tuple[int, int]]) -> bool:
        """Whether ``spine`` over the intervals stays within ``SPINE_CAP``
        buckets, judged without enumerating them (False for all/none)."""
        p = self.period
        if self.kind in ("all", "none") or p is None or not intervals:
            return False
        # a month is at least 28 days; an interval adds at most a partial
        # bucket at either end, and a local span is at most a day longer
        width = max(p.millis or p.months * 28 * _MILLIS["d"], 1)
        slack = _MILLIS["d"] if self.tz else 0
        return sum((e - s + slack) // width + 2
                   for s, e in intervals) <= SPINE_CAP

    def spine(self, start_ms: int, end_ms: int) -> list[int]:
        """Bucket starts covering [start, end) — the zero-fill time spine for
        timeseries (driver-side; bucket counts are small by construction).

        With a timeZone the enumeration happens in local wall-clock time and
        each bucket start maps back to UTC, mirroring floor()'s
        from_utc_timestamp → trunc → to_utc_timestamp chain so spine and agg
        bucket keys agree exactly."""
        if self.kind in ("all", "none") or self.period is None:
            return []
        if self.tz:
            from datetime import datetime, timezone
            from zoneinfo import ZoneInfo
            z = ZoneInfo(self.tz)

            def to_local(ms: int) -> int:  # from_utc_timestamp: wall shift
                dt = datetime.fromtimestamp(ms / 1000, tz=timezone.utc) \
                    .astimezone(z).replace(tzinfo=timezone.utc)
                return int(dt.timestamp() * 1000)

            def to_utc(ms: int) -> int:    # to_utc_timestamp: inverse shift
                naive = datetime.fromtimestamp(ms / 1000, tz=timezone.utc)
                return int(naive.replace(tzinfo=z).timestamp() * 1000)

            plain = Granularity(self.kind, self.period,
                                self._origin_wall_millis())
            return [to_utc(t) for t in
                    plain.spine(to_local(start_ms), to_local(end_ms))]
        out = []
        p = self.period
        if p.is_calendar:
            # walk months from the floored start; mirror _floor_months'
            # origin alignment so spine and agg bucket keys agree
            import calendar
            from datetime import datetime, timezone
            ow = self._origin_wall_millis()

            def add_m(dt, k):  # Joda-style month add with day clamping
                mi0 = dt.year * 12 + dt.month - 1 + k
                y0, mo0 = divmod(mi0, 12)
                day = min(dt.day, calendar.monthrange(y0, mo0 + 1)[1])
                return dt.replace(year=y0, month=mo0 + 1, day=day)

            if ow is not None:
                odt = datetime.fromtimestamp(ow / 1000, tz=timezone.utc)
                sdt = datetime.fromtimestamp(start_ms / 1000,
                                             tz=timezone.utc)
                diff = (sdt.year * 12 + sdt.month) \
                    - (odt.year * 12 + odt.month)
                if add_m(odt, diff) > sdt:
                    diff -= 1
                k = diff // p.months * p.months
                while True:
                    t = int(add_m(odt, k).timestamp() * 1000)
                    if t >= end_ms:
                        break
                    out.append(t)
                    k += p.months
                    if len(out) > SPINE_CAP:
                        raise ValueError("time spine too large")
                return out
            dt = datetime.fromtimestamp(start_ms / 1000, tz=timezone.utc)
            mi = (dt.year - 1970) * 12 + dt.month - 1
            mi = mi // p.months * p.months
            while True:
                y, mo = divmod(mi, 12)
                t = int(datetime(1970 + y, mo + 1, 1, tzinfo=timezone.utc).timestamp() * 1000)
                if t >= end_ms:
                    break
                # pre-epoch buckets keep their true (negative-millis) keys —
                # clamping to 0 would duplicate the epoch bucket and drop
                # the 1969 ones, disagreeing with floor()'s keys
                out.append(t)
                mi += p.months
                if len(out) > SPINE_CAP:
                    raise ValueError("time spine too large")
        else:
            origin = self.origin_millis
            if origin is None:
                # Monday anchor only for exactly P1W (same rule as
                # _floor_millis); P2W+ aligns multiples from epoch, P7D
                # counts days from the Thursday epoch
                origin = (self._EPOCH_MONDAY
                          if p.weeks and p.millis == 7 * 86_400_000 else 0)
            t = (start_ms - origin) // p.millis * p.millis + origin
            while t < end_ms:
                out.append(t)
                t += p.millis
                if len(out) > SPINE_CAP:
                    raise ValueError("time spine too large")
        return out


def parse_granularity(spec) -> Granularity:
    """Accepts the JSON forms Druid accepts: a simple string ("hour", "all",
    "none"), {"type":"period","period":..,"timeZone":..,"origin":..}, or
    {"type":"duration","duration":ms,"origin":..}.
    Reference: granularity/Granularity.java (Jackson polymorphic) + GranularityType.
    """
    if isinstance(spec, Granularity):
        return spec
    if spec is None:
        return Granularity("all")
    if isinstance(spec, str):
        s = spec.lower()
        if s == "all":
            return Granularity("all")
        if s == "none":
            return Granularity("none")
        if s not in SIMPLE_PERIODS:
            raise ValueError(f"unknown granularity: {spec!r}")
        return Granularity("period", parse_period(SIMPLE_PERIODS[s]))
    if isinstance(spec, dict):
        t = spec.get("type", "period")
        origin = spec.get("origin")
        origin_ms = _parse_origin(origin) if origin is not None else None
        if t == "period":
            return Granularity("period", parse_period(spec["period"]),
                               origin_ms, spec.get("timeZone"))
        if t == "duration":
            return Granularity("period", Period(0, int(spec["duration"])), origin_ms)
        if t == "all":
            return Granularity("all")
        if t == "none":
            return Granularity("none")
    raise ValueError(f"bad granularity spec: {spec!r}")


def _parse_origin(origin) -> int:
    if isinstance(origin, (int, float)):
        return int(origin)
    from incubator_druid_spark.model.intervals import parse_iso_millis
    return parse_iso_millis(str(origin))
