"""Druid granularity system → Spark SQL time-bucketing text.

Reference semantics:
- GranularityType enumerates SECOND…MINUTE, FIVE/TEN/FIFTEEN/THIRTY_MINUTE, HOUR,
  SIX_HOUR, EIGHT_HOUR, DAY, WEEK, MONTH, QUARTER, YEAR, ALL, NONE
  (core/src/main/java/org/apache/druid/java/util/common/granularity/GranularityType.java:34-84).
- PeriodGranularity: arbitrary ISO-8601 period with timeZone + origin
  (granularity/PeriodGranularity.java) — flooring happens in the local timezone,
  relative to the origin.
- DurationGranularity: fixed millis bucket (granularity/DurationGranularity.java).
- ALL → single bucket (no time grouping); NONE → identity (group by raw timestamp).
- Druid weeks are ISO weeks (Monday start) — only the exact P1W spelling.

This module is the only code that knows period arithmetic.  ``floor_sql``,
``ceil_sql`` and ``shift_sql`` return Spark SQL text specialized to the
parsed period, origin and zone, all inlined as literals: native operators
apply it with ``F.expr``, and the Druid SQL rewriter splices it into the
query text for TIME_FLOOR/TIME_CEIL/TIME_SHIFT and FLOOR/CEIL … TO.  The
text reads no session time zone.  It works on epoch millis and on local
wall-clock millis, ``unix_millis(from_utc_timestamp(t, '<zone>'))``, with
calendar fields taken from zone-free DATEs.  A bucket start is the latest
instant ≤ t whose local wall time lies on the period grid: the wall floor
maps back with t's own UTC offset when that offset still holds there, else
through ``to_utc_timestamp`` (Joda's convertLocalToUTC with the original
instant), so the repeated hour of a DST fall-back is two buckets.

Two shortcuts read the JVM's zone rules, the ones from_utc_timestamp
applies.  Where the zone's offsets are whole periods and its transitions
lie on the grid (PT1H in America/Los_Angeles since 1948), the floor is the
UTC floor, with no zone conversion.  Where no grid wall time falls in the
span a transition skips or repeats (days and months in
America/Los_Angeles), a bucket start is its wall time's one instant, the
one ``to_utc_timestamp`` gives, with no check.

A Column operand goes through ``floor``/``ceil``/``shift``: a session
temporary function whose body is the same text.  ``spine`` enumerates the
bucket starts driver-side with the same arithmetic.
"""

from __future__ import annotations

import hashlib
import math
import re
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from functools import cached_property

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import Column
from pyspark.sql import functions as F

#: the most buckets ``Granularity.spine`` enumerates driver-side
SPINE_CAP = 500_000

_MILLIS = {"s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000, "w": 7 * 86_400_000}
_DAY = _MILLIS["d"]
_EPOCH = datetime(1970, 1, 1)
_MS = timedelta(milliseconds=1)
_EPOCH_MONDAY = -259_200_000  # 1969-12-29T00:00Z; epoch itself is a Thursday
# the widest wall-clock jump of a zone transition that a spine must look past
_MAX_SHIFT = 3 * _MILLIS["h"]

# Simple-name → ISO period (GranularityType.java:34-84)
SIMPLE_PERIODS = {
    "second": "PT1S", "minute": "PT1M", "five_minute": "PT5M",
    "ten_minute": "PT10M", "fifteen_minute": "PT15M", "thirty_minute": "PT30M",
    "hour": "PT1H", "six_hour": "PT6H", "eight_hour": "PT8H",
    "day": "P1D", "week": "P1W", "month": "P1M", "quarter": "P3M", "year": "P1Y",
}

#: the periods a non-literal Druid SQL period argument may name
COMMON_PERIODS = ("PT1S", "PT1M", "PT5M", "PT10M", "PT15M", "PT30M", "PT1H",
                  "PT6H", "PT8H", "PT12H", "P1D", "P1W", "P1M", "P3M", "P1Y")

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


# a zone id or fixed offset: 'America/Los_Angeles', 'Etc/GMT+8', '+05:30'
_ZONE_RE = re.compile(r"[A-Za-z0-9_+\-/:]+")


def _quote(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


_OFFSET = r"Z|[+-]\d\d:\d\d(?::\d\d)?"
# ZoneOffsetTransition.toString: local time before it, offset before, after
_TRANSITION_RE = re.compile(
    rf"Transition\[\w+ at (\S+?)({_OFFSET}) to ({_OFFSET})\]")
_ZONE_RULES: dict[str, tuple | None] = {}


def _offset_ms(s: str) -> int:
    if s == "Z":
        return 0
    h, m, *sec = (int(x) for x in s[1:].split(":"))
    return (-1 if s[0] == "-" else 1) * ((h * 60 + m) * 60 + sum(sec)) * 1000


def _transitions(text: str) -> list[tuple[int, int, int]]:
    """(instant, offset before, offset after) of each transition printed
    in ``text``."""
    out = []
    for local, before, after in _TRANSITION_RE.findall(text):
        b = _offset_ms(before)
        wall = (datetime.fromisoformat(local) - _EPOCH) // _MS
        out.append((wall - b, b, _offset_ms(after)))
    return out


def _zone_rules(tz: str) -> tuple | None:
    """The JVM's rules for ``tz``, the ones from_utc_timestamp applies: the
    offset before the first transition, every transition, and one of each
    yearly rule that follows them.  None without a running JVM or for a
    zone Spark does not know."""
    if tz in _ZONE_RULES:
        return _ZONE_RULES[tz]
    jvm = SparkContext._jvm
    if jvm is None:
        return None
    try:
        rules = jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils \
            .getZoneId(tz).getRules()
        first = rules.getOffset(jvm.java.time.Instant.MIN).toString()
        past = rules.getTransitions().toString()
        future = " ".join(r.createTransition(2100).toString()
                          for r in rules.getTransitionRules())
        found = (_offset_ms(first), _transitions(past), _transitions(future))
    except (Py4JJavaError, CapturedException):
        # an unknown zone: Spark reports it when it runs the text
        found = None
    _ZONE_RULES[tz] = found
    return found


# java.time.ZoneId.SHORT_IDS, the aliases Spark's DateTimeUtils.getZoneId
# accepts beside region ids and offsets
_SHORT_IDS = {
    "ACT": "Australia/Darwin", "AET": "Australia/Sydney",
    "AGT": "America/Argentina/Buenos_Aires", "ART": "Africa/Cairo",
    "AST": "America/Anchorage", "BET": "America/Sao_Paulo",
    "BST": "Asia/Dhaka", "CAT": "Africa/Harare", "CNT": "America/St_Johns",
    "CST": "America/Chicago", "CTT": "Asia/Shanghai",
    "EAT": "Africa/Addis_Ababa", "ECT": "Europe/Paris",
    "IET": "America/Indiana/Indianapolis", "IST": "Asia/Kolkata",
    "JST": "Asia/Tokyo", "MIT": "Pacific/Apia", "NET": "Asia/Yerevan",
    "NST": "Pacific/Auckland", "PLT": "Asia/Karachi",
    "PNT": "America/Phoenix", "PRT": "America/Puerto_Rico",
    "PST": "America/Los_Angeles", "SST": "Pacific/Guadalcanal",
    "VST": "Asia/Ho_Chi_Minh", "EST": "-05:00", "MST": "-07:00",
    "HST": "-10:00"}
# a fixed offset, bare or after UTC/GMT/UT: +5, +05:30, -0800, +05:30:15
_FIXED_RE = re.compile(r"(?:UTC|GMT|UT)?([+-])(\d\d?)(?::?(\d\d))?(?::?(\d\d))?")


def _tzinfo(tz: str):
    """``tz`` as a Python tzinfo, resolved as Spark resolves it: through
    DateTimeUtils.getZoneId when a JVM runs, else through ZoneId.SHORT_IDS
    and a fixed-offset parse.  So a fixed offset ('+05:30') and a short id
    ('PST') name the zone that from_utc_timestamp applies."""
    from zoneinfo import ZoneInfo
    jvm, zone = SparkContext._jvm, None
    if jvm is not None:
        try:
            zone = jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils \
                .getZoneId(tz).normalized().getId()
        except (Py4JJavaError, CapturedException):
            pass  # unknown to Spark: let zoneinfo report it
    zone = zone or _SHORT_IDS.get(tz, tz)
    if zone == "Z":
        return timezone.utc
    fixed = _FIXED_RE.fullmatch(zone)
    if fixed:
        sign, h, m, sec = fixed.groups()
        return timezone((-1 if sign == "-" else 1) * timedelta(
            hours=int(h), minutes=int(m or 0), seconds=int(sec or 0)))
    return ZoneInfo(zone)


def _day_of(wall: str) -> str:
    """The DATE holding local wall-clock millis ``wall``."""
    return f"date_from_unix_date(CAST(floor(({wall}) / {_DAY}) AS INT))"


def _minus(x: str, n: int) -> str:
    return f"{x} - {n}" if n else x


def _date_ms(date: str) -> str:
    return f"unix_date({date}) * {_DAY}L"


class Granularity:
    """A parsed granularity: ``floor_sql`` gives the bucket-start text."""

    def __init__(self, kind: str, period: Period | None = None,
                 origin_millis: int | None = None, tz: str | None = None):
        self.kind = kind  # 'all' | 'none' | 'period'
        self.period = period
        self.origin_millis = origin_millis
        if tz is not None and not (isinstance(tz, str)
                                   and _ZONE_RE.fullmatch(tz)):
            # the zone is inlined into SQL text as a literal
            raise ValueError(f"bad time zone: {tz!r}")
        self.tz = tz if tz not in (None, "UTC", "Etc/UTC") else None

    # -- Spark SQL text ---------------------------------------------------
    def floor_sql(self, operand: str) -> str:
        """The start of the bucket holding timestamp ``operand``."""
        if self.kind == "all":
            # one bucket anchored at the interval start; callers aggregate
            # without time grouping
            return "CAST(NULL AS TIMESTAMP)"
        if self.kind == "none":
            return operand
        wall = self._wall_sql(operand)
        w, delta = self._floor_wall(wall)
        zoned = (self._to_utc(w) if self._grid_unambiguous
                 else self._at(operand, wall, w, delta))
        since = self._utc_grid_since
        if since is None:
            return zoned
        p, t = self.period, f"unix_millis({operand})"
        utc = (f"timestamp_millis({t} - pmod({_minus(t, self._anchor())}, "
               f"{p.millis}L))")
        if since == -math.inf:
            return utc
        return f"CASE WHEN {t} >= {since}L THEN {utc} ELSE {zoned} END"

    def ceil_sql(self, operand: str) -> str:
        """timestamp_ceil: the operand on a bucket start, else the next one
        (query/expression/TimestampCeilExprMacro.java).  The floor shifted by
        0 or 1 periods, not a CASE of the two: outside a branch the floor is
        a common subexpression that Spark evaluates once per row."""
        if self.kind != "period":
            return self.floor_sql(operand)
        p = self.period
        if self._grid_unambiguous and (p.is_calendar or p.millis % _DAY == 0):
            # the floor's wall time 0 or 1 periods on has one instant
            wall = self._wall_sql(operand)
            w = self._floor_wall(wall)[0]
            return self._to_utc(self._wall_add(
                w, f"CASE WHEN {w} = {wall} THEN 0 ELSE 1 END"))
        fl = self.floor_sql(operand)
        return self.shift_sql(fl, f"CASE WHEN {fl} = {operand} THEN 0 "
                                  f"ELSE 1 END")

    def shift_sql(self, operand: str, steps) -> str:
        """``operand`` moved by ``steps`` periods (SQL text or an int).
        Sub-day fixed periods are physical durations; days, weeks and
        months advance in the local chronology, so a zone's day across a
        DST switch is 23 or 25 hours (TimestampShiftExprMacro.java)."""
        p = self.period
        if p is None:
            return operand
        k = f"({steps})"
        if not p.is_calendar and (not self.tz or p.millis % _DAY):
            return (f"timestamp_millis(unix_millis({operand}) "
                    f"+ {k} * {p.millis}L)")
        wall = self._wall_sql(operand)
        if not p.is_calendar:
            return self._at(operand, wall, delta=f"-{k} * {p.millis}L")
        return self._at(operand, wall, w=self._wall_add(wall, k))

    def _wall_add(self, wall: str, k: str) -> str:
        """Wall millis ``wall`` plus ``k`` periods of the local chronology:
        add_months clamps month ends like Joda's months().add."""
        p = self.period
        if not p.is_calendar:
            return f"{wall} + {k} * {p.millis}L"
        moved = f"add_months({_day_of(wall)}, CAST({k} * {p.months} AS INT))"
        return f"{_date_ms(moved)} + pmod({wall}, {_DAY}L)"

    def _to_utc(self, w: str) -> str:
        return f"to_utc_timestamp(timestamp_millis({w}), {_quote(self.tz)})"

    def _wall_sql(self, operand: str) -> str:
        if not self.tz:
            return f"unix_millis({operand})"
        return f"unix_millis(from_utc_timestamp({operand}, {_quote(self.tz)}))"

    def _floor_wall(self, wall: str) -> tuple[str, str | None]:
        """The grid point at or before wall millis ``wall``, and for a fixed
        period the distance below ``wall`` that gives it."""
        p = self.period
        if p.is_calendar:
            return self._month_floor_sql(wall), None
        delta = f"pmod({_minus(wall, self._anchor())}, {p.millis}L)"
        return f"{wall} - ({delta})", delta

    def _at(self, operand: str, wall: str, w: str | None = None,
            delta: str | None = None) -> str:
        """The instant whose local wall time is ``w`` = ``wall - delta``,
        where ``wall`` is the operand's own wall time: the operand's UTC
        offset carried over when it still holds there, else
        ``to_utc_timestamp``'s (the earlier offset of a repeated hour)."""
        if delta is None:
            delta = f"{wall} - ({w})"
        if w is None:
            w = f"{wall} - ({delta})"
        if not self.tz:
            return f"timestamp_millis({w})"
        z = _quote(self.tz)
        c = f"timestamp_millis(unix_millis({operand}) - ({delta}))"
        return (f"CASE WHEN unix_millis(from_utc_timestamp({c}, {z})) = ({w}) "
                f"THEN {c} ELSE {self._to_utc(w)} END")

    def _month_floor_sql(self, wall: str) -> str:
        """Wall millis of the calendar bucket holding wall millis ``wall``."""
        n, day = self.period.months, _day_of(wall)
        ow = self._origin_wall
        if ow is None:
            # whole periods counted in months from 1970-01
            start = f"trunc({day}, 'MM')"
            if n > 1:
                start = (f"add_months({start}, -pmod(year({day}) * 12 "
                         f"+ month({day}) - 23641, {n}))")
            return _date_ms(start)
        # PeriodGranularity.truncate months-with-origin branch (:265-278):
        # whole periods counted FROM THE ORIGIN, keeping its day-of-month
        # and time; add_months clamps month ends like Joda's months().add
        od = (_EPOCH + timedelta(milliseconds=ow)).date()
        tod = ow % _DAY

        def cand(k: str) -> str:
            moved = f"add_months(DATE{_quote(str(od))}, {k})"
            return f"{_date_ms(moved)} + {tod}L"

        diff = f"(year({day}) * 12 + month({day}) - {od.year * 12 + od.month})"
        whole = (f"({diff} - CASE WHEN {cand(diff)} > {wall} "
                 f"THEN 1 ELSE 0 END)")
        return cand(whole if n == 1 else f"{whole} - pmod({whole}, {n})")

    # -- Column operands --------------------------------------------------
    def floor(self, col: Column) -> Column:
        return F.call_function(self._function("floor"), col)

    def ceil(self, col: Column) -> Column:
        return F.call_function(self._function("ceil"), col)

    def shift(self, col: Column, steps: int) -> Column:
        return F.call_function(self._function("shift"), col,
                               F.lit(int(steps)).cast("bigint"))

    def _function(self, op: str) -> str:
        """Name of a session temporary function whose body is this
        granularity's ``op`` text; the body keeps the zone as a literal, so
        the session that analyzes it does not matter."""
        from incubator_druid_spark.sql.functions import register_function
        if op == "shift":
            params, body = "ts TIMESTAMP, k BIGINT", self.shift_sql("ts", "k")
        else:
            params, body = "ts TIMESTAMP", getattr(self, f"{op}_sql")("ts")
        name = f"druid_{op}_{hashlib.sha1(body.encode()).hexdigest()[:16]}"
        register_function(
            name, f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params}) "
                  f"RETURNS TIMESTAMP RETURN {body}")
        return name

    # -- driver-side mirror -----------------------------------------------
    @cached_property
    def _zone(self):
        return _tzinfo(self.tz)

    def _wall(self, t: int) -> int:
        if not self.tz:
            return t
        utc = (_EPOCH + timedelta(milliseconds=t)).replace(tzinfo=timezone.utc)
        return t + utc.astimezone(self._zone).utcoffset() // _MS

    def _offsets(self, w: int) -> tuple[int, int]:
        """The UTC offsets that can give wall time ``w``: equal for most
        walls, earlier then later across a repeated hour, and before then
        after a gap's jump."""
        local = (_EPOCH + timedelta(milliseconds=w)).replace(tzinfo=self._zone)
        return (local.utcoffset() // _MS,
                local.replace(fold=1).utcoffset() // _MS)

    @cached_property
    def _origin_wall(self) -> int | None:
        """The origin as local wall-clock millis — the phase of a period
        granularity anchors in the origin's wall time (QueryGranularityTest
        testPeriodTruncateDays: origin 2012-01-02T05:00-08:00 floors LA
        times to 05:00 wall, not 13:00Z phase)."""
        o = self.origin_millis
        return None if o is None else self._wall(o)

    def _anchor(self) -> int:
        """The wall-clock grid origin of a fixed period.  Only the exact P1W
        spelling with no origin is Monday-anchored (PeriodGranularity.java
        :295-298); P2W+ aligns from the epoch and P7D counts days from it."""
        ow = self._origin_wall
        if ow is not None:
            return ow
        p = self.period
        return _EPOCH_MONDAY if p.weeks and p.millis == _MILLIS["w"] else 0

    @cached_property
    def _utc_grid_since(self) -> float | None:
        """For a zoned fixed period dividing a day: the first instant from
        which every UTC offset of the zone is a whole number of periods and
        every transition lies on the grid.  From there on the wall grid is
        the UTC grid, so a floor needs no zone conversion.  -inf: always;
        None: never, or no JVM to read the zone's rules from."""
        p = self.period
        rules = (_zone_rules(self.tz) if self.tz and not p.is_calendar
                 and p.millis and _DAY % p.millis == 0 else None)
        if rules is None:
            return None
        first, past, future = rules
        n, a = p.millis, self._anchor()
        since = -math.inf if first % n == 0 else None
        for at, _, after in past:
            if after % n:
                since = None
            elif since is None or (at - a) % n:
                since = at + (a - at) % n  # the next grid instant
        # a yearly rule recurs at one time of day, so one year shows them all
        if any(after % n or (at - a) % n for at, _, after in future):
            return None
        return since

    @cached_property
    def _grid_unambiguous(self) -> bool:
        """Whether no grid wall time ever falls in the wall span a zone
        transition skips or repeats, so each bucket start is the one
        instant of its wall time, the one to_utc_timestamp gives.  Grid
        points of whole days or months share the anchor's time of day, and
        only that is checked for them."""
        p = self.period
        n = _DAY if p.is_calendar or p.millis % _DAY == 0 else p.millis
        rules = _zone_rules(self.tz) if self.tz and _DAY % n == 0 else None
        if rules is None:
            return False
        a = self._anchor()
        return not any((a - at - min(b, f)) % n < abs(f - b)
                       for at, b, f in rules[1] + rules[2])

    def _grid_index(self, wall: int) -> int:
        """Index of the grid point at or before wall millis ``wall``."""
        p = self.period
        if not p.is_calendar:
            return (wall - self._anchor()) // p.millis
        d = (_EPOCH + timedelta(milliseconds=wall))
        ow = self._origin_wall
        if ow is None:
            return ((d.year - 1970) * 12 + d.month - 1) // p.months
        od = _EPOCH + timedelta(milliseconds=ow)
        diff = (d.year * 12 + d.month) - (od.year * 12 + od.month)
        if self._grid_months(diff) > wall:
            diff -= 1
        return diff // p.months

    def _grid_months(self, k: int) -> int:
        """Wall millis ``k`` months after the origin (or 1970-01)."""
        import calendar
        ow = self._origin_wall
        base = _EPOCH + timedelta(milliseconds=ow or 0)
        y, m = divmod(base.year * 12 + base.month - 1 + k, 12)
        day = min(base.day, calendar.monthrange(y, m + 1)[1])
        moved = base.replace(year=y, month=m + 1, day=day)
        return (moved - _EPOCH) // _MS

    def _grid(self, i: int) -> int:
        p = self.period
        if not p.is_calendar:
            return self._anchor() + i * p.millis
        return self._grid_months(i * p.months)

    def floor_ms(self, t: int) -> int:
        """``floor_sql`` for one instant, in epoch millis."""
        wall = self._wall(t)
        w = self._grid(self._grid_index(wall))
        if not self.tz:
            return w
        c = t - (wall - w)
        # to_utc_timestamp takes the earlier offset, as fold 0 does
        return c if self._wall(c) == w else w - self._offsets(w)[0]

    def spine_fits(self, intervals: list[tuple[int, int]]) -> bool:
        """Whether ``spine`` over the intervals stays within ``SPINE_CAP``
        buckets, judged without enumerating them (False for all/none)."""
        p = self.period
        if self.kind in ("all", "none") or p is None or not intervals:
            return False
        # a month is at least 28 days; an interval adds at most a partial
        # bucket at either end, and a local span is at most a day longer
        width = max(p.millis or p.months * 28 * _DAY, 1)
        slack = _DAY if self.tz else 0
        return sum((e - s + slack) // width + 2
                   for s, e in intervals) <= SPINE_CAP

    def spine(self, start_ms: int, end_ms: int) -> list[int]:
        """Bucket starts covering [start, end): the bucket holding start
        and every later one before end — the zero-fill time spine.

        It walks the wall-clock grid and keeps each instant on it that
        ``floor_ms`` maps to itself, so spine and ``floor_sql`` keys agree
        exactly, including both buckets of a repeated hour."""
        if self.kind in ("all", "none") or self.period is None:
            return []
        first = self.floor_ms(start_ms)
        since = self._utc_grid_since
        if not self.tz or since is not None and first >= since:
            # UTC, or where the wall grid is the UTC grid
            i, out = self._grid_index(first), []
            while (t := self._grid(i)) < end_ms:
                out.append(t)
                i += 1
                if len(out) > SPINE_CAP:
                    raise ValueError("time spine too large")
            return out
        i = self._grid_index(self._wall(first) - _MAX_SHIFT)
        hi = self._wall(end_ms) + _MAX_SHIFT
        out = set()
        while (w := self._grid(i)) < hi:
            early, late = self._offsets(w)
            if early >= late:  # one instant, or two in a repeated hour
                out.update((w - early, w - late))
            elif self.floor_ms(w - early) == w - early:  # w is in a gap
                out.add(w - early)
            i += 1
            if len(out) > SPINE_CAP:
                raise ValueError("time spine too large")
        return sorted(u for u in out if first <= u < end_ms)


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
