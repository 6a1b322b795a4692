"""Druid granularities and time specs, and the one time-bucket lowering.

Reference: core/src/main/java/org/apache/druid/java/util/common/granularity/
GranularityType.java:34-84 (SECOND..YEAR, ALL, NONE),
PeriodGranularity.java (ISO-8601 period + timeZone + origin),
DurationGranularity.java (fixed millis + origin).

Buckets are Spark SQL text built here and nowhere else: ``bucket_sql``
floors or ceils by an ISO period, ``shift_sql`` steps by one, and
``in_zone`` is the only zone conversion. Query granularity
(``granularity_sql``, ``time_floor_col``), ingest rollup and segment
granularity, the timeFormat extraction fn and the SQL TIME_FLOOR,
TIME_CEIL, TIME_SHIFT, FLOOR … TO and DATE_TRUNC rules all call them.
The text is built-in expressions (date_trunc, pmod on unix millis,
month arithmetic), so bucketing stays inside whole-stage codegen and a
bucket that feeds a groupBy is a plain timestamp key.

Buckets tile the wall clock of the zone from the origin, by default the
zone's local 1970-01-01T00:00, with three exceptions: a period of two or
more fields without months, weeks or days (PT12H5M) counts elapsed time
from the origin instant; a period mixing months with days or time
(P1M2D) floors on the month-then-time walk from the origin; a duration
has no zone. ``floor_ms``, ``shift_ms`` and ``_compound_boundaries`` are
the Python twins used for interval math.
"""

from __future__ import annotations

import calendar
import re
from datetime import datetime, timedelta, timezone

from pyspark.sql import Column
from pyspark.sql import functions as F

_PERIOD_RE = re.compile(
    r"^P(?:(\d+)Y)?(?:(\d+)M)?(?:(\d+)W)?(?:(\d+)D)?"
    r"(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+(?:\.\d+)?)S)?)?$"
)


def _fields(period: str) -> tuple:
    """An ISO-8601 period's Y, M, W, D, H, M, S fields (None if absent)."""
    m = _PERIOD_RE.match(period.strip().upper())
    if not m:
        raise ValueError(f"bad ISO-8601 period: {period!r}")
    return m.groups()


def parse_period(period: str, allow_mixed: bool = False) -> tuple[int, int]:
    """ISO-8601 period -> (months, millis). Mixed month+millis periods
    (e.g. P1M2D) are accepted only with ``allow_mixed`` (the
    granularity floor/shift paths implement the reference's compound
    stepping); other callers keep the uniform-bucket restriction."""
    y, mo, w, d, h, mi, s = _fields(period)
    months = int(y or 0) * 12 + int(mo or 0)
    millis = (
        int(w or 0) * 7 * 86_400_000
        + int(d or 0) * 86_400_000
        + int(h or 0) * 3_600_000
        + int(mi or 0) * 60_000
        + round(float(s or 0) * 1000)
    )
    if months and millis and not allow_mixed:
        raise ValueError(f"mixed month/time period unsupported: {period!r}")
    if not months and not millis:
        raise ValueError(f"zero-length period: {period!r}")
    return months, millis


# GranularityType.java:34-84: every named granularity as its ISO period
# ("all" and "none" are not periods and are handled by their callers).
GRANULARITIES = {
    "second": "PT1S", "minute": "PT1M", "five_minute": "PT5M",
    "ten_minute": "PT10M", "fifteen_minute": "PT15M",
    "thirty_minute": "PT30M", "hour": "PT1H", "six_hour": "PT6H",
    "eight_hour": "PT8H", "day": "P1D", "week": "P1W", "month": "P1M",
    "quarter": "P3M", "year": "P1Y",
}

# The single-word names are also date_trunc units (Spark and DuckDB
# agree on week-starts-Monday for 'week'); the rest are fixed
# millisecond multiples floored from the epoch.
_TRUNC_UNITS = frozenset(g for g in GRANULARITIES if "_" not in g)


def period_of(gran) -> str:
    """Granularity spec -> ISO period: a name from ``GRANULARITIES``, a
    bare ISO period, or a ``period``/``duration`` granularity dict."""
    if isinstance(gran, dict):
        if gran.get("type") == "duration":
            s, ms = divmod(int(gran["duration"]), 1000)
            return f"PT{s}.{ms:03d}S"
        return gran.get("period", "P1D")
    g = str(gran).lower()
    if g in GRANULARITIES:
        return GRANULARITIES[g]
    if g.startswith("p"):
        return str(gran)
    raise ValueError(f"unsupported granularity: {gran!r}")


def trunc_unit(period: str) -> str | None:
    """The date_trunc unit whose buckets an ISO period spans exactly
    (``P3M`` -> ``quarter``), or None."""
    p = period.strip().upper()
    return next((g for g in _TRUNC_UNITS if GRANULARITIES[g] == p), None)


# JodaUtils.MIN_INSTANT / MAX_INSTANT; Intervals.ETERNITY renders them
# as years -146136543 and 146140482.
MIN_INSTANT, MAX_INSTANT = -(1 << 62), 1 << 62
ETERNITY = "-146136543-09-08T08:23:32.096Z/146140482-04-24T15:36:27.903Z"
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_ONE_MS = timedelta(milliseconds=1)


def datetime_ms(dt: datetime) -> int:
    """Epoch millis of a datetime; a naive one is read as UTC."""
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return (dt - _EPOCH) // _ONE_MS


# the instants a datetime and a Spark timestamp hold: years 1..9999
_LO_MS = datetime_ms(datetime.min)
_HI_MS = datetime_ms(datetime.max.replace(microsecond=0))


def parse_instant(s: str) -> int:
    """ISO-8601 instant -> epoch millis, as Druid's Intervals.of reads
    it: partial dates (``2012``, ``2011-04``), ``Z`` and ``±hh:mm``
    offsets, no offset meaning UTC. Years outside 1..9999 (the
    eternity bounds) map to MIN_INSTANT / MAX_INSTANT."""
    text = str(s).strip()
    m = re.match(r"([+-]?\d+)-", text)
    if m and not 1 <= int(m.group(1)) <= 9999:
        return MIN_INSTANT if int(m.group(1)) < 1 else MAX_INSTANT
    m = re.fullmatch(r"(\d{4})(?:-(\d\d))?", text)
    if m:
        text = f"{m.group(1)}-{m.group(2) or '01'}-01"
    try:
        dt = datetime.fromisoformat(text)
    except ValueError:
        raise ValueError(f"invalid ISO-8601 instant: {s!r}") from None
    return datetime_ms(dt)


def parse_interval(iv: str) -> tuple[int, int]:
    """``start/end`` ISO-8601 interval -> (start_ms, end_ms)."""
    try:
        start, end = str(iv).split("/")
        return parse_instant(start), parse_instant(end)
    except ValueError:
        raise ValueError(f"invalid ISO-8601 interval: {iv!r}") from None


def utc_datetime(ms: int) -> datetime:
    """Epoch millis -> naive UTC datetime, clamped to years 1..9999."""
    return (_EPOCH + min(max(ms, _LO_MS), _HI_MS) * _ONE_MS).replace(
        tzinfo=None)


def iso_of(ms: int) -> str:
    """Epoch millis -> Druid's ISO rendering, ``2011-01-01T00:00:00.000Z``."""
    return utc_datetime(ms).isoformat(timespec="milliseconds") + "Z"


def instant_sql(ms: int) -> str:
    """Timestamp literal text of an epoch-millis instant, clamped to
    years 1..9999 (the eternity bounds overflow a Spark timestamp)."""
    return f"timestamp_millis({min(max(ms, _LO_MS), _HI_MS)})"


def instant_lit(ms: int) -> Column:
    """``instant_sql`` as a Column."""
    return F.expr(instant_sql(ms))


def floor_ms(ms: int, gran: str) -> int:
    """Python twin of ``bucket_sql`` for a named granularity in UTC
    (week starts Monday, 1969-12-29 being the Monday before the epoch)."""
    g = str(gran).lower()
    if g not in GRANULARITIES:
        raise ValueError(f"not a named granularity: {gran!r}")
    months, millis = parse_period(GRANULARITIES[g])
    if millis:
        origin = -3 * 86_400_000 if g == "week" else 0
        return ms - (ms - origin) % millis
    d = utc_datetime(ms)
    m = d.year * 12 + d.month - 1
    m -= m % months
    return datetime_ms(datetime(m // 12, m % 12 + 1, 1))


def shift_ms(ms: int, gran, step: int) -> int:
    """Python twin of ``shift_sql``: move an instant by ``step``
    periods of ``gran`` in UTC; a month step keeps the time of day and
    clamps the day to the month's end."""
    return _shift(ms, *parse_period(period_of(gran), allow_mixed=True), step)


def _shift(ms: int, months: int, millis: int, step: int) -> int:
    if months:
        d = utc_datetime(ms)
        y, m = divmod(d.year * 12 + d.month - 1 + months * step, 12)
        d = d.replace(year=y, month=m + 1,
                      day=min(d.day, calendar.monthrange(y, m + 1)[1]))
        ms = datetime_ms(d)
    return ms + millis * step


def day_millis(period: str) -> int:
    """An ISO period's weeks and days in millis: the fields a zoned
    chronology adds on the wall clock (DST makes them imprecise)."""
    weeks, days = _fields(period)[2:4]
    return (int(weeks or 0) * 7 + int(days or 0)) * 86_400_000


def is_utc(tz: str | None) -> bool:
    """No zone, or a spelling of UTC."""
    return not tz or tz.upper() in ("UTC", "ETC/UTC", "Z")


def granularity_to_duration(gran) -> str:
    """Granularity -> Structured Streaming window duration string
    (for ``F.window(col, dur)`` tumbling windows in streaming rollup)."""
    g = str(gran).lower()
    if g in _TRUNC_UNITS:
        return f"1 {g}"
    months, millis = parse_period(period_of(gran))
    if months:
        raise ValueError("month-based periods unsupported in streaming windows")
    return f"{millis} milliseconds"


def tz_offset_ms(tz: str | None, instant_ms: int) -> int:
    """UTC offset of ``tz`` at an instant, in millis (0 for UTC/None).
    Accepts zone ids and fixed '+HH:MM' offsets."""
    if is_utc(tz):
        return 0
    m = re.match(r"^([+-])(\d{2}):?(\d{2})$", tz.strip())
    if m:
        sign = 1 if m.group(1) == "+" else -1
        return sign * (int(m.group(2)) * 3600 + int(m.group(3)) * 60) * 1000
    from zoneinfo import ZoneInfo

    d = _EPOCH + instant_ms * _ONE_MS
    off = d.astimezone(ZoneInfo(tz)).utcoffset()
    return int(off.total_seconds() * 1000)


def _compound_boundaries(origin_wall_ms: int, months: int,
                         millis: int) -> list[int]:
    """PeriodGranularity.truncateCompoundPeriod walks the period
    iteratively from the origin — chronology.add applies the month
    field THEN the fixed field each step, so day-of-month drifts and
    clamps as the walk proceeds (NOT equal to add_months(o, k*m) +
    k*millis). The boundary series is data-independent; precompute it
    over [1900, 2200] (wall frame) and floor via lookup."""
    lo = datetime_ms(datetime(1900, 1, 1))
    hi = datetime_ms(datetime(2200, 1, 1))
    out = []
    cur = origin_wall_ms
    while cur < hi:
        if cur >= lo:
            out.append(cur)
        cur = _shift(cur, months, millis, 1)
    cur = origin_wall_ms
    while True:
        cur = _shift(cur, months, millis, -1)
        if cur < lo:
            break
        if cur < hi:
            out.append(cur)
    out.sort()
    return out


# months from year 0 to the epoch: PeriodGranularity counts month periods
# from 1970-01 (P7M floors 2000-06-15 to 2000-05-01)
EPOCH_MONTHS = 1970 * 12


# a zone id or offset as java.time and Joda spell one
# (America/Los_Angeles, Etc/GMT+8, +05:30, UTC-3)
_ZONE_RE = re.compile(r"[A-Za-z0-9~/._+:-]+")


def zone_sql(tz: str | None) -> str | None:
    """A zone id (or ``±hh:mm`` offset) as a SQL string literal; None for
    UTC. The zone comes from a native query's timeZone, so any other
    character is refused, not quoted into the SQL text."""
    if is_utc(tz):
        return None
    if not _ZONE_RE.fullmatch(str(tz)):
        raise ValueError(f"Invalid time zone: {tz!r}")
    return f"'{tz}'"


def in_zone(tz: str | None, ts: str, f=None, read: bool = True,
            write: bool = True) -> str:
    """The instant ``ts`` read as its wall clock in the zone ``tz`` (SQL
    text, None for UTC) if ``read``, ``f`` applied, the wall clock
    written back as the instant if ``write``."""
    t = f"from_utc_timestamp({ts}, {tz})" if tz and read else ts
    t = f(t) if f else t
    return f"to_utc_timestamp({t}, {tz})" if tz and write else t


def _add(t: str, months: int, ms: int, step: str) -> str:
    """``t`` plus ``step`` (SQL text) times (``months``, ``ms``), months
    first, keeping the time of day and clamping the day
    (chronology.add)."""
    if re.fullmatch(r"[+-]?\d+L?", step):
        n = int(step.rstrip("L"))
        m, secs = months * n, f"{ms * n / 1000:.3f}"
    else:
        m = f"CAST({months} * ({step}) AS INT)"
        secs = f"{ms / 1000:.3f} * ({step})"
    return f"({t} + make_interval(0, {m}, 0, 0, 0, 0, {secs}))"


def shift_sql(ts: str, period: str, step: str, tz: str | None = None) -> str:
    """TIME_SHIFT of ``ts`` by ``step`` ISO periods as a zoned chronology
    adds them: months (keeping the time of day, clamping the day), weeks
    and days on the wall clock of ``tz``, the rest as elapsed time."""
    months, ms = parse_period(period, allow_mixed=True)
    wall = ms if tz is None else day_millis(period)
    ts = f"CAST({ts} AS TIMESTAMP)"
    if months or wall:
        ts = in_zone(tz, ts, lambda t: _add(t, months, wall, step))
    return _add(ts, 0, ms - wall, step) if ms != wall else ts


def _literal_ms(text: str | None, tz: str | None) -> int | None:
    """Epoch millis of an origin written as a literal
    (``timestamp_millis(n)``, or ``TIMESTAMP '…'`` alone or as the wall
    clock of a literal zone, the form a zoned SQL session writes),
    moved onto the wall clock of the literal zone ``tz``; None if either
    is not a literal."""
    zone = re.fullmatch(r"'([^']*)'", tz or "''")
    m = re.fullmatch(r"timestamp_millis\((-?\d+)\)|(?:to_utc_timestamp"
                     r"\()?TIMESTAMP\s*'([^']*)'(?:, '([^']*)'\))?",
                     (text or "").strip(), re.IGNORECASE)
    if not (m and zone):
        return None
    ms = int(m.group(1)) if m.group(1) else parse_instant(m.group(2))
    if m.group(3):  # a wall clock of that zone
        ms -= tz_offset_ms(m.group(3), ms - tz_offset_ms(m.group(3), ms))
    return ms + tz_offset_ms(zone.group(1), ms)


def bucket_sql(ts: str, period: str, origin: str | None = None,
               tz: str | None = None, ceil: bool = False) -> str:
    """TIME_FLOOR (or, with ``ceil``, TIME_CEIL) of the instant ``ts`` by
    an ISO ``period``. ``origin`` and ``tz`` are SQL text; None is the
    zone's local epoch and UTC. Ceil is one period past the floor
    unless ``ts`` is on a boundary."""
    months, ms = parse_period(period, allow_mixed=True)
    unit = None if origin else trunc_unit(period)
    if (not months and not day_millis(period)
            and sum(bool(f and float(f)) for f in _fields(period)) > 1):
        # PT12H5M: elapsed time from the origin instant
        # (PeriodGranularity.truncateMillisPeriod); a weeks or days field
        # steps on the wall clock like a one-field period
        if not origin and tz:
            origin = in_zone(tz, "timestamp_millis(0)", read=False)
        o, tz = origin, None
    else:
        o = origin and in_zone(tz, origin, write=False)

    def floor(t: str) -> str:
        if unit:
            return f"date_trunc('{unit.upper()}', {t})"
        if months and ms:
            # PeriodGranularity.truncateCompoundPeriod: the last boundary
            # of the month-then-time walk from the origin at or before t
            o_ms = _literal_ms(origin, tz) if origin else 0
            if o_ms is None:
                raise ValueError(f"Invalid period[{period}]: a period "
                                 f"mixing months with days or time needs "
                                 f"a literal origin and zone")
            bounds = ", ".join(map(str, _compound_boundaries(o_ms, months,
                                                             ms)))
            return (f"timestamp_millis(array_max(filter(array({bounds}), "
                    f"__tf_b -> __tf_b <= unix_millis({t}))))")
        if months:
            # months_between ignores time-of-day when the days-of-month
            # match, so a candidate bucket past t steps back one period
            o_ = o or "TIMESTAMP '1970-01-01 00:00:00'"
            k = f"CAST(floor(months_between({t}, {o_}) / {months}) AS INT)"
            b = f"({o_} + make_interval(0, {k} * {months}))"
            return (f"(CASE WHEN {b} > {t} THEN ({o_} + make_interval(0, "
                    f"({k} - 1) * {months})) ELSE {b} END)")
        if o:
            return (f"timestamp_millis(unix_millis({o}) + CAST(floor(("
                    f"unix_millis({t}) - unix_millis({o})) / {ms}) AS "
                    f"BIGINT) * {ms})")
        return (f"timestamp_millis(unix_millis({t}) - "
                f"pmod(unix_millis({t}), {ms}))")

    def ceiling(t: str) -> str:
        # the floor bound ONCE by a one-element transform: inlined three
        # times it re-evaluates ts and origin and blows up nested calls
        return (f"element_at(transform(array({floor(t)}), __tc_f -> "
                f"CASE WHEN __tc_f = {t} THEN __tc_f "
                f"ELSE {_add('__tc_f', months, ms, '1')} END), 1)")

    ts = ts if unit else f"CAST({ts} AS TIMESTAMP)"
    return in_zone(tz, ts, ceiling if ceil else floor)


def granularity_sql(ts: str, gran, tz: str | None = None) -> str:
    """The bucket of the instant ``ts`` (SQL text) by a Druid query
    granularity: a name, a bare ISO period, a ``period`` or ``duration``
    dict, ``all`` (no bucket: NULL) or ``none`` (``ts`` itself). ``tz``
    is a zone id; a period dict's own timeZone wins, and a duration has
    no zone."""
    origin = None
    if isinstance(gran, dict):
        if gran.get("origin") is not None:
            origin = instant_sql(parse_instant(gran["origin"]))
        tz = (None if gran.get("type") == "duration"
              else gran.get("timeZone") or tz)
    elif str(gran).lower() == "all":
        return "CAST(NULL AS TIMESTAMP)"
    elif str(gran).lower() == "none":
        return ts
    return bucket_sql(ts, period_of(gran), origin, zone_sql(tz))


def time_floor_col(ts: str, gran) -> Column:
    """``granularity_sql`` as a Column: the query-granularity bucket."""
    return F.expr(granularity_sql(ts, gran))
