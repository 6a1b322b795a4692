"""Druid granularities -> Catalyst time-bucketing expressions.

Reference: core/src/main/java/org/apache/druid/java/util/common/granularity/
GranularityType.java:34-84 (SECOND..YEAR, ALL, NONE),
PeriodGranularity.java (ISO-8601 period + timeZone + origin),
DurationGranularity.java (fixed millis + origin).

Everything here composes built-in expressions (date_trunc, pmod on
unix millis, month arithmetic) — no UDFs, so bucketing stays inside
whole-stage codegen and, when the bucket feeds a groupBy, the shuffle
key is a plain long/timestamp column.
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


def parse_period(period: str, allow_mixed: bool = False) -> tuple[int, int]:
    """ISO-8601 period -> (months, millis). Mixed month+millis periods
    (e.g. P1M2D) are accepted only with ``allow_mixed`` (the
    granularity floor/shift paths implement the reference's compound
    stepping); other callers keep the uniform-bucket restriction."""
    m = _PERIOD_RE.match(period.strip().upper())
    if not m:
        raise ValueError(f"bad ISO-8601 period: {period!r}")
    y, mo, w, d, h, mi, s = m.groups()
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
_FIXED_MILLIS = {g: parse_period(p)[1] for g, p in GRANULARITIES.items()
                 if g not in _TRUNC_UNITS}


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


def instant_lit(ms: int) -> Column:
    """Timestamp literal of an epoch-millis instant, clamped to years
    1..9999 (the eternity bounds overflow a Spark timestamp)."""
    return F.timestamp_millis(F.lit(min(max(ms, _LO_MS), _HI_MS)))


def floor_ms(ms: int, gran: str) -> int:
    """Python twin of ``time_floor_col`` for a named granularity in UTC
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
    """Python twin of ``time_shift_col``: move an instant by ``step``
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


def _period_field_count(period: str) -> int:
    """Number of non-zero fields in the period (PeriodGranularity
    isCompoundPeriod: >1 field changes the truncation algorithm)."""
    m = _PERIOD_RE.match(period.strip().upper())
    return sum(1 for g in (m.groups() if m else ()) if g and float(g))


def day_millis(period: str) -> int:
    """An ISO period's weeks and days in millis: the fields a zoned
    chronology adds on the wall clock (DST makes them imprecise)."""
    m = _PERIOD_RE.match(period.strip().upper())
    weeks, days = (m.group(3), m.group(4)) if m else (None, None)
    return (int(weeks or 0) * 7 + int(days or 0)) * 86_400_000


def is_utc(tz: str | None) -> bool:
    """No zone, or a spelling of UTC."""
    return not tz or tz.upper() in ("UTC", "ETC/UTC", "Z")


def _tz_is_fixed(tz: str) -> bool:
    """True when the zone has a constant UTC offset (no DST) — sampled
    at winter/summer instants across five decades, which is how far
    the engine's own test pins reach."""
    if is_utc(tz):
        return True
    try:
        from zoneinfo import ZoneInfo

        z = ZoneInfo(tz)
        offs = {
            datetime(y, mo, 1, tzinfo=timezone.utc).astimezone(z).utcoffset()
            for y in (1975, 2000, 2020, 2035) for mo in (1, 7)
        }
        return len(offs) == 1
    except Exception:  # noqa: BLE001 — unknown zone: assume DST-capable
        return False


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


def _floor_millis(col: Column, dur_ms: int, origin_ms: int = 0) -> Column:
    """Floor a timestamp column to fixed millisecond buckets using pmod
    (integer-exact, codegen-friendly; no floating point)."""
    t = F.unix_millis(col)
    off = t - F.lit(origin_ms)
    return F.timestamp_millis(t - F.pmod(off, F.lit(dur_ms)))


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


def _floor_compound_walk(col: Column, months: int, millis: int,
                         origin_wall_ms: int) -> Column:
    bounds = _compound_boundaries(origin_wall_ms, months, millis)
    arr = F.lit(bounds)
    t = F.unix_millis(col)
    return F.timestamp_millis(
        F.array_max(F.filter(arr, lambda x: x <= t)))


def _floor_period_from_origin(col: Column, months: int, millis: int,
                              origin_wall_ms: int) -> Column:
    """Origin-anchored floor for periods with a month component
    (PeriodGranularity truncateCompoundPeriod / the months-with-origin
    field path): boundaries are origin + k*(months, millis); estimate k
    from calendar month distance, generate a +/-3 candidate window, and
    take the greatest boundary <= t. ``col`` and the origin are in the
    WALL frame (the caller shifts by timezone)."""
    o_day = origin_wall_ms - (origin_wall_ms % 86_400_000)
    o_tod = origin_wall_ms - o_day
    origin_ts = F.timestamp_millis(F.lit(origin_wall_ms))
    # average Gregorian month = 30.436875 days
    step_months = months + millis / 2_629_746_000.0
    k0 = F.floor(
        F.months_between(col, origin_ts) / F.lit(step_months)).cast("long")

    def cand(k: Column) -> Column:
        base = F.add_months(
            F.timestamp_millis(F.lit(o_day)), k * F.lit(months))
        return (F.unix_millis(base.cast("timestamp"))
                + F.lit(o_tod) + k * F.lit(millis))

    t = F.unix_millis(col)
    cands = F.array(*[cand(k0 + F.lit(i)) for i in range(-3, 4)])
    return F.timestamp_millis(
        F.array_max(F.filter(cands, lambda x: x <= t)))


# months from year 0 to the epoch: PeriodGranularity counts month periods
# from 1970-01 (P7M floors 2000-06-15 to 2000-05-01)
EPOCH_MONTHS = 1970 * 12


def _floor_months(col: Column, n_months: int) -> Column:
    m = F.year(col) * F.lit(12) + F.month(col) - F.lit(1)
    fm = m - F.pmod(m - F.lit(EPOCH_MONTHS), F.lit(n_months))
    return F.make_timestamp(
        F.floor(fm / 12).cast("int"),
        (F.pmod(fm, F.lit(12)) + F.lit(1)).cast("int"),
        F.lit(1), F.lit(0), F.lit(0), F.lit(0),
    )


def time_floor_col(col: Column, gran, timezone: str | None = None) -> Column:
    """The engine's TIME_FLOOR: bucket a TimestampType column by a Druid
    granularity (named, {"type":"duration"...}, or {"type":"period"...}).

    timeZone support: arithmetic runs on the wall-clock-shifted
    timestamp and shifts back (DST transitions inside a bucket follow
    the fixed-offset approximation; documented divergence).
    """
    origin_ms = 0
    period_tz = None
    if isinstance(gran, dict):
        period_tz = gran.get("timeZone")
        if gran.get("origin") is not None:
            origin_ms = parse_instant(gran["origin"])
        if gran.get("type") == "duration":
            return _with_tz(
                col, period_tz or timezone,
                lambda c: _floor_millis(c, int(gran["duration"]), origin_ms),
            )
        period = gran.get("period", "P1D")
    else:
        g = str(gran).lower()
        if g in ("all",):
            return F.lit(None).cast("timestamp")
        if g in ("none",):
            return col
        if g in _TRUNC_UNITS:
            return _with_tz(
                col, timezone, lambda c: F.date_trunc(g, c)
            )
        if g in _FIXED_MILLIS:
            return _with_tz(
                col, timezone, lambda c: _floor_millis(c, _FIXED_MILLIS[g])
            )
        # allow bare ISO periods like "PT1H"
        period = gran if g.startswith("p") else None
        if period is None:
            raise ValueError(f"unsupported granularity: {gran!r}")

    months, millis = parse_period(period, allow_mixed=True)
    tz = period_tz or timezone
    has_origin = isinstance(gran, dict) and gran.get("origin") is not None
    # the origin instant expressed on the local wall clock — the
    # reference anchors via chronology field arithmetic, which works in
    # the zone's wall frame (QueryGranularityTest testPeriodTruncateDays)
    origin_wall = origin_ms + tz_offset_ms(tz, origin_ms)
    # P1W with no origin floors to MONDAY (PeriodGranularity.java:295-299
    # — dayOfWeek roundFloor + set to 1); PnW n>1 aligns on multiples
    # from the epoch origin like every other millis period
    week_one = (period.strip().upper() == "P1W" and not has_origin)

    if not months and _period_field_count(period) >= 2:
        # compound fixed-length period (PT12H5M): the reference's
        # truncateMillisPeriod is plain modular arithmetic on UTC
        # instants — no wall-clock shift
        # (QueryGranularityTest.testCompoundPeriodMillisTruncate).
        # EXCEPTION (ADVICE r8): when the period carries a DAYS/WEEKS
        # component and the zone has DST, Joda's days field is
        # imprecise — truncateMillisPeriod throws and the reference
        # falls back to the zone-aware truncateCompoundPeriod walk
        # (day adds are wall-clock 23/25h). Floor in the WALL frame
        # there; divergence is confined to instants inside the
        # sub-day remainder straddling a transition step.
        if day_millis(period) and tz and not _tz_is_fixed(tz):
            return _with_tz(
                col, tz,
                lambda c: _floor_millis(
                    c, millis, origin_wall if has_origin else 0))
        return _floor_millis(col, millis, origin_ms)

    def _f(c: Column) -> Column:
        if months and millis:
            # compound month periods (P1M2D) replay the reference's
            # iterative walk from the origin (interleaved month/day
            # adds — QueryGranularityTest.testCompoundPeriodTruncate)
            return _floor_compound_walk(
                c, months, millis, origin_wall if has_origin else 0)
        if months and has_origin:
            # month periods with an origin step calendar-exactly from
            # the anchor (months-difference field path)
            return _floor_period_from_origin(
                c, months, millis, origin_wall)
        if months == 1:
            return F.date_trunc("month", c)
        if months == 12:
            return F.date_trunc("year", c)
        if months:
            return _floor_months(c, months)
        if week_one:
            return F.date_trunc("week", c)
        return _floor_millis(c, millis,
                             origin_wall if has_origin else origin_ms)

    return _with_tz(col, tz, _f)


def time_ceil_col(col: Column, gran, timezone: str | None = None) -> Column:
    """TIME_CEIL: smallest bucket boundary >= col."""
    floored = time_floor_col(col, gran, timezone)
    nxt = time_shift_col(floored, gran, 1, timezone)
    return F.when(floored == col, col).otherwise(nxt)


def time_shift_col(
    col: Column, gran, step: int, timezone: str | None = None
) -> Column:
    """TIME_SHIFT by step * period as a zoned chronology adds it: months
    (keeping the time of day, clamping the day), weeks and days on the
    wall clock, the rest as elapsed time. A granularity's timeZone wins."""
    period = period_of(gran)
    if isinstance(gran, dict):
        timezone = gran.get("timeZone") or timezone
    months, millis = parse_period(period, allow_mixed=True)
    wall = millis if is_utc(timezone) else day_millis(period)
    if months or wall:
        col = _with_tz(col, timezone,
                       lambda c: c + _interval(months * step, wall * step))
    return col + _interval(0, (millis - wall) * step) if millis != wall \
        else col


def _interval(months: int, ms: int) -> Column:
    return F.expr(f"make_interval(0, {months}, 0, 0, 0, 0, {ms / 1000:.3f})")


def _with_tz(col: Column, tz: str | None, f) -> Column:
    if is_utc(tz):
        return f(col)
    local = F.from_utc_timestamp(col, tz)
    return F.to_utc_timestamp(f(local), tz)
