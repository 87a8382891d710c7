"""JST/UTC time discipline (single home for all boundary math).

The reference renders every user-facing time in JST (UTC+9, no DST)
and computes day/week/month query windows in JST before converting to
UTC for the actual predicate (reference: pkg/utils/time_utils.go:100-156,
pkg/utils/query_counter.go:96-181, pkg/backup/external_simple.go:528-596).

We mirror that: window boundaries are computed driver-side in Python
and embedded as literal UTC timestamps, so Catalyst sees plain range
predicates it can push down to the parquet scan.
"""

from __future__ import annotations

from datetime import date, datetime, timedelta

JST_OFFSET = timedelta(hours=9)


def jst_to_utc(dt: datetime) -> datetime:
    """Naive JST wall time → naive UTC."""
    return dt - JST_OFFSET


def jst_day_range(day: date) -> tuple[datetime, datetime]:
    """Half-open UTC range covering one JST calendar day.

    Reference uses a closed [00:00:00, 23:59:59.999] range
    (query_counter.go:96-115); we use the equivalent half-open form,
    which is exact for microsecond timestamps and composes cleanly.
    """
    start = datetime(day.year, day.month, day.day)
    return jst_to_utc(start), jst_to_utc(start + timedelta(days=1))


def jst_offset_day_range(anchor: date, start_offset: int, end_offset: int) -> tuple[datetime, datetime]:
    """{type: daily, startOffset, endOffset} semantics
    (external_simple.go:528-596): JST midnight boundaries shifted by
    day offsets from the anchor, half-open."""
    base = datetime(anchor.year, anchor.month, anchor.day)
    return (
        jst_to_utc(base + timedelta(days=start_offset)),
        jst_to_utc(base + timedelta(days=end_offset)),
    )


def jst_week_range(day: date) -> tuple[datetime, datetime]:
    """Sunday-start JST week containing ``day`` (query_counter.go:144-160)."""
    days_since_sunday = (day.weekday() + 1) % 7
    sunday = day - timedelta(days=days_since_sunday)
    start = datetime(sunday.year, sunday.month, sunday.day)
    return jst_to_utc(start), jst_to_utc(start + timedelta(days=7))


def jst_month_range(day: date) -> tuple[datetime, datetime]:
    """1st-of-month JST to 1st of next month (query_counter.go:162-181)."""
    start = datetime(day.year, day.month, 1)
    if day.month == 12:
        end = datetime(day.year + 1, 1, 1)
    else:
        end = datetime(day.year, day.month + 1, 1)
    return jst_to_utc(start), jst_to_utc(end)


def fmt(dt: datetime) -> str:
    """Literal for embedding into SQL / Column expressions.

    Microsecond precision: two monitor ticks in the same second must
    stay distinguishable or latest-row windows become nondeterministic
    (monitor.go logs full precision; whole-second range boundaries
    just render a .000000 suffix).

    Timezone-AWARE datetimes are converted to UTC first — a bare
    strftime would render the foreign wall clock and shift every
    comparison by the zone offset.
    """
    if dt.tzinfo is not None:
        from datetime import timezone

        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt.strftime("%Y-%m-%d %H:%M:%S.%f")
