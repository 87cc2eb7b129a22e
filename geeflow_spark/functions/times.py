"""Timezone-aware date utilities - the parts of the reference's times
module (geeflow/times.py) that the source pipeline uses, minus the EE
server-side variants. All datetimes are UTC-aware; formats identical.
"""

from __future__ import annotations

import datetime

import numpy as np

UTC = datetime.timezone.utc

DATE_FORMAT = "%Y-%m-%d"


def millis_to_datetime(millis: float) -> datetime.datetime:
    return datetime.datetime.fromtimestamp(millis / 1e3, tz=UTC)


def to_datestr(d) -> str:
    if isinstance(d, (float, int, np.number)):
        d = millis_to_datetime(d)
    return datetime.datetime.strftime(d, DATE_FORMAT)


def is_tza(d: datetime.datetime) -> bool:
    return d.tzinfo is not None and d.tzinfo.utcoffset(d) is not None


def make_tza(d: datetime.datetime) -> datetime.datetime:
    if not is_tza(d):
        d = d.replace(tzinfo=UTC)
    return d


def to_datetime(d: str, dt_format: str = DATE_FORMAT) -> datetime.datetime:
    return make_tza(datetime.datetime.strptime(d, dt_format))


def _relativedelta_add(d: datetime.datetime, years: int = 0,
                       months: int = 0, days: int = 0) -> datetime.datetime:
    """dateutil.relativedelta semantics for the (year, month, day)
    increments the reference uses: add years+months with day clamped to
    the target month's end, then add days."""
    m = d.month - 1 + months
    y = d.year + years + m // 12
    m = m % 12 + 1
    leap = y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)
    last = [31, 29 if leap else 28, 31, 30, 31, 30, 31, 31, 30, 31, 30,
            31][m - 1]
    return (d.replace(year=y, month=m, day=min(d.day, last))
            + datetime.timedelta(days=days))


def outer_dates(date_ranges, to_str=True):
    """Min start / max end envelope over (start, months) ranges
    (times.py:124-131) - the predicate pushed down to source scans."""
    dates = [to_datetime(x[0]) for x in date_ranges]
    dates += [_relativedelta_add(to_datetime(x[0]), months=x[1])
              for x in date_ranges]
    if to_str:
        return to_datestr(min(dates)), to_datestr(max(dates))
    return min(dates), max(dates)
