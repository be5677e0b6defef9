"""Event-time late-data split + backfill re-promotion (ST3/ST4).

The reference classifies each record's event-time *day* against
``[today - outdated.day.index, today]`` — inside → real-time path,
outside → historical topic (KafkaRealTimeWorker.java:294-328,356-367).
One heuristic softens it: an old day carrying > 1000 records AND > 25%
of the batch is a bulk backfill and stays real-time
(KafkaRealTimeWorker.java:370-384).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PROMOTE_MIN_RECORDS = 1000   # KafkaRealTimeWorker.java:371
PROMOTE_MIN_FRACTION = 0.25  # KafkaRealTimeWorker.java:372


def realtime_days(day_counts: dict, now, outdated_day_index: int = 1,
                  promote_min_records: int = PROMOTE_MIN_RECORDS,
                  promote_min_fraction: float = PROMOTE_MIN_FRACTION):
    """Days of ``{day: rows}`` that stay real-time: in the window ending
    ``now`` (date or 'yyyy-MM-dd…') or a backfill; a ``None`` day never."""
    today = dt.date.fromisoformat(str(now)[:10])
    oldest = today - dt.timedelta(days=outdated_day_index)
    total = sum(day_counts.values())
    return sorted(d for d, n in day_counts.items() if d is not None and (
        oldest <= d <= today
        or (n > promote_min_records and n > promote_min_fraction * total)))


def split_late(df: DataFrame, time_col: str = "_time",
               outdated_day_index: int = 1, now=None,
               promote_min_records: int = PROMOTE_MIN_RECORDS,
               promote_min_fraction: float = PROMOTE_MIN_FRACTION,
               day_counts: dict | None = None) -> tuple[DataFrame, DataFrame]:
    """Return (realtime, historical); null event times go historical.
    ``now`` pins the reference's wall-clock (a date, datetime or string);
    without ``day_counts`` (``{day: rows}``) one collect takes them."""
    day = F.to_date(F.col(time_col))
    if day_counts is None:
        today = F.to_date(F.lit(now)) if now is not None else F.current_date()
        rows = df.groupBy(day, today).count().collect()
        day_counts = {r[0]: r[2] for r in rows}
        now = rows[0][1] if rows else dt.date.min   # empty: keeps no day
    days = realtime_days(day_counts, now, outdated_day_index,
                         promote_min_records, promote_min_fraction)
    keep = F.coalesce(day.isin(days), F.lit(False))
    return df.filter(keep), df.filter(~keep)
