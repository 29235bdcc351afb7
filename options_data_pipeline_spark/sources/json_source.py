"""Trading-calendar JSON → broadcastable calendar dimension (reference
S8/J7, ``config/trading_calendar.py:40-95`` +
``data/calendars/holidays_2026.json``).

The reference keeps holidays as a Python set and special sessions as a
dict; Spark-first this is a tiny (date, is_holiday, holiday_name,
session_open, session_close) DataFrame, always broadcast. Default session
hours 09:15–15:30; special sessions (e.g. Muhurat) override.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from .local import local_frame

DEFAULT_OPEN = "09:15"
DEFAULT_CLOSE = "15:30"

CALENDAR_SCHEMA = (
    "date date, is_holiday boolean, holiday_name string,"
    " session_open string, session_close string"
)


def load_calendar(spark: SparkSession, path: str) -> DataFrame:
    """Parse the reference-shaped calendar JSON:
    {"holidays": [{"date": "...", "name": "..."}, ...] | ["...", ...],
     "special_sessions": {"date": {"name", "open", "close"}}}"""
    with open(path) as f:
        doc = json.load(f)
    rows = []
    for h in doc.get("holidays", []):
        if isinstance(h, str):
            date, name = h, ""
        else:
            date, name = h["date"], h.get("name", "")
        rows.append((date, True, name, None, None))
    for date, sess in doc.get("special_sessions", {}).items():
        rows.append(
            (date, False, sess.get("name", ""), sess.get("open"), sess.get("close"))
        )
    df = local_frame(
        spark,
        rows,
        "date string, is_holiday boolean, holiday_name string,"
        " session_open string, session_close string",
    )
    from pyspark.sql import functions as F

    return df.select(
        F.to_date("date").alias("date"),
        "is_holiday",
        "holiday_name",
        F.coalesce("session_open", F.lit(DEFAULT_OPEN)).alias("session_open"),
        F.coalesce("session_close", F.lit(DEFAULT_CLOSE)).alias("session_close"),
    )
