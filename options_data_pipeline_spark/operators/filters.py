"""Session-hours predicates (reference P3–P4).

Reference: market-hours inclusive-open/exclusive-close predicate
(``utils/time_utils.py:140-164``), out-of-session drop
(``time_utils.py:183-222``).

Pure Column expressions, so the predicate pushes down into the parquet
scan (check: ``PushedFilters`` in ``.explain("formatted")``). The
reference's exception-based control flow becomes one filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def market_hours_predicate(
    ts_col: str = "ts", open_hm: str = "09:15", close_hm: str = "15:30"
) -> Column:
    """P3: ``open <= t < close`` by time-of-day (inclusive open, exclusive
    close — ``time_utils.py:140-164``)."""
    tod = F.date_format(F.col(ts_col), "HH:mm:ss")
    return (tod >= f"{open_hm}:00") & (tod < f"{close_hm}:00")


def in_session(ticks: DataFrame, open_hm: str = "09:15", close_hm: str = "15:30", ts_col: str = "ts") -> DataFrame:
    """P3+P4: one predicate replaces the reference's raise-and-drop."""
    return ticks.filter(market_hours_predicate(ts_col, open_hm, close_hm))

