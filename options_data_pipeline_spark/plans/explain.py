"""Physical-plan inspection helpers.

The 100 TB posture is enforced by tests, not hope: every operator's plan
is asserted for the properties that matter at scale — filters pushed into
the parquet scan, dimension joins broadcast (never sort-merge), exactly
as many shuffles as the query's grain requires, window top-k pushed into
the sort (WindowGroupLimit), whole-stage codegen coverage.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def _explain(df: DataFrame, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def physical_plan(df: DataFrame) -> str:
    return _explain(df, "formatted")


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges).

    Formatted explain lists each node as an ``(N) Exchange`` detail header
    (arguments on a separate line); BroadcastExchange headers spell the
    full name so the exact match excludes them.
    """
    plan = physical_plan(df)
    return len(re.findall(r"^\(\d+\) Exchange\s*$", plan, re.MULTILINE))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in physical_plan(df)


def pushed_filters(df: DataFrame) -> str:
    """Concatenated PushedFilters sections of all scans in the plan."""
    plan = physical_plan(df)
    return " | ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))


def read_schemas(df: DataFrame) -> list[str]:
    plan = physical_plan(df)
    return re.findall(r"ReadSchema: struct<([^>]*)>", plan)


def has_window_group_limit(df: DataFrame) -> bool:
    return "WindowGroupLimit" in physical_plan(df)
