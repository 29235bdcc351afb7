"""Gap-fill: flat-candle synthesis for silent symbols (reference W4).

Reference (``modules/aggregator/gap_fill.py:32-88``): for each expected
symbol with no ticks in a window, emit a candle with O=H=L=C = last known
close, ``tick_count=0``, ``gap_filled=true``; symbols that have never
traded are "unfillable" and skipped.

Spark-first: dense scaffold (symbols × window boundaries) left-joined to
the observed candles, then a forward-fill of ``close`` via
``last(ignorenulls=True)`` over rows UNBOUNDED PRECEDING → 1 PRECEDING.
The scaffold windows come from ``F.sequence`` over the observed min/max
window (the reference pre-computes the session boundary list,
``time_utils.py:26-89``).

Scale: the scaffold is |symbols| × |windows per day| (13,350/day in the
reference) — tiny next to the tick volume, and generated per
symbol-partition so the only shuffle is the same symbol partitioning the
downstream TR/ATR already needs. At 100 TB, scaffold per date-partition so
it never materializes globally (SURVEY.md §4 item 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gap_fill(
    candles: DataFrame,
    interval_seconds: int = 300,
    symbols: DataFrame | None = None,
    cache: bool = True,
    handles: list[DataFrame] | None = None,
) -> DataFrame:
    """candles(symbol, window_start, open..close, tick_count) → densified
    candles + ``gap_filled`` flag; unfillable (no prior close) rows dropped.

    ``symbols`` optionally supplies the expected-universe dimension
    (reference ``config/instruments.py``); defaults to symbols observed in
    ``candles``.

    Plan shape: window bounds come from ONE aggregate over ``candles``;
    the window range is then expanded in day-sized blocks across tasks
    (never one global sequence on one task) and cross-joined with the
    broadcast symbol universe (bounded by contract: 178 in the reference,
    thousands at most). ``candles`` is cached by default so the scaffold
    passes and the outer-join pass don't recompute the upstream OHLC
    aggregation from raw ticks (3 tick-table scans → 1 at 100 TB).
    """
    if cache:
        # The cache serves the scaffold pass + the join pass within THIS
        # plan. Long-lived callers must either pass cache=False (the
        # streaming densifier and the registry's lazy ``gap_fill`` query
        # do) or collect the handle via ``handles`` and unpersist after
        # the consuming action (``run_batch`` does) — a cache left behind
        # per invocation accumulates storage for the session's life.
        candles = candles.cache()
        if handles is not None:
            handles.append(candles)

    # Scaffold windows, built DISTRIBUTED: a single global
    # sequence(w_min, w_max) materializes the whole range on ONE task —
    # fine for a session, fatal for months × 100× symbols. Decompose the
    # window index range [0, K] into day-sized blocks, explode the (few)
    # block ids from the one-row bounds aggregate, repartition so each
    # block expands on its own task, then expand each block to its
    # windows. Output is exactly w_min + k·interval for k in [0, K] —
    # bit-identical to the single-sequence form (oracle-pinned).
    per_block = max(86400 // interval_seconds, 1)  # ≈ one day of windows
    bounds = candles.agg(
        F.min("window_start").alias("w_min"), F.max("window_start").alias("w_max")
    )
    k_max = F.floor(
        (F.unix_timestamp("w_max") - F.unix_timestamp("w_min"))
        / F.lit(interval_seconds)
    ).cast("int")
    windows_df = (
        bounds.select("w_min", k_max.alias("k_max"))
        .select(
            "w_min",
            "k_max",
            F.explode(
                F.sequence(F.lit(0), F.floor(F.col("k_max") / per_block).cast("int"))
            ).alias("blk"),
        )
        .repartition(F.col("blk"))
        .select(
            "w_min",
            F.explode(
                F.sequence(
                    F.col("blk") * per_block,
                    F.least(F.col("blk") * per_block + (per_block - 1), F.col("k_max")),
                )
            ).alias("k"),
        )
        .select(
            F.expr(f"w_min + k * INTERVAL {interval_seconds} SECONDS").alias(
                "window_start"
            )
        )
    )
    # symbol universe is bounded by contract (thousands at most) → the
    # broadcast side of the scaffold cross join
    dim = symbols if symbols is not None else candles.select("symbol").distinct()
    scaffold = windows_df.crossJoin(F.broadcast(dim))

    joined = scaffold.join(candles, ["symbol", "window_start"], "left")
    ffill = Window.partitionBy("symbol").orderBy("window_start").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev_close = F.last("close", ignorenulls=True).over(ffill)
    is_gap = F.col("tick_count").isNull()
    fill = lambda c: F.when(is_gap, prev_close).otherwise(F.col(c))  # noqa: E731
    return (
        joined.select(
            "symbol",
            "window_start",
            fill("open").alias("open"),
            fill("high").alias("high"),
            fill("low").alias("low"),
            fill("close").alias("close"),
            F.coalesce("tick_count", F.lit(0)).alias("tick_count"),
            is_gap.alias("gap_filled"),
        )
        .filter(F.col("close").isNotNull())  # unfillable: no prior close yet
    )
