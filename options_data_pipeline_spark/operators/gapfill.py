"""Gap-fill: flat-candle synthesis for silent symbols (reference W4).

Reference (``modules/aggregator/gap_fill.py:32-88``): for each expected
symbol with no ticks in a window, emit a candle with O=H=L=C = last known
close, ``tick_count=0``, ``gap_filled=true``; symbols that have never
traded are "unfillable" and skipped.

Spark-first as per-symbol spans: each candle owns the silent windows
between it and the symbol's next candle (or the batch's last window,
``w_max``), so the filled rows come from the candles themselves. One
symbol-partitioned window computes each candle's span end (``lead``) and
the last non-NULL close up to it; each candle then explodes its span.
Windows before a symbol's first candle are never generated — exactly the
reference's unfillable rows.

Plan shape: one shuffle on ``symbol`` (the partitioning the downstream
TR window and ATR fold reuse) plus a scalar subquery for ``w_max`` (one
SinglePartition exchange). No cross join, no broadcast of the candles and
no cache. A span is at most one symbol's silence, so no single task
materializes the whole window range.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gap_fill(
    candles: DataFrame,
    interval_seconds: int = 300,
    symbols: DataFrame | None = None,
    cache: bool = True,
) -> DataFrame:
    """candles(symbol, window_start, open..close, tick_count) → densified
    candles + ``gap_filled`` flag; unfillable (no prior close) rows dropped.

    ``symbols`` optionally supplies the expected-universe dimension
    (reference ``config/instruments.py``): candles of other symbols are
    dropped, and a listed symbol with no candle has only unfillable rows.
    ``w_max`` is taken over all of ``candles``, before that filter.

    ``cache`` is accepted and ignored: existing callers still pass it."""
    step = F.expr(f"INTERVAL {interval_seconds} SECONDS")
    w_max = candles.select(F.max("window_start")).scalar()
    if symbols is not None:
        candles = candles.join(F.broadcast(symbols), "symbol", "left_semi")
    by_symbol = Window.partitionBy("symbol").orderBy("window_start")
    spans = candles.select(
        "*",
        (F.lead("window_start").over(by_symbol) - step).alias("_last"),
        F.last("close", ignorenulls=True)
        .over(by_symbol.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("_fill"),
    )
    # a duplicate or off-grid next candle would end the span before it
    # starts, and sequence() raises on that
    stop = F.greatest("window_start", F.coalesce("_last", w_max))
    rows = spans.select(
        "*", F.posexplode(F.sequence("window_start", stop, step)).alias("_k", "_w")
    )
    is_gap = F.col("_k") > 0
    fill = lambda c: F.when(is_gap, F.col("_fill")).otherwise(F.col(c))  # noqa: E731
    return rows.select(
        "symbol",
        F.col("_w").alias("window_start"),
        fill("open").alias("open"),
        fill("high").alias("high"),
        fill("low").alias("low"),
        fill("close").alias("close"),
        F.when(is_gap, F.lit(0)).otherwise(F.col("tick_count")).alias("tick_count"),
        is_gap.alias("gap_filled"),
    ).filter(F.col("close").isNotNull())  # unfillable: no prior close yet
