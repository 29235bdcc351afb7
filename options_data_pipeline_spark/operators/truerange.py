"""True Range (reference operator W5).

Reference: ``TR = max(high-low, |high-prev_close|, |low-prev_close|)``,
first candle per ticker falls back to ``high-low``
(``modules/atr/atr_engine.py:109-132``, spec
``Documentation/04_ULTRA_ATR_SPEC.md:4-10``).

Spark-first: ``lag(close)`` analytic window + ``greatest`` — pure Column
expressions, whole-stage codegen, one shuffle on symbol (reused by the
downstream ATR fold, so the partitioning amortizes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_true_range(
    candles: DataFrame,
    symbol_col: str = "symbol",
    order_col: str = "window_start",
) -> DataFrame:
    w = Window.partitionBy(symbol_col).orderBy(order_col)
    prev_close = F.lag("close").over(w)
    hl = F.col("high") - F.col("low")
    tr = F.when(prev_close.isNull(), hl).otherwise(
        F.greatest(
            hl,
            F.abs(F.col("high") - prev_close),
            F.abs(F.col("low") - prev_close),
        )
    )
    return candles.withColumn("prev_close", prev_close).withColumn("tr", tr)
