"""Wilder ATR (reference operator W6) — the one genuinely stateful/recursive
operator, plus the per-ticker state summary (A3).

Reference semantics (``modules/atr/atr_engine.py:134-192``, spec
``Documentation/04_ULTRA_ATR_SPEC.md:12-29``):
 - warmup: first ``period-1`` candles → ATR NULL
 - at exactly ``period`` candles: ATR = arithmetic mean of the first
   ``period`` TRs
 - steady state: ``ATR = (prev_atr * (period-1) + TR) / period``
 - negative ATR clamped to 0

The recursion is NOT expressible as a built-in Spark window aggregate
(recursive EWMA with a mean-seeded init), so it runs as a per-symbol
fold in Spark SQL (operators/fold.py): one shuffle on symbol — shared
with the TR window partitioning — and no Python worker. Per-key series
are tiny relative to key cardinality (75 candles/day/ticker in the
reference), so at 100 TB the fold parallelizes across symbols×days.
The live stage (streaming/fold_state.py) runs the same state and step,
seeded per symbol from the state the previous micro-batch published.

Deviation from the reference (documented, deliberate): the reference
rounds ATR to 4 dp at every recursive step with Python banker's rounding
(``atr_engine.py:161,176``); we keep the recursion unrounded and round
only at the display edge — SURVEY.md §5 / FIXTURES.md §C rationale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fold import fold_per_key, wilder

ATR_PERIOD = 14  # reference config/settings.py:44

#: the clamp of the Wilder value ``s.prev``, as Python's ``max(atr, 0.0)``
ATR_CLAMP = "IF(0D > s.prev, 0D, s.prev)"


def wilder_state(i: str = "0", acc: str = "0D", prev: str = "NULL") -> list[tuple[str, str, str]]:
    """The Wilder fold state with its initial values: ``i`` rows seen,
    ``acc`` the sum of their TRs, ``prev`` the last Wilder value."""
    return [("i", "INT", i), ("acc", "DOUBLE", acc), ("prev", "DOUBLE", prev)]


def wilder_step(period: int, tr: str) -> dict[str, str]:
    """One row's Wilder update of :func:`wilder_state` for the TR ``tr``."""
    return {
        "i": "s.i + 1",
        "acc": f"s.acc + {tr}",
        "prev": wilder(period, "s.i + 1", "s.acc", "s.prev", tr),
    }


def with_wilder_atr(
    candles_with_tr: DataFrame,
    period: int = ATR_PERIOD,
    symbol_col: str = "symbol",
    order_col: str = "window_start",
) -> DataFrame:
    """candles(symbol, window_start, ..., tr) → + atr column (nullable).

    Per symbol in window order: NULL for the first ``period - 1`` rows,
    the mean of the first ``period`` TRs, then ``(prev·(period−1) + tr) /
    period``, clamped at 0 as Python's ``max(atr, 0.0)``."""
    return fold_per_key(
        candles_with_tr,
        state=wilder_state(),
        steps=[wilder_step(period, "x.tr")],
        emit={"atr": ATR_CLAMP},
        keep=candles_with_tr.columns,
        key=symbol_col,
        order=order_col,
    )


def atr_summary(enriched: DataFrame, symbol_col: str = "symbol", order_col: str = "window_start") -> DataFrame:
    """Per-ticker state snapshot (reference A3, ``atr_engine.py:244-257``):
    last close, last ATR, candle count — the ``atr_state`` overwrite sink's
    payload (``write_pipeline.py:328-362``)."""
    order = F.col(order_col)
    return (
        enriched.groupBy(F.col(symbol_col).alias("symbol"))
        .agg(
            F.max_by("close", order).alias("last_close"),
            F.max_by("atr", order).alias("last_atr"),
            F.max(order).alias("last_window_start"),
            F.count(F.lit(1)).alias("candle_count"),
        )
    )
