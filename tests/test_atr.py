"""TR + Wilder ATR tests — mirrors the reference's test_atr_engine.py
intent (SURVEY.md §5): warmup NULL through 13, mean seed at exactly 14,
Wilder recursion at 15, first-candle TR fallback."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from options_data_pipeline_spark.operators.atr import with_wilder_atr, atr_summary
from recursion_refs import _wilder
from options_data_pipeline_spark.operators.truerange import with_true_range


def candle_rows(prices, symbol="A", start=datetime(2024, 1, 1, 9, 15)):
    rows = []
    for i, (o, h, l, c) in enumerate(prices):
        rows.append(
            (symbol, start + timedelta(minutes=5 * i), float(o), float(h), float(l), float(c), 1)
        )
    return rows


def candles_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "symbol string, window_start timestamp, open double, high double,"
        " low double, close double, tick_count long",
    )


def test_first_candle_tr_is_high_minus_low(spark):
    df = candles_df(spark, candle_rows([(10, 12, 9, 11)]))
    [r] = with_true_range(df).collect()
    assert r.tr == pytest.approx(3.0)
    assert r.prev_close is None


def test_tr_uses_prev_close(spark):
    # candle2: h=15,l=14, prev_close=11 → TR = max(1, |15-11|, |14-11|) = 4
    df = candles_df(spark, candle_rows([(10, 12, 9, 11), (14, 15, 14, 15)]))
    rows = sorted(with_true_range(df).collect(), key=lambda r: r.window_start)
    assert rows[1].tr == pytest.approx(4.0)


def test_wilder_reference_semantics():
    """Pure-python recursion check: warmup None ×13, seed=mean at 14,
    then ATR_15 = (seed*13 + tr_15)/14 (reference atr_engine.py:134-192)."""
    trs = [float(i + 1) for i in range(16)]  # 1..16
    out = _wilder(trs, 14)
    assert out[:13] == [None] * 13
    seed = sum(trs[:14]) / 14
    assert out[13] == pytest.approx(seed)
    assert out[14] == pytest.approx((seed * 13 + 15.0) / 14)
    assert out[15] == pytest.approx(((seed * 13 + 15.0) / 14 * 13 + 16.0) / 14)


def test_atr_warmup_and_seed_in_spark(spark):
    prices = [(10 + i, 11 + i, 9 + i, 10.5 + i) for i in range(15)]
    df = with_true_range(candles_df(spark, candle_rows(prices)))
    rows = sorted(with_wilder_atr(df).collect(), key=lambda r: r.window_start)
    assert [r.atr for r in rows[:13]] == [None] * 13
    assert rows[13].atr is not None and rows[14].atr is not None


def test_atr_multi_symbol_isolation(spark):
    rows = candle_rows([(10, 12, 9, 11)] * 14, "A") + candle_rows([(5, 6, 4, 5)] * 3, "B")
    df = with_true_range(candles_df(spark, rows))
    out = with_wilder_atr(df)
    a = [r.atr for r in sorted(out.filter("symbol='A'").collect(), key=lambda r: r.window_start)]
    b = [r.atr for r in sorted(out.filter("symbol='B'").collect(), key=lambda r: r.window_start)]
    assert a[13] is not None  # A reached warmup
    assert all(v is None for v in b)  # B did not


def test_atr_summary_last_values(spark):
    prices = [(10, 12, 9, 11), (11, 13, 10, 12)]
    df = with_true_range(candles_df(spark, candle_rows(prices)))
    [s] = atr_summary(with_wilder_atr(df)).collect()
    assert s.last_close == 12.0
    assert s.candle_count == 2
