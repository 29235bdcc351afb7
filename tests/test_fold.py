"""The per-symbol Spark SQL folds (operators/fold.py) against the
pure-Python reference loops (tests/recursion_refs.py), compared with
``==``: every fold step must run the loop's IEEE double operations in
the same order. A NULL may come out where the reference gives NaN (a
NULL input); the oracle hash treats both as NULL."""

from __future__ import annotations

import math
import random
from datetime import datetime, timedelta

from hypothesis import given, settings, strategies as st

from options_data_pipeline_spark.operators import fold
from options_data_pipeline_spark.operators.atr import with_wilder_atr
from options_data_pipeline_spark.operators.indicators import (
    adx, ema, heikin_ashi, holt_linear, keltner_channels, macd, rsi,
)
from recursion_refs import (
    _adx_series, _ema_series, _heikin_ashi_series, _holt_series,
    _keltner_series, _macd_series, _rsi_series, _wilder,
)

BASE = datetime(2024, 1, 1, 9, 15)
SCHEMA = (
    "symbol string, window_start timestamp, open double, high double,"
    " low double, close double, tr double"
)


def _frame(spark, series: dict[str, list[tuple]]):
    """One row per (symbol, i), shuffled so the fold has to sort."""
    rows = [
        (sym, BASE + timedelta(minutes=5 * i), *vals)
        for sym, rs in series.items()
        for i, vals in enumerate(rs)
    ]
    random.Random(7).shuffle(rows)
    return spark.createDataFrame(rows, SCHEMA)


def _by_symbol(df, cols):
    out: dict[str, dict[str, list]] = {}
    for r in df.orderBy("symbol", "window_start").collect():
        d = out.setdefault(r.symbol, {c: [] for c in cols})
        for c in cols:
            d[c].append(r[c])
    return out


def _same(got: list, ref: list) -> bool:
    if len(got) != len(ref):
        return False
    for g, r in zip(got, ref):
        if r is None or (isinstance(r, float) and math.isnan(r)):
            if g is not None and not (isinstance(g, float) and math.isnan(g)):
                return False
        elif g != r:
            return False
    return True


def _sub(a, b):
    return None if a is None or b is None else a - b


def _check_all(spark, series: dict[str, list[tuple]]) -> None:
    df = _frame(spark, series)
    col = {k: i for i, k in enumerate(["open", "high", "low", "close", "tr"])}

    def vals(sym, name):
        return [v[col[name]] for v in series[sym]]

    def nan(xs):
        return [float("nan") if v is None else v for v in xs]

    atr = _by_symbol(with_wilder_atr(df), ["atr"])
    for sym in series:
        assert _same(atr[sym]["atr"], _wilder(nan(vals(sym, "tr")), 14)), sym
    for n in (3, 12):
        got = _by_symbol(ema(df, n), [f"ema_{n}"])
        for sym in series:
            assert _same(got[sym][f"ema_{n}"], _ema_series(vals(sym, "close"), n)), (sym, n)
    for n in (2, 14):
        got = _by_symbol(rsi(df, n), [f"rsi_{n}"])
        for sym in series:
            assert _same(got[sym][f"rsi_{n}"], _rsi_series(vals(sym, "close"), n)), (sym, n)
    for args in ((3, 5, 2), (12, 26, 9)):
        got = _by_symbol(macd(df, *args), ["macd", "macd_signal", "macd_hist"])
        for sym in series:
            m, s = _macd_series(vals(sym, "close"), *args)
            assert _same(got[sym]["macd"], m), sym
            assert _same(got[sym]["macd_signal"], s), sym
            assert _same(got[sym]["macd_hist"], [_sub(a, b) for a, b in zip(m, s)]), sym
    got = _by_symbol(holt_linear(df), ["level", "trend", "forecast_3"])
    for sym in series:
        lv, tr = _holt_series(vals(sym, "close"))
        assert _same(got[sym]["level"], lv), sym
        assert _same(got[sym]["trend"], tr), sym
        fc = [None if b is None else a + 3.0 * b for a, b in zip(lv, tr)]
        assert _same(got[sym]["forecast_3"], fc), sym
    for n_ema, n_atr in ((4, 3), (20, 10)):
        got = _by_symbol(keltner_channels(df, n_ema, n_atr), ["kc_mid", "kc_upper", "kc_lower"])
        for sym in series:
            e, a = _keltner_series(vals(sym, "high"), vals(sym, "low"), vals(sym, "close"), n_ema, n_atr)
            assert _same(got[sym]["kc_mid"], e), sym
            up = [None if m is None or v is None else m + 2.0 * v for m, v in zip(e, a)]
            lo = [None if m is None or v is None else m - 2.0 * v for m, v in zip(e, a)]
            assert _same(got[sym]["kc_upper"], up), sym
            assert _same(got[sym]["kc_lower"], lo), sym
    got = _by_symbol(heikin_ashi(df), ["ha_open", "ha_high", "ha_low", "ha_close"])
    for sym in series:
        o, h, l, c = (vals(sym, k) for k in ("open", "high", "low", "close"))
        ho, hc = _heikin_ashi_series(o, h, l, c)
        assert _same(got[sym]["ha_open"], ho), sym
        assert _same(got[sym]["ha_close"], hc), sym
        assert _same(got[sym]["ha_high"], [max(x) for x in zip(h, ho, hc)]), sym
        assert _same(got[sym]["ha_low"], [min(x) for x in zip(l, ho, hc)]), sym
    for n in (3, 14):
        got = _by_symbol(adx(df, n), ["di_plus", "di_minus", "dx", "adx"])
        for sym in series:
            ref = _adx_series(vals(sym, "high"), vals(sym, "low"), vals(sym, "close"), n)
            for name, r in zip(("di_plus", "di_minus", "dx", "adx"), ref):
                assert _same(got[sym][name], r), (sym, n, name)


def _series(n: int, seed: int, null_tr_at: int | None = None) -> list[tuple]:
    rnd = random.Random(seed)
    out = []
    for i in range(n):
        o, c = rnd.uniform(50, 150), rnd.uniform(50, 150)
        h, l = max(o, c) + rnd.uniform(0, 5), min(o, c) - rnd.uniform(0, 5)
        out.append((o, h, l, c, None if i == null_tr_at else rnd.uniform(0, 10)))
    return out


def test_folds_match_references_at_block_edges(spark):
    """Series shorter than every period, a single row, the 64-row block
    edges (63, 64, 65, 129) and a NULL TR mid-warmup and mid-series."""
    lengths = [1, 2, 13, 14, 15, fold.BLOCK - 1, fold.BLOCK, fold.BLOCK + 1, 2 * fold.BLOCK + 1]
    series = {f"L{n}": _series(n, n) for n in lengths}
    series["null_warmup"] = _series(40, 1, null_tr_at=5)
    series["null_late"] = _series(2 * fold.BLOCK + 1, 2, null_tr_at=100)
    _check_all(spark, series)


price = st.floats(min_value=0.01, max_value=1e4, allow_nan=False, allow_infinity=False)
row = st.tuples(price, price, price, price, st.one_of(st.none(), price))


@settings(max_examples=15, deadline=None)
@given(st.lists(st.lists(row, min_size=1, max_size=140), min_size=1, max_size=4))
def test_folds_match_references_property(spark, groups):
    _check_all(spark, {f"s{i}": g for i, g in enumerate(groups)})
