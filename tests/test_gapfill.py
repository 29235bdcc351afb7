"""Gap-fill tests — mirrors the reference tests/test_gap_fill.py:
flat candle at prev close with tick_count=0 + gap_filled flag; cold-start
(never-traded) slots unfillable; all-present no-op."""

from __future__ import annotations

from datetime import datetime

import pytest

from options_data_pipeline_spark.operators.gapfill import gap_fill
from recursion_refs import _gap_fill_rows

W0 = datetime(2024, 1, 1, 9, 15)
W1 = datetime(2024, 1, 1, 9, 20)
W2 = datetime(2024, 1, 1, 9, 25)
W3 = datetime(2024, 1, 1, 9, 30)
W4 = datetime(2024, 1, 1, 9, 35)


def candles_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "symbol string, window_start timestamp, open double, high double,"
        " low double, close double, tick_count long",
    )


def test_gap_filled_flat_candle(spark):
    df = candles_df(
        spark,
        [("A", W0, 10.0, 12.0, 9.0, 11.0, 5), ("A", W2, 12.0, 13.0, 11.0, 12.5, 3)],
    )
    out = {r.window_start: r for r in gap_fill(df, 300).collect()}
    g = out[W1]
    assert (g.open, g.high, g.low, g.close) == (11.0, 11.0, 11.0, 11.0)
    assert g.tick_count == 0 and g.gap_filled
    assert not out[W0].gap_filled and not out[W2].gap_filled


def test_cold_start_unfillable_dropped(spark):
    """Symbol B has no candle before its gap → unfillable, not emitted
    (reference gap_fill.py 'never-traded' branch)."""
    df = candles_df(
        spark,
        [("A", W0, 10.0, 12.0, 9.0, 11.0, 5), ("B", W1, 5.0, 6.0, 4.0, 5.5, 2)],
    )
    out = gap_fill(df, 300).collect()
    b_rows = {r.window_start: r for r in out if r.symbol == "B"}
    assert W0 not in b_rows  # cold start — no prior close to fill from
    assert W1 in b_rows
    a_rows = {r.window_start: r for r in out if r.symbol == "A"}
    assert a_rows[W1].gap_filled and a_rows[W1].close == 11.0


def test_all_present_noop(spark):
    df = candles_df(
        spark,
        [("A", W0, 1.0, 2.0, 0.5, 1.5, 1), ("A", W1, 1.5, 2.5, 1.0, 2.0, 2)],
    )
    out = gap_fill(df, 300).collect()
    assert len(out) == 2 and not any(r.gap_filled for r in out)


def test_expected_universe_scaffold(spark):
    """An explicit symbols dim forces gap rows for symbols absent from the
    whole batch (reference expected-universe semantics)."""
    df = candles_df(spark, [("A", W0, 1.0, 2.0, 0.5, 1.5, 1)])
    symbols = spark.createDataFrame([("A",), ("B",)], "symbol string")
    out = gap_fill(df, 300, symbols=symbols).collect()
    # B has no prior close ever → all its slots unfillable → only A rows
    assert {r.symbol for r in out} == {"A"}


def test_registry_gap_fill_leaves_no_cache(spark, monkeypatch):
    """The registry's lazy ``gap_fill`` query has no caller to unpersist
    a cache, so running it must leave none behind."""
    from options_data_pipeline_spark import registry

    ticks = spark.createDataFrame(
        [("A", 10.0, W0, 1), ("A", 11.0, datetime(2024, 1, 1, 11, 15), 2)],
        "symbol string, price double, ts timestamp, event_id long",
    )
    monkeypatch.setattr(registry, "load_ticks", lambda spark, sf_dir: ticks)
    spark.catalog.clearCache()
    out = registry.queries()["gap_fill"](spark, "unused")
    out.write.format("noop").mode("overwrite").save()
    assert [r.tick_count for r in out.orderBy("window_start").collect()] == [1, 0, 1]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _c(sym, w, close, ticks=1):
    """One candle around ``close``; a NULL close makes O/H/L NULL too."""
    if close is None:
        return (sym, w, None, None, None, None, ticks)
    return (sym, w, close - 1.0, close + 1.0, close - 2.0, close, ticks)


# (candles, symbols universe or None); B's later last window makes the
# batch's w_max lie past A's last candle, so A's trailing fill must reach it
REFERENCE_CASES = {
    "leading_middle_trailing_silence": (
        [_c("A", W1, 10.0), _c("A", W3, 12.0), _c("B", W0, 5.0), _c("B", W4, 6.0)],
        None,
    ),
    "symbol_silent_all_batch": (
        [_c("A", W0, 10.0), _c("A", W2, 11.0)],
        ["A", "B"],
    ),
    "null_close_candle": (
        [_c("A", W0, 10.0), _c("A", W1, None, 3), _c("A", W3, 12.0), _c("B", W4, 1.0)],
        None,
    ),
    "universe_adds_and_omits": (
        [_c("A", W0, 10.0), _c("B", W1, 5.0), _c("B", W4, 6.0)],
        ["A", "C"],
    ),
    "single_candle": ([_c("A", W2, 10.0)], None),
    "empty": ([], None),
}


@pytest.mark.parametrize("case", sorted(REFERENCE_CASES))
def test_gap_fill_matches_reference_loop(spark, case):
    """The span form equals the dense scaffold's semantics, spelled out
    as a plain loop (tests/recursion_refs.py::_gap_fill_rows)."""
    rows, universe = REFERENCE_CASES[case]
    symbols = None
    if universe is not None:
        symbols = spark.createDataFrame([(s,) for s in universe], "symbol string")
    out = gap_fill(candles_df(spark, rows), 300, symbols=symbols)
    got = sorted(tuple(r) for r in out.collect())
    assert got == _gap_fill_rows(rows, 300, universe)


def test_gap_fill_output_schema(spark):
    out = gap_fill(candles_df(spark, [_c("A", W0, 10.0)]), 300)
    assert out.dtypes == [
        ("symbol", "string"),
        ("window_start", "timestamp"),
        ("open", "double"),
        ("high", "double"),
        ("low", "double"),
        ("close", "double"),
        ("tick_count", "bigint"),
        ("gap_filled", "boolean"),
    ]
