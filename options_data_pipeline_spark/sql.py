"""SQL surface: register the engine's tables and derived views so users
query with plain ``spark.sql`` (the reference exposes no SQL; this is the
Spark-native query surface a reference user gains by switching).

``create_views`` registers:
 - the 10 base tables (region … embeddings)
 - ``ticks`` (parsed tick projection of events)
 - ``candles_5m`` / ``candles_1h`` (OHLC)
 - ``enriched_1h`` (TR + Wilder ATR)
 - ``indicators_1h`` (Donchian + SMA + Bollinger over the 1h candles)
 - ``doc_signals`` (per-document quality + language + PII signals)
 - ``macd_1h`` (MACD(12,26,9) panel over the 1h candles)

Catalyst treats temp views as inlined subplans — a filter on
``candles_5m`` still pushes down into the events parquet scan.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .sources.tables import TABLES, load_table, load_ticks
from .operators.ohlc import ohlc_candles
from .operators.truerange import with_true_range
from .operators.atr import with_wilder_atr


def create_views(spark: SparkSession, sf_dir: str) -> list[str]:
    names = []
    for t in TABLES:
        load_table(spark, t, sf_dir).createOrReplaceTempView(t)
        names.append(t)
    ticks = load_ticks(spark, sf_dir)
    ticks.createOrReplaceTempView("ticks")
    ohlc_candles(ticks, "300 seconds").createOrReplaceTempView("candles_5m")
    candles_1h = ohlc_candles(ticks, "3600 seconds")
    candles_1h.createOrReplaceTempView("candles_1h")
    with_wilder_atr(with_true_range(candles_1h)).createOrReplaceTempView("enriched_1h")
    from .operators.indicators import indicator_panel
    from .functions.text import quality_cols, lang_guess_col, pii_cols

    # one projection over one shared window frame — joining the three
    # single-indicator frames would recompute the candle agg per branch
    # and add two join shuffles for same-frame expressions
    indicator_panel(candles_1h, 20).createOrReplaceTempView("indicators_1h")
    docs = load_table(spark, "documents", sf_dir)
    sig_cols = {**quality_cols("text"), **pii_cols("text"), "lang": lang_guess_col("text")}
    docs.select(
        "doc_id", "source", *[c.alias(n) for n, c in sig_cols.items()]
    ).createOrReplaceTempView("doc_signals")
    # composed recursive indicator panel (per-symbol fold — see indicators.py)
    from .operators.indicators import macd

    macd(candles_1h).createOrReplaceTempView("macd_1h")
    names += ["ticks", "candles_5m", "candles_1h", "enriched_1h",
              "indicators_1h", "doc_signals", "macd_1h"]
    return names
