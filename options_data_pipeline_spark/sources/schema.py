"""Sink-schema declaration & validation (reference S10,
``modules/sheets/schema_manager.py:59-135``).

Reference: create the 4 worksheets with headers if empty, then assert the
live header equals the expected one on every startup. Spark-first: typed
StructTypes are the single authority; ``validate_schema`` is the startup
audit (schema-on-write makes drift impossible for our own writes, but the
audit catches foreign writers / manual edits, which is what the reference
guards against).

Note the deliberate fix of the reference's latent 13-vs-12 column bug:
``market_data`` here carries an explicit ``gap_filled`` column
(SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .local import local_frame

MARKET_DATA_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("window_start", T.TimestampType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("segment", T.StringType(), True),
        T.StructField("open", T.DoubleType(), True),
        T.StructField("high", T.DoubleType(), True),
        T.StructField("low", T.DoubleType(), True),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("tick_count", T.LongType(), True),
        T.StructField("tr", T.DoubleType(), True),
        T.StructField("atr", T.DoubleType(), True),
        T.StructField("gap_filled", T.BooleanType(), True),
    ]
)

ATR_STATE_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("last_close", T.DoubleType(), True),
        T.StructField("last_atr", T.DoubleType(), True),
        T.StructField("last_window_start", T.TimestampType(), True),
        T.StructField("candle_count", T.LongType(), True),
    ]
)

SYSTEM_LOG_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("level", T.StringType(), False),
        T.StructField("event", T.StringType(), False),
        T.StructField("window", T.StringType(), True),
        T.StructField("details", T.StringType(), True),
    ]
)

SINK_SCHEMAS = {
    "market_data": MARKET_DATA_SCHEMA,
    "atr_state": ATR_STATE_SCHEMA,
    "system_log": SYSTEM_LOG_SCHEMA,
}


def initialize_if_empty(spark: SparkSession, path: str, table: str) -> bool:
    """Create an empty typed table if nothing exists yet (reference
    initialize_if_empty). Returns True when it created the table."""
    from ..streaming.sink import sink_has_data

    if sink_has_data(path):  # recursive: sees partitioned layouts too
        return False
    empty = local_frame(spark, [], SINK_SCHEMAS[table])
    empty.write.mode("overwrite").parquet(path)
    return True


def validate_schema(df: DataFrame, table: str) -> list[str]:
    """Startup audit: list of human-readable mismatches vs the declared
    schema (empty = valid). Column order is not significant (columnar
    store), name+type are."""
    expected = {f.name: f.dataType.simpleString() for f in SINK_SCHEMAS[table].fields}
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    problems = []
    for name, dtype in expected.items():
        if name not in actual:
            problems.append(f"missing column {name} {dtype}")
        elif actual[name] != dtype:
            problems.append(f"type mismatch {name}: expected {dtype}, got {actual[name]}")
    for name in actual:
        if name not in expected:
            problems.append(f"unexpected column {name}")
    return problems
