"""local_frame: driver-built rows as a LocalRelation with the values and
types ``spark.createDataFrame(<list>, schema)`` gives."""

from __future__ import annotations

from datetime import date, datetime, timedelta, timezone

from pyspark.sql import functions as F

from options_data_pipeline_spark.sources.local import local_frame

SCHEMA = (
    "s string, i long, n int, d double, b boolean, ts timestamp, dt date,"
    " vec array<double>, tags array<string>"
)
ROWS = [
    ("a", 1, 2, 1.5, True, datetime(2024, 1, 5, 9, 15), date(2024, 1, 5), [1.0, -0.0], ["x"]),
    (None, None, None, None, None, None, None, None, None),
    ("", -(2**62), -7, float("inf"), False, datetime(1999, 12, 31, 23, 59, 59, 999999),
     date(1970, 1, 1), [], []),
    ("é", 0, 0, -2.5e-300, None, datetime(2024, 3, 10, 2, 30, tzinfo=timezone.utc),
     None, [None, 3.25], [None, "y"]),
]


def _as_seen(df):
    """Every column as the session renders it, plus timestamps as raw
    microseconds, in row order."""
    cols = [F.col(c).cast("string").alias(c) for c in df.columns]
    return [tuple(r) for r in df.select(*cols, F.unix_micros("ts").alias("us")).collect()]


def _relation(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().nodeName()


def test_local_frame_matches_create_dataframe(spark):
    got, ref = local_frame(spark, ROWS, SCHEMA), spark.createDataFrame(ROWS, SCHEMA)
    assert _relation(got) == "LocalRelation"
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()
    assert _as_seen(got) == _as_seen(ref)


def test_local_frame_empty_list_keeps_schema(spark):
    got = local_frame(spark, [], SCHEMA)
    assert got.schema == spark.createDataFrame([], SCHEMA).schema
    assert got.count() == 0 and _relation(got) == "LocalRelation"


def test_local_frame_timestamps_under_non_utc_session(spark):
    """Naive datetimes mean what createDataFrame makes of them, whatever
    the session time zone."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        base = datetime(2024, 1, 5, 9, 15)
        rows = [(k, base + timedelta(minutes=37 * k)) for k in range(4)]
        rows.append((9, datetime(2024, 1, 5, 3, 45, tzinfo=timezone.utc)))
        schema = "k int, ts timestamp"
        got, ref = local_frame(spark, rows, schema), spark.createDataFrame(rows, schema)
        assert _as_seen(got) == _as_seen(ref)
        assert got.collect() == ref.collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
