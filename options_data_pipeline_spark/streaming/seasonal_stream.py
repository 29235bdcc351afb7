"""Streaming twin of ``seasonal_hour_anomaly``: maintain the
(event_type, day, hour) cell counts INCREMENTALLY from an event stream
and score anomalies from the stored cells alone — the monitoring loop
runs per micro-batch without ever re-scanning raw history.

Counts (unlike the bitmap family's OR) are NOT idempotent — a replayed
micro-batch would double-count — so exactly-once composes differently:
each micro-batch reduces to its OWN cell partials tagged with the
foreachBatch ``batch_id`` and appends them through the WAL sink's
idempotent append (anti-join on the (batch, cell) id — a replay after a
crash finds its rows already present and writes nothing). The stored
table is cell PARTIALS at (cell × batch) grain; because the cell count
is an associative sum, the report aggregates partials to true cells in
one pass. A periodic compaction (same argument) can re-aggregate old
partials down to one row per cell; the day-grain row count makes both
shapes report-sized.

Scoring reuses the batch operator verbatim
(operators/seasonal.py::loo_scores) — batch/stream parity is
structural, asserted by the parity test in test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.seasonal import hour_cells, loo_scores
from ..sources.local import local_frame
from .sink import idempotent_append_batch


def seasonal_merge_batch(
    batch: DataFrame, store_path: str, batch_id: int
) -> int:
    """Reduce one micro-batch to hour-cell partials and idempotently
    append them (keyed by batch_id × cell). Returns rows written — 0 on
    a replay."""
    part = hour_cells(batch).select(
        F.concat_ws(
            "|",
            F.lit(str(batch_id)),
            F.col("event_type"),
            F.col("day_start").cast("string"),
            F.col("hour_of_day").cast("string"),
        ).alias("id"),
        F.lit(batch_id).alias("batch_id"),
        "event_type",
        "day_start",
        "hour_of_day",
        "n_events",
    )
    return idempotent_append_batch(
        part, store_path, id_col="id", prune_col="day_start"
    )


def seasonal_cells_read(spark, store_path: str) -> DataFrame:
    """True cells from the stored partials (associative re-aggregation).
    An empty (never-written) store reads as zero cells, not a raw
    PATH_NOT_FOUND — the report is callable before the first batch."""
    from .sink import sink_has_data

    if not sink_has_data(store_path):
        return local_frame(
            spark,
            [],
            "event_type string, day_start timestamp,"
            " hour_of_day int, n_events long",
        )
    return (
        spark.read.parquet(store_path)
        .groupBy("event_type", "day_start", "hour_of_day")
        .agg(F.sum("n_events").alias("n_events"))
    )


def seasonal_report(spark, store_path: str) -> DataFrame:
    """The ``seasonal_hour_anomaly`` report from stored state only —
    identical column contract to the batch registry query."""
    return loo_scores(seasonal_cells_read(spark, store_path))


def streaming_seasonal_anomaly(
    stream: DataFrame, store_path: str, checkpoint_dir: str
):
    """Wire an event stream into the cell store:
    ``streaming_seasonal_anomaly(...).start()`` + the checkpoint gives
    exactly-once cell maintenance (idempotent batch-tagged append ×
    at-least-once foreachBatch)."""

    def write(batch: DataFrame, batch_id: int) -> None:
        seasonal_merge_batch(batch, store_path, batch_id)

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
