"""Streaming gap-fill: densify the candle stream per micro-batch
(reference W4 in its native streaming position — gap-fill runs at each
window finalization, ``main.py:298-307``).

Implementation: a ``foreachBatch`` densifier between the OHLC stage and
the ATR stage. For each micro-batch of finalized candles:

 1. seed each symbol with its last known close, read from the dense sink
    itself (partition-prunable lookback), as one flat candle at its last
    window;
 2. gap-fill seeds + batch candles as per-symbol spans
    (``operators/gapfill.py``), so silence spanning micro-batch boundaries
    still fills and the fill chains (a symbol silent for N windows gets N
    flat candles);
 3. drop the seed rows and append the rest (real + flat) to the dense
    sink.

Because the dense sink is also the seed source, the operator is
self-contained; exactly-once comes from the deterministic (symbol,
window) grain + idempotent anti-join append.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.gapfill import gap_fill
from ..operators.ids import with_row_id
from .sink import idempotent_append_batch, sink_has_data


def densify_batch(
    batch: DataFrame,
    dense_path: str,
    interval_seconds: int,
    universe: DataFrame | None,
    lookback_days: int = 7,
) -> int:
    """One micro-batch of candles → gap-filled rows appended to
    ``dense_path``. Returns rows written.

    The dense sink is date-partitioned and the seed lookback reads at most
    ``lookback_days`` partitions before the batch's first window — a
    symbol silent longer than the lookback restarts cold (same policy as
    the batch operator's "unfillable" drop). No per-symbol state ever
    lands on the driver: the seed frame stays a DataFrame end-to-end and
    joins back in broadcast."""
    from datetime import timedelta

    spark = batch.sparkSession
    if batch.isEmpty():
        return 0

    seeds = None
    if sink_has_data(dense_path):
        # last known close per symbol before this batch's first window —
        # fabricate one synthetic candle per symbol at its last window so
        # the in-batch forward fill seeds across the batch boundary
        lo = batch.agg(F.min("window_start")).collect()[0][0]
        prior = spark.read.parquet(dense_path).filter(
            F.col("date") >= F.lit(lo.date() - timedelta(days=lookback_days))
        )
        seeds = (
            prior.filter(F.col("window_start") < lo)
            .groupBy("symbol")
            .agg(
                F.max_by("close", "window_start").alias("close"),
                F.max("window_start").alias("window_start"),
            )
            .select(
                "symbol",
                "window_start",
                F.col("close").alias("open"),
                F.col("close").alias("high"),
                F.col("close").alias("low"),
                "close",
                F.lit(0).cast("long").alias("tick_count"),
            )
            .cache()  # tiny (one row per symbol); unpersisted below
        )

    candles = batch.select(
        "symbol", "window_start", "open", "high", "low", "close", "tick_count"
    )
    unioned = candles.unionByName(seeds) if seeds is not None else candles
    dense = gap_fill(unioned, interval_seconds, symbols=universe)
    if seeds is not None:
        # drop the synthetic seed rows (and anything at/before them —
        # those windows were already emitted by earlier batches)
        seed_w = seeds.select("symbol", F.col("window_start").alias("_seed_w"))
        dense = (
            dense.join(F.broadcast(seed_w), "symbol", "left")
            .filter(F.col("_seed_w").isNull() | (F.col("window_start") > F.col("_seed_w")))
            .drop("_seed_w")
        )
    dense = with_row_id(dense).withColumn("date", F.col("window_start").cast("date"))
    written = idempotent_append_batch(dense, dense_path, partition_by=("date",))
    if seeds is not None:
        seeds.unpersist()
    return written


def run_densify_stage(
    candle_stream: DataFrame,
    dense_path: str,
    checkpoint_path: str,
    interval_seconds: int = 300,
    universe: DataFrame | None = None,
    query_name: str = "densify",
):
    """candles stream → gap-filled dense candle sink. Returns the query."""

    def write(batch: DataFrame, batch_id: int) -> None:
        densify_batch(batch, dense_path, interval_seconds, universe)

    return (
        candle_stream.writeStream.queryName(query_name)
        .foreachBatch(write)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .start()
    )
