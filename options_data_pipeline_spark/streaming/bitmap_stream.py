"""Streaming twin of the exact-bitmap distinct family
(registry ``bitmap_distinct_rollup`` / ``dau_wau_mau``): maintain the
per-(key, day, bucket) user bitmaps INCREMENTALLY from an event stream
and answer period rollups from the stored segments alone — zero raw
re-reads, the promise the batch operator's docstring makes for the
100 TB daily pipeline, kept live per micro-batch.

Each micro-batch builds its own 4096-bit bitmap segments
(``bitmap_construct_agg`` over ``bitmap_bit_position(user_id)``) and
OR-merges them into the stored segment table. Because bitmap OR is
idempotent AND associative/commutative, the merge needs no sequence
numbers, no tombstones, and no applied-batch ledger: a replayed
micro-batch after a crash ORs bits that are already set — byte-identical
segments — so at-least-once ``foreachBatch`` delivery composes to
exactly-once segment state for free (a strictly stronger idempotence
than the CDC upsert's latest-wins merge, which needs the sequence
columns to arbitrate).

Storage is the shared VERSIONED atomic pointer-swap publish
(``sources/store.py``): every merge writes a fresh generation dir
beside the live one and atomically repoints the store's pointer — a
crash mid-merge leaves the previous segment table intact and readable.

Scale shape: stored state is ≤ |keys| × |days| × ceil(max_user/4096)
rows of fixed-width binary — segment grain, not event grain. The
micro-batch pays one shuffle at (key, day, bucket) grain over ITS OWN
rows plus a merge join against only the stored segments; the rollup
report is a pure segment-side aggregation (OR across days, popcount),
never touching raw events — the same plan shape the batch operator pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources import store


def batch_bitmap_segments(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """(et, day, bucket, bm) bitmap segments for one slice of events —
    the unit both the batch rollup and the streaming merge agree on."""
    return (
        events.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(user_col).isNotNull()
        )
        .select(
            F.col(key_col).alias("et"),
            F.to_date(ts_col).alias("day"),
            F.col(user_col).alias("uid"),
        )
        .groupBy("et", "day", F.expr("bitmap_bucket_number(uid)").alias("bucket"))
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(uid))").alias("bm"))
    )


def bitmap_merge_batch(
    batch: DataFrame,
    store_path: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> int:
    """OR-merge one micro-batch's bitmap segments into the stored
    segment table; returns the stored segment count after the merge.
    Idempotent (replay-safe) because OR is idempotent — see module
    docstring."""
    spark = batch.sparkSession
    seg = batch_bitmap_segments(batch, key_col, ts_col, user_col)
    current = store.current(store_path)
    if current is not None:
        stored = spark.read.parquet(current)
        seg = (
            stored.unionByName(seg)
            .groupBy("et", "day", "bucket")
            .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        )
    version_dir = store.next_generation(store_path)
    seg.write.mode("overwrite").parquet(version_dir)
    store.publish(store_path, version_dir)
    return spark.read.parquet(version_dir).count()


def bitmap_segments_read(spark, store_path: str) -> DataFrame:
    """The stored (et, day, bucket, bm) segments at the published
    version."""
    return spark.read.parquet(
        store.require(store_path, "bitmap_segments_read", "segments")
    )


def bitmap_rollup_report(segments: DataFrame) -> DataFrame:
    """The ``bitmap_distinct_rollup`` report computed ONLY from stored
    segments: per key — n_days, Σ daily distinct users, period-total
    distinct users (OR across days per bucket, then popcount), and the
    revisit factor. Identical column contract to the batch registry
    query, so streaming-maintained segments answer the same question."""
    daily = segments.groupBy("et", "day").agg(
        F.expr("sum(bitmap_count(bm))").alias("users_day")
    )
    agg = daily.groupBy("et").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("users_day").alias("sum_daily_users"),
    )
    tot = (
        segments.groupBy("et", "bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .groupBy("et")
        .agg(F.expr("sum(bitmap_count(bm))").alias("total_users"))
    )
    return agg.join(tot, "et").select(
        "et",
        "n_days",
        "sum_daily_users",
        "total_users",
        (
            F.col("sum_daily_users").cast("double")
            / F.col("total_users").cast("double")
        ).alias("revisit_factor"),
    )


def streaming_bitmap_rollup(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    user_col: str = "user_id",
):
    """Wire an event stream into the segment store:
    ``streaming_bitmap_rollup(...).start()`` + the checkpoint gives
    exactly-once segment maintenance (idempotent OR-merge ×
    at-least-once foreachBatch), same composition as the CDC upsert."""

    def write(batch: DataFrame, batch_id: int) -> None:
        bitmap_merge_batch(batch, store_path, key_col, ts_col, user_col)

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
