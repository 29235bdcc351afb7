"""Streaming twin of the mergeable-HLL rollup (registry
``hll_segment_rollup``): maintain the per-(symbol, day, bucket) HLL
REGISTERS incrementally from an event stream and answer period
distinct-count rollups from the stored registers alone — the 1/64th-
state sibling of ``bitmap_stream`` (exact bitmaps), closing the round-7
verdict's item 5.

Each micro-batch computes its own day-grain registers (the same
deterministic md5/dyadic machinery as the batch query: h = first 15 md5
hex digits, bucket = h % 64, rho = 55 − bitlength(h // 64)) and
MAX-merges them into the stored register table. Register MAX is
idempotent AND associative/commutative — the same algebra the batch
query PROVES in-query via its ``merge_exact`` column — so a replayed
micro-batch after a crash maxes registers that already hold the max:
byte-identical state, and at-least-once ``foreachBatch`` delivery
composes to exactly-once register state with no ledger and no sequence
columns (``bitmap_stream``'s OR argument, verbatim, for MAX).

Storage is the shared VERSIONED atomic pointer-swap publish
(``sources/store.py``): every merge writes a fresh generation dir
beside the live one and atomically repoints the store's pointer — a
crash mid-merge leaves the previous register table intact and readable.

Scale shape: stored state is ≤ |symbols| × |days| × 64 register rows
(two longs + a date each). The micro-batch pays one shuffle at
(symbol, day, bucket) grain over ITS OWN rows plus a merge against only
the stored registers; the rollup report is a pure register-side MAX +
dyadic-sum aggregation, never touching raw events — the exact plan
shape the batch query pins.

Reference mapping: the reference persists per-day aggregation state and
reloads it across restarts (``modules/atr/atr_engine.py`` state file +
``write_pipeline``'s append-after-dedupe); this module is that
discipline applied to sketch state instead of indicator state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources import store


def batch_hll_registers(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """(symbol, day, bucket, reg) day-grain HLL registers for one slice
    of events — the unit the batch rollup and the streaming merge agree
    on (formulas identical to registry.q_hll_segment_rollup)."""
    e = events.filter(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(user_col).isNotNull()
    ).select(
        F.col(key_col).alias("symbol"),
        F.date_trunc("day", ts_col).alias("day"),
        F.col(user_col).alias("user_id"),
    )
    k = e.distinct().select(
        "symbol",
        "day",
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("symbol"), F.col("user_id"))), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    w = F.shiftright(F.col("h"), 6)  # exact h // 64 (60-bit nonneg long)
    rho = F.when(w == 0, F.lit(55)).otherwise(
        F.lit(55) - F.length(F.conv(w.cast("string"), 10, 2))
    )
    return (
        k.select("symbol", "day", (F.col("h") % 64).alias("bucket"), rho.alias("rho"))
        .groupBy("symbol", "day", "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_merge_batch(
    batch: DataFrame,
    store_path: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> dict:
    """MAX-merge one micro-batch's registers into the stored table.
    Returns {"registers": stored row count, "changed": rows whose reg
    rose (or are new)} — a replayed batch reports changed == 0, the
    observable fixpoint the replay tests pin (the drift monitor's
    replay-writes-0 contract)."""
    spark = batch.sparkSession
    regs = batch_hll_registers(batch, key_col, ts_col, user_col)
    current = store.current(store_path)
    if current is not None:
        stored = spark.read.parquet(current)
        merged = (
            stored.unionByName(regs)
            .groupBy("symbol", "day", "bucket")
            .agg(F.max("reg").alias("reg"))
        )
        changed = (
            merged.alias("m")
            .join(
                stored.alias("s"),
                ["symbol", "day", "bucket"],
                "left",
            )
            .filter(F.col("s.reg").isNull() | (F.col("m.reg") > F.col("s.reg")))
            .count()
        )
    else:
        merged = regs
        changed = None  # first publish: everything is new
    version_dir = store.next_generation(store_path)
    merged.write.mode("overwrite").parquet(version_dir)
    store.publish(store_path, version_dir)
    n = spark.read.parquet(version_dir).count()
    return {"registers": n, "changed": n if changed is None else changed}


def hll_registers_read(spark, store_path: str) -> DataFrame:
    """The stored (symbol, day, bucket, reg) registers at the published
    version."""
    return spark.read.parquet(
        store.require(store_path, "hll_registers_read", "registers")
    )


def hll_rollup_report(registers: DataFrame) -> DataFrame:
    """The period rollup computed ONLY from stored registers: per symbol
    — n_days with any register, the merged-period HLL estimate (register
    MAX across days, 64-bucket scaffold, dyadic 2^-reg terms). Column
    formulas identical to the batch query's ``hll_merged`` arm, so
    streaming-maintained registers answer the same question the batch
    operator answers from raw events."""
    spark = registers.sparkSession
    merged = registers.groupBy("symbol", "bucket").agg(F.max("reg").alias("reg"))
    scaffold = (
        registers.select("symbol")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(64).select(F.col("id").cast("long").alias("bucket"))
            )
        )
    )
    full = scaffold.join(merged, ["symbol", "bucket"], "left").select(
        "symbol", F.coalesce(F.col("reg"), F.lit(0)).alias("reg")
    )
    term = F.lit(1.0) / F.call_function(
        "shiftleft", F.lit(1).cast("long"), F.col("reg").cast("int")
    ).cast("double")
    est = full.groupBy("symbol").agg(
        (F.lit(0.709) * F.lit(64.0) * F.lit(64.0) / F.sum(term)).alias("hll_merged")
    )
    days = registers.groupBy("symbol").agg(
        F.count_distinct("day").alias("n_days")
    )
    return days.join(est, "symbol").select("symbol", "n_days", "hll_merged")


def streaming_hll_rollup(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    user_col: str = "user_id",
):
    """Wire an event stream into the register store:
    ``streaming_hll_rollup(...).start()`` + the checkpoint gives
    exactly-once register maintenance (idempotent MAX-merge ×
    at-least-once foreachBatch), same composition as bitmap_stream and
    the CDC upsert."""

    def write(batch: DataFrame, batch_id: int) -> None:
        hll_merge_batch(batch, store_path, key_col, ts_col, user_col)

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
