"""Streaming twin of the content-defined-chunking dedup (registry
``content_chunk_dedup``): maintain the corpus's chunk-fingerprint store
incrementally from a document stream and answer "how many NEW bytes did
this batch actually add?" from the store alone — the incremental-backup
/ rsync-target question, asked per micro-batch.

This completes the idempotent-merge family of pointer-published stores:
``bitmap_stream`` (OR), ``hll_stream`` (register MAX), ``cdc_stream``
(latest-wins keyed by sequence), and now chunk SET-UNION — insert a
fingerprint if absent, keep the first-seen copy count semantics at
store grain (the store holds DISTINCT fingerprints + their length; the
corpus-wide copy COUNT stays a batch-query concern, because count
merges are NOT replay-idempotent and would need a ledger — documented
boundary, same honesty rule as append_pq_index's replay note).

Set union is idempotent/associative/commutative, so at-least-once
``foreachBatch`` composes to exactly-once store state with no ledger:
a replayed batch unions fingerprints that are already present —
byte-identical store, and the merge result reports ``new_chunks = 0``
(the replay-writes-0 contract).

Storage: the shared versioned-dir + atomic pointer scheme
(``sources/store.py``). Scale shape: the store is one row per
DISTINCT chunk (fp, chunk_len) — bytes-of-unique-content grain; each
micro-batch pays its own chunking (codegen'd explode, see
functions/text.py::content_chunks) + one fp-grain distinct + an
anti-join against only the stored fingerprints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources import store


def batch_chunk_fps(
    docs: DataFrame, text_col: str = "text", k: int = 8, divisor: int = 64
) -> DataFrame:
    """(fp, chunk_len) DISTINCT chunk fingerprints for one slice of
    documents — the unit the batch report and the streaming merge agree
    on (chunking identical to functions/text.py::content_chunks)."""
    from ..functions.text import content_chunks

    return (
        content_chunks(docs, text_col, k, divisor)
        .select(F.explode("chunks").alias("chunk"))
        .select(
            F.md5(F.col("chunk")).alias("fp"),
            F.length("chunk").alias("chunk_len"),
        )
        .distinct()
    )


def chunk_store_merge(
    batch: DataFrame,
    store_path: str,
    text_col: str = "text",
    k: int = 8,
    divisor: int = 64,
) -> dict:
    """SET-UNION one micro-batch's chunk fingerprints into the store.
    Returns {"chunks": stored distinct count, "new_chunks": fingerprints
    this batch added, "new_bytes": their summed length — the bytes an
    incremental backup would actually transfer}. A replayed batch
    reports new_chunks == new_bytes == 0."""
    spark = batch.sparkSession
    fps = batch_chunk_fps(batch, text_col, k, divisor)
    current = store.current(store_path)
    stored = spark.read.parquet(current) if current is not None else None
    fresh = (
        fps if stored is None else fps.join(stored.select("fp"), "fp", "left_anti")
    ).persist()
    try:
        new_chunks = fresh.count()
        new_bytes = (
            fresh.agg(F.coalesce(F.sum("chunk_len"), F.lit(0)).cast("long"))
            .collect()[0][0]
        )
        merged = fresh if stored is None else stored.unionByName(fresh)
        version_dir = store.next_generation(store_path)
        merged.write.mode("overwrite").parquet(version_dir)
    finally:
        fresh.unpersist()
    store.publish(store_path, version_dir)
    n = spark.read.parquet(version_dir).count()
    return {"chunks": n, "new_chunks": new_chunks, "new_bytes": int(new_bytes)}


def chunk_store_read(spark, store_path: str) -> DataFrame:
    """The stored (fp, chunk_len) fingerprints at the published version."""
    return spark.read.parquet(
        store.require(store_path, "chunk_store_read", "chunk store")
    )


def chunk_store_report(store: DataFrame) -> DataFrame:
    """Unique-content report from the store alone: n_distinct_chunks,
    chars_unique — the store-side half of content_chunk_dedup's batch
    report (total/copy counts stay batch-side by design, see module
    docstring)."""
    return store.agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_chunks"),
        F.sum("chunk_len").cast("long").alias("chars_unique"),
    )


def streaming_chunk_store(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    k: int = 8,
    divisor: int = 64,
):
    """Wire a document stream into the chunk store: exactly-once store
    maintenance from idempotent SET-UNION × at-least-once foreachBatch,
    same composition as the bitmap/HLL/CDC stores."""

    def write(batch: DataFrame, batch_id: int) -> None:
        chunk_store_merge(batch, store_path, text_col, k, divisor)

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
