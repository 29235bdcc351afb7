"""Streaming CDC upsert: maintain a latest-wins snapshot from a change
stream — the foreachBatch MERGE pattern (Delta/Iceberg upsert, Kafka
compacted-topic materialization) built on the batch operator
``operators/cdc.py::cdc_latest_snapshot``.

Each micro-batch merges into the stored snapshot by re-expressing the
snapshot's rows as pseudo-changes (their stored op and sequence) and
running latest-wins over (snapshot ∪ batch):

- a batch change NEWER than the stored row wins (update / delete);
- a batch change OLDER than the stored row loses — cross-batch
  out-of-order arrivals cannot regress the snapshot;
- a delete whose key later receives a newer insert resurrects it.

The stored table RETAINS delete rows as tombstones (``last_op`` =
delete) — the compacted-topic retention rule: without them, an
out-of-order insert arriving in a LATER micro-batch than the delete it
precedes would resurrect the key (caught by the first version of the
parity test). ``cdc_live_view`` filters tombstones for readers; a
production table would expire them after the max-lateness horizon.

The snapshot holds only keys + last_* columns, no cumulative counters
— that makes the merge IDEMPOTENT (merge(s, b) re-applied is a
fixpoint), so a replayed micro-batch after a crash converges to the
same snapshot with no applied-batch ledger. Audit counters belong to
the batch operator, whose input is the immutable change log.

Durability: the store is VERSIONED through ``sources/store.py`` — each
merge writes a fresh generation directory and then atomically swaps the
store's pointer file (single os.replace). A crash anywhere before
the swap leaves the pointer on the previous version (a plain
mode-overwrite would delete-then-write, and a crash in the gap loses
the whole snapshot — exactly the hole the repo's staged-append and
manifest sinks close for the append path). Only the current and
previous versions are kept; older and orphaned-partial directories are
GC'd after each successful publish.

Scale shape: the merge is one key-grain aggregate over
(snapshot ∪ batch) — at 100 TB the snapshot side would be a
key-partitioned table so only the batch's key partitions rewrite
(Delta MERGE / Iceberg merge-on-read); the versioned pointer-swap here
is the single-node analogue of those formats' commit protocol (and the
durable fix for the reference's rewrite-the-whole-tab S4 flow,
write_pipeline.py:328-362).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.cdc import cdc_latest_snapshot
from ..sources import store


def cdc_merge_batch(
    batch: DataFrame,
    snapshot_path: str,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    op_col: str = "op",
    delete_op: str = "D",
) -> int:
    """Merge one micro-batch of changes into the stored snapshot.
    Returns the stored row count after the merge (live + tombstones)."""
    spark = batch.sparkSession
    keys = list(key_cols)
    seqs = list(seq_cols)
    payload = [
        c for c in batch.columns if c not in set(keys) | set(seqs) | {op_col}
    ]
    changes = batch.select(*keys, *seqs, op_col, *payload)
    current = store.current(snapshot_path)
    if current is not None:
        stored = spark.read.parquet(current)
        # Fail loudly on schema evolution between micro-batches: the merge
        # selects last_<c> for every batch-derived payload/seq column, so a
        # renamed/added/removed payload column would otherwise surface as an
        # opaque AnalysisException mid-merge. The snapshot schema is fixed at
        # first publish; evolving it requires a rebuild (documented contract).
        expected = (
            set(keys)
            | {f"last_{c}" for c in seqs}
            | {"last_op"}
            | {f"last_{c}" for c in payload}
        )
        stored_cols = set(stored.columns)
        missing = sorted(expected - stored_cols)
        extra = sorted(stored_cols - expected)
        if missing or extra:
            raise ValueError(
                "cdc_merge_batch: change-stream schema does not match the "
                f"stored snapshot at {current!r}. Snapshot is missing "
                f"columns {missing} expected for this batch; snapshot has "
                f"extra columns {extra} absent from this batch. The stored "
                "snapshot schema is fixed at first publish — rebuild the "
                "snapshot to evolve the payload schema."
            )
        prior = stored.select(
            *keys,
            *[F.col(f"last_{c}").alias(c) for c in seqs],
            F.col("last_op").alias(op_col),
            *[F.col(f"last_{c}").alias(c) for c in payload],
        )
        changes = prior.unionByName(changes)
    snap = cdc_latest_snapshot(
        changes,
        key_cols=keys,
        seq_cols=seqs,
        op_col=op_col,
        delete_op=delete_op,
        payload_cols=payload,
        keep_deletes=True,  # tombstone retention — see module docstring
    ).drop("n_changes", "n_deletes")
    version_dir = store.next_generation(snapshot_path)
    # new version written BESIDE the current one (which the plan still
    # reads) — no self-overwrite hazard, no driver materialization
    snap.write.mode("overwrite").parquet(version_dir)
    store.publish(snapshot_path, version_dir)
    return spark.read.parquet(version_dir).count()


def cdc_snapshot_read(spark, snapshot_path: str) -> DataFrame:
    """All stored rows (live + tombstones) at the published version."""
    return spark.read.parquet(
        store.require(snapshot_path, "cdc_snapshot_read", "snapshot")
    )


def cdc_live_view(spark, snapshot_path: str, delete_op: str = "D") -> DataFrame:
    """The consumer-facing snapshot: stored rows minus tombstones."""
    return cdc_snapshot_read(spark, snapshot_path).filter(
        F.col("last_op") != delete_op
    )


def cdc_previous_snapshot_read(spark, snapshot_path: str) -> DataFrame:
    """TIME TRAVEL one version back: the snapshot as it was before the
    last merge. The publish GC deliberately retains current + previous
    (the crash-recovery window) — this reader turns that retention into
    a consumer feature: diff a bad deploy's writes (feed both versions
    to operators/cdc.snapshot_diff), or read-repair against the state
    one merge ago. Raises if no previous version exists (fresh store or
    exactly one publish) — never silently serves the current one."""
    store.require(snapshot_path, "cdc_previous_snapshot_read", "snapshot")
    prev = store.previous(snapshot_path)
    if prev is None:
        raise FileNotFoundError(
            f"no previous version under {snapshot_path} — only the current"
            " publish exists"
        )
    return spark.read.parquet(prev)


def streaming_cdc_upsert(
    stream: DataFrame,
    snapshot_path: str,
    checkpoint_dir: str,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    op_col: str = "op",
    delete_op: str = "D",
):
    """Wire a change stream into the snapshot store:
    ``streaming_cdc_upsert(...).start()`` + the checkpoint gives
    exactly-once snapshot maintenance (idempotent merge × at-least-once
    foreachBatch)."""

    def write(batch: DataFrame, batch_id: int) -> None:
        cdc_merge_batch(
            batch,
            snapshot_path,
            key_cols=key_cols,
            seq_cols=seq_cols,
            op_col=op_col,
            delete_op=delete_op,
        )

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
