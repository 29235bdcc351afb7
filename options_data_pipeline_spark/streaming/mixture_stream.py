"""Streaming twin of the DoReMi mixture optimizer (round-9 verdict item
5): re-weigh the training mixture AS THE CORPUS GROWS. The batch form
(`doremi_mixture_weights`) tokenizes the whole corpus per run; the
production shape maintains the (source, tok, c) count model
INCREMENTALLY in ``foreachBatch`` — each micro-batch is tokenized once,
its exact per-domain token counts land as a delta, and the 8-step
mirror-descent trajectory recomputes from the STORED model (vocab-grain
— cheap; the corpus is never re-read) before the weights republish as a
new version.

Exactly-once without a row ledger: count merge is NOT idempotent by
row-set union (a replayed batch would double-count), so deltas commit
BY BATCH — each micro-batch OVERWRITES its own
``deltas/batch_id=<n>/`` directory and Spark's job-commit ``_SUCCESS``
marker is the commit point. A replayed batch rewrites the same bytes
over the same path (counts are a pure function of the batch) and
reports ``appended_tokens == 0`` new mass; a crash mid-write leaves a
dir without ``_SUCCESS`` that readers skip and the replay overwrites —
the idempotent-store family's replay-writes-0 fixpoint, keyed by batch
instead of by row because the merge algebra is SUM, not SET-UNION.
This is the standard Structured Streaming idempotent-sink pattern
(batch-id-keyed transactional commit); it assumes the stream keeps its
checkpoint (a NEW checkpoint restarts batch ids — point it at a fresh
store, the documented contract of every checkpointed sink here).

Weight publication = the quality-weight discipline verbatim
(versioned dir + atomic pointer, ``sources/store.py``): readers see a
full old or full new weight set, never a torn mixture, and every published
version records the model row-count it was derived from, so a
republish is observable and auditable.

Bit-parity with the batch form: deltas store EXACT integer counts;
the stored model's p recomposes through the same single IEEE division
(`model_from_counts`), so a trajectory recomputed from the stream-
maintained store equals the batch trajectory over the same corpus
bit for bit (parity-tested).

Scale shape at 100 TB: per batch — one narrow tokenize of the batch,
one (source, tok) partial-agg (map-side combinable), one delta-dir
write; the recompute reads the vocab-grain model (millions of rows,
never the corpus) and runs the fixed 8 iterations. Delta dirs grow by
one per batch; `compact_mixture_model` folds them into a single
generation (versioned publish) the way every append-grown store here
compacts. SINGLE-WRITER per store path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.doremi import doremi_trajectory, model_from_counts
from ..sources import store
from ..sources.local import local_frame

_DELTAS = "deltas"


def _batch_counts(batch: DataFrame, text_col: str, source_col: str) -> DataFrame:
    """(source, tok, c) exact counts of ONE micro-batch — the same
    tokenization as `domain_token_model`, applied to batch rows only."""
    return (
        batch.select(
            F.col(source_col).alias("source"),
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)")
            ).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def mixture_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    store_path: str,
    text_col: str = "text",
    source_col: str = "source",
) -> dict:
    """Commit one micro-batch's counts as ``deltas/batch_id=<n>/``
    (overwrite — replay-idempotent by path; ``_SUCCESS`` is the commit
    marker). Returns {"batch_id", "tokens", "appended_tokens"}:
    ``appended_tokens`` is 0 when the batch directory was already
    committed (pure replay)."""
    ddir = os.path.join(store_path, _DELTAS, f"batch_id={int(batch_id)}")
    replay = os.path.exists(os.path.join(ddir, "_SUCCESS"))
    cnt = _batch_counts(batch, text_col, source_col)
    cnt.write.mode("overwrite").parquet(ddir)
    tokens = (
        batch.sparkSession.read.parquet(ddir).agg(F.sum("c")).collect()[0][0]
        or 0
    )
    return {
        "batch_id": int(batch_id),
        "tokens": int(tokens),
        "appended_tokens": 0 if replay else int(tokens),
    }


def read_mixture_model(spark, store_path: str) -> DataFrame:
    """(source, tok, c) — the live model: committed delta dirs plus the
    compacted generation (if any), summed. Uncommitted (crashed,
    no-_SUCCESS) delta dirs are skipped by construction: Spark's
    parquet reader lists only committed files under each batch dir, and
    a dir with no committed files contributes nothing."""
    parts = []
    base = store.current(store_path)
    if base is not None:
        parts.append(spark.read.parquet(base))
    droot = os.path.join(store_path, _DELTAS)
    if os.path.isdir(droot):
        live = [
            os.path.join(droot, d)
            for d in sorted(os.listdir(droot))
            if os.path.exists(os.path.join(droot, d, "_SUCCESS"))
        ]
        if live:
            parts.append(
                spark.read.parquet(*live).select("source", "tok", "c")
            )
    if not parts:
        raise FileNotFoundError(
            f"read_mixture_model: nothing committed at {store_path!r}"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("source", "tok").agg(F.sum("c").cast("long").alias("c"))


def compact_mixture_model(spark, store_path: str) -> dict:
    """Fold all committed deltas (plus any prior compacted generation)
    into ONE new generation and drop the folded delta dirs — versioned
    publish, so a crash anywhere leaves the store readable; deltas are
    removed only AFTER the pointer swap (a crash between swap and
    removal double-counts nothing: the fold snapshot listed exactly the
    dirs it folded, and the post-swap cleanup removes exactly those)."""
    import shutil

    droot = os.path.join(store_path, _DELTAS)
    folded = [
        os.path.join(droot, d)
        for d in (sorted(os.listdir(droot)) if os.path.isdir(droot) else [])
        if os.path.exists(os.path.join(droot, d, "_SUCCESS"))
    ]
    model = read_mixture_model(spark, store_path)
    vdir = store.next_generation(store_path)
    model.repartition(8, "source", "tok").write.mode("overwrite").parquet(vdir)
    store.publish(store_path, vdir)
    # count the PUBLISHED bytes (the lazy `model` plan still references
    # the delta files the next lines remove)
    rows = spark.read.parquet(vdir).count()
    for p in folded:
        shutil.rmtree(p, ignore_errors=True)
    return {"folded_deltas": len(folded), "rows": rows}


def publish_mixture_weights(spark, store_path: str, model_path: str) -> dict:
    """Recompute the 8-step trajectory from the STORED model and publish
    the weights as a new version (source, weight, model_rows) — the
    quality-weight pointer discipline. Returns {"weights", "version"}."""
    cnt = read_mixture_model(spark, store_path).localCheckpoint(eager=True)
    model = model_from_counts(cnt)
    w, _, _ = doremi_trajectory(model)
    n_rows = cnt.count()
    vdir = store.next_generation(model_path)
    local_frame(
        spark,
        [(s, w[s], n_rows) for s in sorted(w)],
        "source string, weight double, model_rows long",
    ).coalesce(1).write.mode("overwrite").parquet(vdir)
    store.publish(model_path, vdir)
    return {"weights": w, "version": os.path.basename(vdir)}


def read_mixture_weights(spark, model_path: str) -> tuple[dict, str]:
    """({source: weight}, version) at the published pointer."""
    cur = store.require(model_path, "read_mixture_weights", "weights")
    rows = spark.read.parquet(cur).collect()
    return {r.source: r.weight for r in rows}, os.path.basename(cur)


def streaming_mixture_weights(
    stream: DataFrame,
    store_path: str,
    model_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    source_col: str = "source",
):
    """Wire a document stream into the mixture loop: each micro-batch
    commits its count delta, then the weights republish from the stored
    model — ``streaming_mixture_weights(...).start()`` + the checkpoint
    gives exactly-once counts (batch-keyed idempotent commit ×
    at-least-once foreachBatch) and an always-current published
    mixture."""

    def write(batch: DataFrame, batch_id: int) -> None:
        mixture_ingest_batch(batch, batch_id, store_path, text_col, source_col)
        publish_mixture_weights(batch.sparkSession, store_path, model_path)

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
