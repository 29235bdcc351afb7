"""Streaming twin of the TRAINED quality filter (round-8 verdict item 5):
train in batch, publish the GD weights as a VERSIONED artifact, then
score arriving documents in ``foreachBatch`` with the STORED weights —
the production train-batch / serve-streaming shape. Scoring is
``quality_linear_score``'s codegen'd narrow map with learned instead of
literal weights; training never runs on the stream.

Weight publication is the shared versioned-dir + atomic pointer swap
(``sources/store.py``): a retrain writes a fresh generation dir holding
ONE row (wb, w1, w2, w3, iters, lr) and repoints the pointer —
scorers reading mid-republish see either the old or the new weights in
full, never a torn pair, and a crash leaves the previous weights
readable. Every scored row carries the
``weight_version`` it was scored under, so a republish is observable in
the output (the pinning test's contract) and mixed-version stores are
auditable.

Exactly-once without a ledger: a scored row is a PURE function of
(doc, published weights) — deterministic features, deterministic squash
— so a replayed micro-batch produces byte-identical rows, and the merge
dedupes them with a (doc_id, weight_version) left-anti join against the
stored table before appending (the reference's write-after-dedupe
discipline, `modules/pipeline/write_pipeline.py:150-214`, at score
grain). A replayed batch reports ``appended == 0`` — the
replay-writes-0 fixpoint the other idempotent stores (bitmap OR, HLL
MAX, CDC latest-wins, chunk SET-UNION) pin; this store's algebra is
SET-UNION on an append-only keyed set.

Scale shape: the micro-batch pays one narrow feature/score map over its
own rows plus one anti-join keyed on (doc_id, weight_version) against
the stored table — and the stored side is PRE-FILTERED to the batch's
doc_ids first (a keyed semi-join, the `merge_gram_index` discipline), so
per-batch cost is O(batch + matching stored rows), never O(store).
Spark cannot build the left side of a LEFT ANTI join, so without the
pre-filter every micro-batch would scan and shuffle the unboundedly
growing store; after it, the anti-join's build side is bounded by the
batch and broadcasts. Stored rows are never rewritten.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.quality_train import ITERS, LR, _z, quality_features, quality_train
from ..sources import store
from ..sources.local import local_frame


def publish_quality_weights(
    docs: DataFrame,
    model_path: str,
    text_col: str = "text",
    iters: int = ITERS,
    lr: float = LR,
) -> dict:
    """Train the quality classifier on ``docs`` (the batch half) and
    publish [wb, w1, w2, w3] as a new weight version. Returns
    {"weights": [...], "version": "v_<n>-<hex>"}. SINGLE-WRITER like
    every pointer-published store (concurrent republishers could GC
    each other's in-flight generation)."""
    spark = docs.sparkSession
    feats = quality_features(docs, text_col).localCheckpoint(eager=True)
    w = quality_train(feats, iters=iters, lr=lr)
    vdir = store.next_generation(model_path)
    local_frame(
        spark,
        [(w[0], w[1], w[2], w[3], iters, float(lr))],
        "wb double, w1 double, w2 double, w3 double, iters int, lr double",
    ).coalesce(1).write.mode("overwrite").parquet(vdir)
    store.publish(model_path, vdir)
    return {"weights": w, "version": os.path.basename(vdir)}


def read_quality_weights(spark, model_path: str) -> tuple[list[float], str]:
    """(weights, version) at the published pointer. Raises
    FileNotFoundError when nothing has been published."""
    cur = store.require(model_path, "read_quality_weights", "weights")
    r = spark.read.parquet(cur).collect()[0]
    return [r.wb, r.w1, r.w2, r.w3], os.path.basename(cur)


def score_with_weights(
    docs: DataFrame, w: list[float], text_col: str = "text"
) -> DataFrame:
    """(doc_id, label, score, keep) under GIVEN weights — the exact
    column formulas of `quality_train_score`'s inference arm (rational
    squash, fixed parenthesization), one whole-stage-codegen'd map."""
    feats = quality_features(docs, text_col)
    z = _z(w)
    a = F.lit(1.0) + F.abs(z)
    score = F.lit(0.5) + F.lit(0.5) * (z / a)
    return feats.select(
        "doc_id",
        F.col("y").alias("label"),
        score.alias("score"),
        (score > F.lit(0.5)).alias("keep"),
    )


def _fresh_against_store(scored: DataFrame, seen: DataFrame) -> DataFrame:
    """The merge's dedupe join, O(batch) not O(store): pre-filter the
    stored (doc_id, weight_version) side to the batch's doc_ids with a
    keyed semi-join (the `merge_gram_index` gram-key discipline — Spark
    cannot build the LEFT side of a LEFT ANTI join, so anti-joining the
    raw store would scan and shuffle the whole unboundedly-growing
    table every micro-batch), then LEFT ANTI against that bounded
    subset — ≤ batch-size × versions-seen rows, which broadcasts."""
    batch_ids = scored.select("doc_id").distinct()
    seen_touched = seen.join(
        batch_ids.hint("shuffle_hash"), "doc_id", "left_semi"
    )
    return scored.join(
        F.broadcast(seen_touched), ["doc_id", "weight_version"], "left_anti"
    )


def quality_score_merge_batch(
    batch: DataFrame,
    model_path: str,
    store_path: str,
    text_col: str = "text",
) -> dict:
    """Score one micro-batch with the STORED weights and append only the
    (doc_id, weight_version) pairs the store has not seen — the
    SET-UNION merge. Returns {"scored", "appended", "weight_version"};
    a full replay reports appended == 0.

    SINGLE-WRITER per store: foreachBatch serializes batches within one
    query, but two INDEPENDENT streams scoring into one store_path could
    both anti-join against the same pre-state and append duplicate rows
    — point concurrent pipelines at separate stores (or one shared
    query)."""
    spark = batch.sparkSession
    w, version = read_quality_weights(spark, model_path)
    scored = score_with_weights(batch, w, text_col).withColumn(
        "weight_version", F.lit(version)
    )
    if os.path.exists(os.path.join(store_path, "_SUCCESS")):
        seen = spark.read.parquet(store_path).select("doc_id", "weight_version")
        fresh = _fresh_against_store(scored, seen)
    else:
        fresh = scored
    # materialize once: the anti-join must be resolved against the store
    # BEFORE the append starts extending that same store
    fresh = fresh.localCheckpoint(eager=True)
    n_new = fresh.count()
    if n_new:
        fresh.write.mode("append").parquet(store_path)
    return {
        "scored": scored.count(),
        "appended": n_new,
        "weight_version": version,
    }


def streaming_quality_score(
    stream: DataFrame,
    model_path: str,
    store_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
):
    """Wire a document stream into the score store:
    ``streaming_quality_score(...).start()`` + the checkpoint gives
    exactly-once scored rows (idempotent SET-UNION merge ×
    at-least-once foreachBatch), the composition every idempotent store
    in this repo uses."""

    def write(batch: DataFrame, batch_id: int) -> None:
        quality_score_merge_batch(batch, model_path, store_path, text_col)

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
