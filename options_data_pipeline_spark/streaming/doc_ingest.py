"""Streaming document ingest with incremental near-dup dedup — the full
100 TB ingestion loop: each arriving batch of documents is probed against
the corpus's STORED MinHash signature table; only novel docs are appended
to the corpus, and exactly their signatures are appended to the index, so
the index grows with the corpus and no batch ever re-tokenizes corpus
text.

Maps the reference's ingestion discipline (dedupe-new-rows-before-append,
``modules/pipeline/write_pipeline.py:150-214``; idempotent replay via
deterministic ids, ``:108-113``) from exact-id grain to near-dup grain,
composed from the batch primitives:

 - signatures/banding: ``functions/dedupe.py`` (oracle-checked)
 - cross-batch probe: the `minhash_lsh_incremental` join shape
 - within-batch rule: cluster-representative keep (min doc_id per
   connected component) — identical semantics to `dedup_canonical`
 - appends: the idempotent anti-join + stage-and-promote sink
   (``streaming/sink.py``), so micro-batch REPLAYS write nothing

Scale posture: per batch the work is O(batch tokens) + one
(band, bucket) join whose corpus side reads 24 narrow columns from the
signature table (never doc text); the within-batch CC runs on the batch's
own candidate graph only. The signature read is a full index scan at this
layout — a deployment at 10^10 docs would partition the signature table
by a bucket hash range so the probe prunes, or keep it in a key-value
store; the join shape is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dedupe import (
    LSH_BANDS,
    MINHASH_PARAMS,
    band_bucket_cols,
    connected_components_star,
    minhash_signatures_wide,
)
from .sink import idempotent_append_batch, sink_has_data

_MH_COLS = [f"mh{j}" for j in range(len(MINHASH_PARAMS))]


def _stack_bands(wide: DataFrame) -> DataFrame:
    stack_args = ", ".join(f"{b}, b{b}" for b in range(LSH_BANDS))
    return wide.selectExpr(
        "doc_id", *_MH_COLS, f"stack({LSH_BANDS}, {stack_args}) as (band, bucket)"
    )


def _colliding_ids(
    probe: DataFrame, reference: DataFrame, threshold: float
) -> DataFrame:
    """doc_ids from ``probe`` whose signature agrees with any ``reference``
    signature on ≥ threshold of the minhashes AND shares a band bucket.
    Both inputs are wide signature frames (doc_id, mh0.., b0..)."""
    m = len(MINHASH_PARAMS)
    a, b = _stack_bands(reference).alias("a"), _stack_bands(probe).alias("b")
    matches = sum((F.col(f"a.mh{j}") == F.col(f"b.mh{j}")).cast("int") for j in range(m))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .filter((matches / float(m)) >= threshold)
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )


def dedup_ingest_batch(
    batch: DataFrame,
    corpus_path: str,
    sig_path: str,
    threshold: float = 0.5,
    text_col: str = "text",
    eval_docs: DataFrame | None = None,
    decontaminate_n: int = 4,
    eval_grams: DataFrame | None = None,
) -> int:
    """Process one micro-batch of documents; returns docs appended.

    Steps (each deterministic, so failure-replay converges):
      1. id-grain replay guard: drop doc_ids already in the corpus or in
         the dropped-id ledger (anti-joins, pruned reads — a replayed
         batch becomes empty here).
      2. ingest-time DECONTAMINATION (when ``eval_docs`` is given): drop
         batch docs sharing any ``decontaminate_n``-gram with the eval
         suite — leakage is cheapest to stop at the door, before the doc
         ever enters the corpus or the signature index; the eval gram
         set is small by nature and broadcasts (`decontamination_hits`).
      3. sign the remaining batch docs (the ONLY signature tokenization).
      4. cross-batch near-dup: drop docs whose estimated Jaccard vs any
         STORED signature ≥ threshold.
      5. within-batch near-dup: connected components over the survivors'
         own candidate pairs, keep the min doc_id per component
         (`dedup_canonical` semantics).
      6. append the step-5 drops to the dropped-id ledger, then kept docs'
         signature rows to the signature table, then the docs to the
         corpus (stage-and-promote appends).

    The ledger (``<sig_path>_dropped``) is what makes step 5 replayable:
    a doc dropped only through a within-batch chain (A~B, B~C, A≁C keeps
    A, drops B and C) has no stored signature it collides with on
    replay — C matches nothing in the index — so without the ledger a
    replay would append it.
    """
    spark = batch.sparkSession
    ledger_path = f"{sig_path.rstrip('/')}_dropped"
    guards = [p for p in (corpus_path, ledger_path) if sink_has_data(p)]
    fresh = batch
    if guards:
        # replay guard: each anti-join read is PRUNED to the batch's own
        # doc_id range — replays carry the same id window, so row-group
        # min/max stats skip the rest of the corpus (a full-corpus id
        # scan per batch would grow linearly with corpus age)
        b = batch.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).collect()[0]
        for path in guards:
            seen = spark.read.parquet(path).select("doc_id")
            if b.lo is not None:
                seen = seen.filter(F.col("doc_id").between(b.lo, b.hi))
            fresh = fresh.join(seen, "doc_id", "left_anti")
    if eval_docs is not None or eval_grams is not None:
        from ..functions.text import decontamination_hits

        if eval_grams is not None:
            # eval_gram_set stamps the n it was built with into the gram
            # column's metadata; a mismatched precomputed frame (train
            # 4-grams vs eval 8-grams) would silently under-decontaminate
            meta = {
                f.name: (f.metadata or {}) for f in eval_grams.schema.fields
            }.get("gram", {})
            built_n = meta.get("ngram_n")
            if built_n is not None and int(built_n) != decontaminate_n:
                raise ValueError(
                    f"eval_grams was built with n={built_n} but this batch "
                    f"decontaminates at n={decontaminate_n}; rebuild the "
                    "gram frame with eval_gram_set(eval_docs, n="
                    f"{decontaminate_n})"
                )
        hits = decontamination_hits(
            fresh, eval_docs, text_col=text_col, n=decontaminate_n,
            eval_grams=eval_grams,
        )
        fresh = fresh.join(hits.select("doc_id"), "doc_id", "left_anti")
    fresh = fresh.cache()
    try:
        if not fresh.take(1):
            return 0
        wide = (
            minhash_signatures_wide(fresh, text_col)
            .select("doc_id", *_MH_COLS, *band_bucket_cols())
            .cache()
        )
        survivors = wide
        if sink_has_data(sig_path):
            stored = spark.read.parquet(sig_path)
            dup_ids = _colliding_ids(survivors, stored, threshold)
            survivors = survivors.join(dup_ids, "doc_id", "left_anti")
        # within-batch: candidate pairs among survivors, CC, keep min rep
        m = len(MINHASH_PARAMS)
        a, b = _stack_bands(survivors).alias("a"), _stack_bands(survivors).alias("b")
        matches = sum(
            (F.col(f"a.mh{j}") == F.col(f"b.mh{j}")).cast("int") for j in range(m)
        )
        pairs = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .filter((matches / float(m)) >= threshold)
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .distinct()
        )
        # star contraction: O(log n) rounds even if a batch carries a
        # long templated-boilerplate chain (propagation = diameter rounds).
        # Short-circuited when the batch has no internal candidate pairs —
        # the contraction loop costs several checkpointed jobs even on an
        # empty graph (measured in the vector soak).
        pairs = pairs.cache()
        drop = None
        if pairs.take(1):
            comp = connected_components_star(pairs)
            drop = comp.filter(F.col("doc_id") != F.col("label")).select("doc_id")
            kept_sigs = survivors.join(drop, "doc_id", "left_anti")
        else:
            kept_sigs = survivors
        pairs.unpersist()
        kept_docs = fresh.join(kept_sigs.select("doc_id"), "doc_id")
        # ORDER MATTERS: ledger, then signatures, then docs. A crash after
        # the ledger append leaves the replay to re-derive the same kept
        # set from the remaining docs (kept docs are one per component,
        # so they share no candidate pair). A crash between the signature
        # and doc appends leaves sigs-without-docs, and the replay (docs
        # still absent from the corpus ⇒ still "fresh") deterministically
        # recomputes the same kept set — each survivor's own stored signature is
        # excluded as a self-pair, so nothing is falsely dropped — and
        # the doc append completes. The reverse order is a PERMANENT
        # index gap: docs-without-sigs are dropped by the replay guard
        # before re-signing, so their signatures never land and future
        # near-dups of them go undetected.
        # bound output files per batch: a micro-batch spread over all
        # shuffle partitions writes dozens of kilobyte files, and every
        # later batch re-lists them — file count is a growing per-batch
        # tax (measured in the vector soak; deployments size to ~128 MB
        # files)
        if drop is not None:
            idempotent_append_batch(
                drop.coalesce(1), ledger_path, id_col="doc_id", prune_col="doc_id"
            )
        idempotent_append_batch(
            kept_sigs.coalesce(1), sig_path, id_col="doc_id", prune_col="doc_id"
        )
        n = idempotent_append_batch(
            kept_docs.coalesce(1), corpus_path, id_col="doc_id", prune_col="doc_id"
        )
        wide.unpersist()
        return n
    finally:
        fresh.unpersist()


def run_doc_ingest(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    threshold: float = 0.5,
    max_files_per_trigger: int = 8,
    schema: str = "doc_id long, text string, lang string, source string, n_chars long",
    eval_path: str | None = None,
    decontaminate_n: int = 4,
):
    """File-source stream over parquet document drops → foreachBatch
    incremental dedup ingest. Returns the started query; corpus lands in
    ``work_dir/corpus``, signatures in ``work_dir/signatures``, the
    dropped-id ledger in ``work_dir/signatures_dropped``, stream state in
    ``work_dir/_checkpoint``. The paced trigger bound follows the
    densify lesson (BASELINE §7): bounded micro-batches keep per-trigger
    latency inside the write-timeout NFR.

    ``eval_path``: parquet of benchmark/eval documents; when given, every
    batch is decontaminated against it at the door (step 2 of
    :func:`dedup_ingest_batch`). The eval suite is tokenized exactly
    once (`eval_gram_set`, cached); each batch pays only the broadcast
    gram join."""
    corpus = os.path.join(work_dir, "corpus")
    sigs = os.path.join(work_dir, "signatures")
    eval_grams = None
    if eval_path is not None:
        from ..functions.text import eval_gram_set

        # tokenize the eval suite ONCE — the per-batch cost is then only
        # the broadcast join, not a repeated regexp + explode + distinct
        eval_grams = eval_gram_set(
            spark.read.parquet(eval_path).select("doc_id", "text"),
            n=decontaminate_n,
        ).cache()
        eval_grams.count()  # materialize before the stream starts

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )

    def _process(bdf: DataFrame, _bid: int) -> None:
        dedup_ingest_batch(
            bdf, corpus, sigs, threshold,
            eval_grams=eval_grams, decontaminate_n=decontaminate_n,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", os.path.join(work_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
