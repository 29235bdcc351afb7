"""Streaming EMBEDDING ingest with incremental semantic dedup — the
vector twin of :mod:`doc_ingest`: each arriving batch of vectors is
probed against the stored, CELL-CLUSTERED corpus; only semantically
novel vectors (max cosine vs any kept vector < threshold) are appended,
laid out by IVF cell so the next batch's probe is a cell equi-join that
reads only the touched cells' partitions.

Same discipline as the doc loop, same reasons:
 - replay guard: id anti-join pruned to the batch's id range
 - cross-batch probe: cell-confined cosine join against stored vectors —
   the within-cell quadratic is the SemDeDup/`embedding_near_dup` shape,
   bounded by cell population, never corpus²
 - within-batch rule: star-contraction components over the survivors'
   own near-dup pairs, keep min vec_id (= `semdedup_prune` semantics)
 - appends: idempotent anti-join + stage-and-promote; the corpus IS the
   index (vector + cell), so there is no second artifact to crash
   between — one append, no ordering hazard.

A deployment tunes `cents` (the coarse quantizer) once via
`kmeans_centroids`/`build_kmeans_index`; the default fixed centroids keep
this module hermetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dedupe import connected_components_star
from ..functions.similarity import dot_col, fixed_centroids, norm_col, with_cell
from .sink import idempotent_append_batch, sink_has_data


def dedup_vec_ingest_batch(
    batch: DataFrame,
    corpus_path: str,
    threshold: float = 0.99,
    cents: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Process one micro-batch of vectors; returns vectors appended."""
    spark = batch.sparkSession
    fresh = batch.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if sink_has_data(corpus_path):
        b = fresh.agg(F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")).collect()[0]
        ids = spark.read.parquet(corpus_path).select("vec_id")
        if b.lo is not None:
            ids = ids.filter(F.col("vec_id").between(b.lo, b.hi))
        fresh = fresh.join(ids, "vec_id", "left_anti")
    cents = cents if cents is not None else fixed_centroids()
    # Cell assignment runs on the UNIT vector: cosine similarity is
    # magnitude-blind, but L2-nearest-centroid is not — a scaled copy of
    # a stored vector can land in a different cell and slip past the
    # cell-confined probe (measured: a ×2-scaled duplicate wave leaked
    # 301/2000 vectors under raw-vector assignment, 0 under normalized).
    fresh = (
        fresh.withColumn("nrm", norm_col("v"))
        .withColumn(
            "unit",
            F.when(
                F.col("nrm") > 0,
                F.transform(F.col("v"), lambda x: x / F.col("nrm")),
            ).otherwise(F.col("v")),
        )
    )
    fresh = with_cell(fresh, cents, vec_col="unit").drop("unit").cache()
    try:
        if not fresh.take(1):
            return 0
        survivors = fresh
        if sink_has_data(corpus_path):
            stored = spark.read.parquet(corpus_path).select(
                F.col("vec_id").alias("s_id"),
                F.col("v").alias("sv"),
                F.col("nrm").alias("snrm"),
                "cell",
            )
            cos = dot_col(F.col("v"), F.col("sv")) / (F.col("nrm") * F.col("snrm"))
            dup_ids = (
                survivors.join(stored, "cell")
                .filter(F.col("vec_id") != F.col("s_id"))
                .filter(cos >= threshold)
                .select("vec_id")
                .distinct()
            )
            survivors = survivors.join(dup_ids, "vec_id", "left_anti")
        a = survivors.select(
            F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
            F.col("nrm").alias("na"), "cell",
        )
        bb = survivors.select(
            F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
            F.col("nrm").alias("nb"), "cell",
        )
        pcos = dot_col(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        pairs = (
            a.join(bb, "cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(pcos >= threshold)
            .select("id_a", "id_b")
            .distinct()
        )
        # short-circuit: most batches have NO within-batch near-dups, and
        # the star-contraction loop costs several jobs (checkpointed
        # rounds + convergence counts) even on an empty graph — measured
        # ~10-20 s/batch of pure overhead in the vector soak
        pairs = pairs.cache()
        if pairs.take(1):
            comp = connected_components_star(pairs, id_a="id_a", id_b="id_b")
            drop = comp.filter(F.col("doc_id") != F.col("label")).select(
                F.col("doc_id").alias("vec_id")
            )
            kept = survivors.join(drop, "vec_id", "left_anti")
        else:
            kept = survivors
        pairs.unpersist()
        # ONE append: the stored row carries vector + cell + norm, so the
        # corpus is its own index — no doc/sig ordering hazard here.
        # Micro-batch-sized writes must not fan out shuffle-partitions ×
        # cells of kilobyte files — every later batch re-lists and
        # re-reads the whole corpus, so file count is a per-batch TAX
        # that grows forever (measured: latency climbed 33 → 65 s across
        # 10 batches before this bound; a deployment sizes this to
        # ~128 MB per written file)
        return idempotent_append_batch(
            kept.coalesce(1), corpus_path, id_col="vec_id", prune_col="vec_id",
            partition_by=("cell",),
        )
    finally:
        fresh.unpersist()

