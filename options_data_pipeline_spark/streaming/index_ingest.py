"""Streaming ingest loops that keep a DOCUMENT CORPUS and a derived
SERVING INDEX in sync — the remaining LLM-ingest decision stores from
the round-11 verdict (item 2): the BM25 stats store and the positioned
gram decontamination index, each wired into the doc_ingest.py
discipline (replay guard → batch-only compute → idempotent append).

Why a combined loop and not just `streaming_bm25_index` (which grows
an index alone): a retrieval/decontamination deployment serves from
BOTH stores — queries hit the index, hydration reads the corpus — so
the pair must converge under crash/replay as a UNIT. The crash-window
ordering is the one doc_ingest proved for the signature table:

    INDEX FIRST, DOCS SECOND.

A crash between the two appends leaves index-rows-without-docs; the
replay finds the docs still absent from the corpus ⇒ still "fresh" ⇒
re-runs the index merge (whose own doc-grain SET-UNION guard appends
0 — both merges anti-join the batch against the stored doc set) and
completes the doc append. The REVERSE order is a permanent index gap:
docs-without-index-rows are dropped by the corpus replay guard before
the index merge ever sees them, so their postings/grams never land and
every future query silently misses them (for decontamination that
means a contaminated doc the index can't flag — the worst failure
mode of the store).

Per-batch cost is O(batch tokens) + vocabulary/doc-set-grain merges —
never a corpus re-tokenization; the stored side of every guard join is
pre-filtered to the batch's ids (the O(batch)-not-O(store) rule both
merge primitives already enforce).

SINGLE-WRITER per store pair, like every pointer store here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import store
from .sink import idempotent_append_batch, sink_has_data


def _fresh_against_corpus(batch: DataFrame, corpus_path: str) -> DataFrame:
    """doc_ingest's replay guard: drop batch docs already in the corpus,
    with the corpus read PRUNED to the batch's own id range (replays
    carry the same id window, so row-group stats skip the rest)."""
    if not sink_has_data(corpus_path):
        return batch
    spark = batch.sparkSession
    b = batch.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    corpus_ids = spark.read.parquet(corpus_path).select("doc_id")
    if b.lo is not None:
        corpus_ids = corpus_ids.filter(F.col("doc_id").between(b.lo, b.hi))
    return batch.join(corpus_ids, "doc_id", "left_anti")


def bm25_ingest_batch(
    batch: DataFrame,
    corpus_path: str,
    index_path: str,
    text_col: str = "text",
) -> int:
    """One micro-batch into the corpus + BM25 stats store pair; returns
    docs appended. Index-before-docs ordering (module docstring); every
    step is deterministic, so failure-replay converges."""
    from ..functions.retrieval import merge_bm25_index, publish_bm25_index

    fresh = _fresh_against_corpus(batch, corpus_path).localCheckpoint(eager=True)
    if not fresh.take(1):
        return 0
    if store.current(index_path) is None:
        publish_bm25_index(fresh, index_path, text_col)
    else:
        merge_bm25_index(fresh, index_path, text_col)
    return idempotent_append_batch(
        fresh.coalesce(1), corpus_path, id_col="doc_id", prune_col="doc_id"
    )


def pos_gram_ingest_batch(
    batch: DataFrame,
    corpus_path: str,
    index_path: str,
    min_tokens: int = 4,
    text_col: str = "text",
) -> int:
    """One micro-batch into the corpus + positioned-gram index pair —
    the decontamination store stays probe-ready for every doc the
    corpus holds. Same ordering/replay contract as the BM25 loop."""
    from ..functions.text import build_pos_gram_index, merge_pos_gram_index

    fresh = _fresh_against_corpus(batch, corpus_path).localCheckpoint(eager=True)
    if not fresh.take(1):
        return 0
    if store.current(index_path) is None:
        build_pos_gram_index(fresh, index_path, min_tokens, text_col)
    else:
        merge_pos_gram_index(fresh, index_path, min_tokens, text_col)
    return idempotent_append_batch(
        fresh.coalesce(1), corpus_path, id_col="doc_id", prune_col="doc_id"
    )


def run_index_ingest(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    kind: str = "bm25",
    max_files_per_trigger: int = 8,
    schema: str = "doc_id long, text string",
    min_tokens: int = 4,
):
    """File-source stream over parquet document drops → foreachBatch
    corpus+index ingest. ``kind`` ∈ {"bm25", "pos_gram"}. Corpus lands
    in ``work_dir/corpus``, the index in ``work_dir/index``, stream
    state in ``work_dir/_checkpoint``; the bounded trigger follows the
    densify pacing lesson (BASELINE §7). Returns the started query."""
    corpus = os.path.join(work_dir, "corpus")
    index = os.path.join(work_dir, "index")
    if kind == "bm25":
        def _process(bdf: DataFrame, _bid: int) -> None:
            bm25_ingest_batch(bdf, corpus, index)
    elif kind == "pos_gram":
        def _process(bdf: DataFrame, _bid: int) -> None:
            pos_gram_ingest_batch(bdf, corpus, index, min_tokens)
    else:
        raise ValueError(f"unknown index ingest kind {kind!r}")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", os.path.join(work_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
