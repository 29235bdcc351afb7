"""Corpus+index streaming ingest loops (VERDICT r11 item 2): the BM25
stats store and the positioned-gram decontamination index wired into
the doc_ingest discipline — parity vs one-shot rebuild, replay-zero,
and the index-before-docs crash-window ordering."""

import pytest
from pyspark.sql import functions as F

from options_data_pipeline_spark.streaming import index_ingest as ii

DOCS = [
    (0, "spark join window aggregate shuffle partition"),
    (1, "stream watermark state checkpoint replay exactly once"),
    (2, "broadcast join small dimension table spark"),
    (3, "window function rank partition order"),
    (4, "the quick brown fox jumps over the lazy dog tonight"),
    (5, "completely different prose about cooking pasta sauce slowly"),
    (6, "spark join window aggregate shuffle partition"),  # dup text, new id
]


def _docs(spark, ids=None):
    rows = DOCS if ids is None else [d for d in DOCS if d[0] in ids]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus_ids(spark, path):
    from options_data_pipeline_spark.streaming.sink import sink_has_data

    if not sink_has_data(path):
        return set()
    return {r.doc_id for r in spark.read.parquet(path).select("doc_id").collect()}


@pytest.mark.parametrize("kind", ["bm25", "pos_gram"])
def test_streamed_corpus_index_pair_matches_oneshot(spark, tmp_path, kind):
    """Stream doc drops through the foreachBatch loop in micro-batches
    (including an id-overlapping drop = the replay shape); the final
    index must BIT-EQUAL a one-shot build over the distinct union, and
    the corpus must hold exactly the distinct ids."""
    work = str(tmp_path / f"work_{kind}")
    src = str(tmp_path / f"src_{kind}")
    docs = _docs(spark)
    docs.filter("doc_id < 3").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id >= 2").coalesce(1).write.mode("append").parquet(src)  # overlap: 2

    q = ii.run_index_ingest(spark, src, work, kind=kind, max_files_per_trigger=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _corpus_ids(spark, f"{work}/corpus") == set(range(7))

    if kind == "bm25":
        from options_data_pipeline_spark.functions.retrieval import (
            bm25_score_indexed,
            build_bm25_index,
        )

        ref = str(tmp_path / "bm25_ref")
        build_bm25_index(docs, ref)
        terms = ["spark", "join", "window", "fox"]
        got = sorted(map(tuple, bm25_score_indexed(spark, f"{work}/index", terms).collect()))
        want = sorted(map(tuple, bm25_score_indexed(spark, ref, terms).collect()))
        assert got == want and got
    else:
        from options_data_pipeline_spark.functions.text import (
            build_pos_gram_index,
            read_pos_gram_index,
        )

        ref = str(tmp_path / "pg_ref")
        build_pos_gram_index(docs, ref, min_tokens=4)
        got = sorted(
            (r.gram_key, r.doc_id, tuple(r.ps))
            for r in read_pos_gram_index(spark, f"{work}/index").collect()
        )
        want = sorted(
            (r.gram_key, r.doc_id, tuple(r.ps))
            for r in read_pos_gram_index(spark, ref).collect()
        )
        assert got == want and got


@pytest.mark.parametrize("kind", ["bm25", "pos_gram"])
def test_replayed_batch_touches_neither_store(spark, tmp_path, kind):
    """A byte-identical replayed batch appends 0 docs and leaves the
    index generation/content untouched (both merge primitives' doc-grain
    SET-UNION guards)."""
    from options_data_pipeline_spark.sources import store

    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    fn = ii.bm25_ingest_batch if kind == "bm25" else ii.pos_gram_ingest_batch
    batch = _docs(spark, ids={0, 1, 2})
    assert fn(batch, corpus, index) == 3
    v = store.current(index)
    n_index_rows = spark.read.parquet(
        f"{v}/postings" if kind == "bm25" else v
    ).count()
    assert fn(batch, corpus, index) == 0  # replay
    assert _corpus_ids(spark, corpus) == {0, 1, 2}
    v2 = store.current(index)
    assert (
        spark.read.parquet(f"{v2}/postings" if kind == "bm25" else v2).count()
        == n_index_rows
    )
    if kind == "bm25":
        assert v2 == v  # replay publishes NO new version


@pytest.mark.parametrize("kind", ["bm25", "pos_gram"])
def test_crash_between_index_and_docs_converges_on_replay(
    spark, tmp_path, monkeypatch, kind
):
    """Kill the batch after the index merge but before the corpus append
    (the only non-atomic window): the replay must find the docs still
    fresh, re-run the index merge as a no-op (SET-UNION guard), and
    complete the corpus append. Pins the ORDER — index appends FIRST;
    the reverse leaves docs the index can never flag (permanent
    decontamination/retrieval gap)."""
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    fn = ii.bm25_ingest_batch if kind == "bm25" else ii.pos_gram_ingest_batch
    batch = _docs(spark, ids={0, 1, 4})

    real_append = ii.idempotent_append_batch

    def crash_before_docs(df, path, **kw):
        raise RuntimeError("injected crash before corpus append")

    monkeypatch.setattr(ii, "idempotent_append_batch", crash_before_docs)
    with pytest.raises(RuntimeError, match="injected"):
        fn(batch, corpus, index)
    # the index merge already landed; the corpus did not
    from options_data_pipeline_spark.sources import store

    v = store.current(index)
    assert v is not None
    idx_ids = {
        r.doc_id
        for r in spark.read.parquet(
            f"{v}/postings" if kind == "bm25" else v
        )
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert idx_ids == {0, 1, 4}
    assert _corpus_ids(spark, corpus) == set()

    monkeypatch.setattr(ii, "idempotent_append_batch", real_append)
    assert fn(batch, corpus, index) == 3  # replay completes the doc append
    assert _corpus_ids(spark, corpus) == {0, 1, 4}
    v2 = store.current(index)
    rows = spark.read.parquet(f"{v2}/postings" if kind == "bm25" else v2)
    # no duplicate index rows from the replayed merge
    assert rows.count() == rows.dropDuplicates().count()
    assert {
        r.doc_id for r in rows.select("doc_id").distinct().collect()
    } == {0, 1, 4}
