"""Streaming incremental near-dup ingest (streaming/doc_ingest.py).

The contract under test: after any sequence of micro-batches, the corpus
holds exactly the docs a sequential batch-at-a-time dedup would keep —
novel docs survive, near-dups of ANY previously kept doc are dropped,
within-batch clusters keep their min-id representative, and replaying a
batch appends nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from options_data_pipeline_spark.streaming.doc_ingest import (
    dedup_ingest_batch,
    run_doc_ingest,
)

BASE = "the quick brown fox jumps over the lazy dog again and again today"
OTHER = "completely different content about distributed analytics engines"
THIRD = "yet another unrelated document concerning market data pipelines"


def docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def corpus_ids(spark, path):
    if not os.path.isdir(path):
        return set()
    return {r.doc_id for r in spark.read.parquet(path).select("doc_id").collect()}


def test_sequential_batches_drop_cross_batch_near_dups(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    sigs = str(tmp_path / "sigs")

    n1 = dedup_ingest_batch(docs(spark, [(1, BASE), (2, OTHER)]), corpus, sigs)
    assert n1 == 2 and corpus_ids(spark, corpus) == {1, 2}

    # batch 2: a case/whitespace variant of doc 1 (near-dup), plus a novel doc
    n2 = dedup_ingest_batch(
        docs(spark, [(10, BASE.upper()), (11, THIRD)]), corpus, sigs
    )
    assert n2 == 1 and corpus_ids(spark, corpus) == {1, 2, 11}

    # signatures grew with exactly the kept docs
    sig_ids = {r.doc_id for r in spark.read.parquet(sigs).select("doc_id").collect()}
    assert sig_ids == {1, 2, 11}


def test_within_batch_cluster_keeps_min_id(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    sigs = str(tmp_path / "sigs")
    n = dedup_ingest_batch(
        docs(spark, [(5, BASE), (3, BASE.upper()), (7, OTHER)]), corpus, sigs
    )
    assert n == 2
    assert corpus_ids(spark, corpus) == {3, 7}  # min id of the {3,5} cluster


def test_replay_is_idempotent(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    sigs = str(tmp_path / "sigs")
    batch = docs(spark, [(1, BASE), (2, OTHER)])
    assert dedup_ingest_batch(batch, corpus, sigs) == 2
    assert dedup_ingest_batch(batch, corpus, sigs) == 0  # replay: nothing new
    assert corpus_ids(spark, corpus) == {1, 2}
    sig_rows = spark.read.parquet(sigs).count()
    assert sig_rows == 2  # signature table didn't double either


def test_replay_after_within_batch_chain_appends_nothing(spark, tmp_path):
    """A~B and B~C but A≁C: the within-batch components keep A and drop B
    and C. On replay B still collides with A's stored signature, but C
    collides with nothing stored — only the dropped-id ledger keeps the
    replay from appending it."""
    words = [f"lima11x{i}" for i in range(56)]
    a, b, c = (" ".join(words[k : k + 40]) for k in (0, 8, 16))
    # the fixture is a chain: A-B is a near-dup pair, A-C is not
    assert dedup_ingest_batch(
        docs(spark, [(1, a), (2, b)]), str(tmp_path / "ab"), str(tmp_path / "ab_sigs")
    ) == 1
    assert dedup_ingest_batch(
        docs(spark, [(1, a), (3, c)]), str(tmp_path / "ac"), str(tmp_path / "ac_sigs")
    ) == 2

    corpus = str(tmp_path / "corpus")
    sigs = str(tmp_path / "sigs")
    batch = docs(spark, [(1, a), (2, b), (3, c)])
    assert dedup_ingest_batch(batch, corpus, sigs) == 1
    assert dedup_ingest_batch(batch, corpus, sigs) == 0  # replay
    assert corpus_ids(spark, corpus) == {1}
    assert corpus_ids(spark, sigs) == {1}


def test_streaming_ingest_matches_sequential_batches(spark, tmp_path):
    """Drive the same three document drops through the file-source stream
    and through direct sequential dedup_ingest_batch calls — identical
    final corpora."""
    src = str(tmp_path / "src")
    slices = [
        [(1, BASE), (2, OTHER)],
        [(10, BASE + "!"), (11, THIRD)],  # 10 is a near-dup of 1
        [(20, THIRD.upper()), (21, "one more genuinely novel doc here")],
    ]
    full_schema = "doc_id long, text string, lang string, source string, n_chars long"

    def widen(rows):
        return spark.createDataFrame(
            [(i, t, "en", "s0", len(t)) for i, t in rows], full_schema
        )

    import time

    for k, rows in enumerate(slices):
        widen(rows).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes: the file source orders by timestamp

    stream_dir = str(tmp_path / "stream")
    q = run_doc_ingest(spark, src, stream_dir, max_files_per_trigger=1)
    q.awaitTermination(120)

    batch_dir = str(tmp_path / "batch")
    for rows in slices:
        dedup_ingest_batch(
            widen(rows),
            os.path.join(batch_dir, "corpus"),
            os.path.join(batch_dir, "signatures"),
        )

    got = corpus_ids(spark, os.path.join(stream_dir, "corpus"))
    want = corpus_ids(spark, os.path.join(batch_dir, "corpus"))
    assert got == want
    assert 10 not in got  # the cross-batch near-dup was dropped
    assert {1, 2, 11, 21} <= got


def test_crash_between_appends_converges_on_replay(spark, tmp_path, monkeypatch):
    """Kill the batch after the signature append but before the corpus
    append (the only non-atomic window): the replay must deterministically
    re-keep the same docs — its own stored signatures are self-pairs, not
    drop reasons — and complete the corpus append. Also pins the append
    ORDER: the dropped-id ledger, then sigs, then docs (docs before sigs
    leaves a permanent index gap; sigs before the ledger lets a replay
    re-keep a doc dropped through a within-batch chain)."""
    import options_data_pipeline_spark.streaming.doc_ingest as di

    corpus = str(tmp_path / "corpus")
    sigs = str(tmp_path / "sigs")
    batch = docs(spark, [(1, BASE), (2, BASE.upper()), (3, OTHER)])  # {1,2} cluster

    real_append = di.idempotent_append_batch
    calls = []

    def crash_after_sigs(df, path, **kw):
        out = real_append(df, path, **kw)
        calls.append(path)
        if path == sigs:
            raise RuntimeError("injected crash after signature append")
        return out

    monkeypatch.setattr(di, "idempotent_append_batch", crash_after_sigs)
    try:
        di.dedup_ingest_batch(batch, corpus, sigs)
    except RuntimeError:
        pass
    ledger = sigs + "_dropped"
    assert calls == [ledger, sigs]  # pins the order: ledger, then signatures
    assert corpus_ids(spark, ledger) == {2}  # the cluster's non-rep
    sig_ids = {r.doc_id for r in spark.read.parquet(sigs).select("doc_id").collect()}
    assert sig_ids == {1, 3}  # kept set landed in the index
    assert corpus_ids(spark, corpus) == set()  # corpus append never ran

    monkeypatch.setattr(di, "idempotent_append_batch", real_append)
    n = di.dedup_ingest_batch(batch, corpus, sigs)  # replay
    assert n == 2
    assert corpus_ids(spark, corpus) == {1, 3}
    sig_ids = {r.doc_id for r in spark.read.parquet(sigs).select("doc_id").collect()}
    assert sig_ids == {1, 3}  # no duplicate signature rows either
    assert spark.read.parquet(sigs).count() == 2


def test_compact_flat_sink_lossless_and_resets_file_tax(spark, tmp_path):
    """Compacting the ingest corpus+signature sinks is lossless (same
    rows, same dedup behavior afterwards) and collapses the
    one-file-per-batch accumulation."""
    import os

    from options_data_pipeline_spark.sources.sink import compact_flat_sink

    corpus = str(tmp_path / "corpus")
    sigs = str(tmp_path / "sigs")
    batches = [
        [(1, BASE), (2, OTHER)],
        [(11, THIRD)],
        [(21, "novel doc number twenty one right here")],
        [(31, "and a fourth completely distinct document")],
    ]
    for rows in batches:
        dedup_ingest_batch(docs(spark, rows), corpus, sigs)
    n_files = lambda p: sum(  # noqa: E731
        f.endswith(".parquet") for _, _, fs in os.walk(p) for f in fs
    )
    assert n_files(corpus) >= 4
    pre_ids = corpus_ids(spark, corpus)

    b, a = compact_flat_sink(spark, corpus, min_files=2)
    bs, as_ = compact_flat_sink(spark, sigs, min_files=2)
    assert a < b and as_ < bs
    assert corpus_ids(spark, corpus) == pre_ids  # lossless

    # the loop keeps working against the compacted sinks: replay still
    # appends nothing, novel docs still land, near-dups still drop
    assert dedup_ingest_batch(docs(spark, batches[0]), corpus, sigs) == 0
    n = dedup_ingest_batch(
        docs(spark, [(41, BASE.upper()), (42, "fresh content again")]), corpus, sigs
    )
    assert n == 1 and 42 in corpus_ids(spark, corpus) and 41 not in corpus_ids(spark, corpus)


def test_ingest_time_decontamination_drops_eval_overlap(spark, tmp_path):
    """A batch doc sharing a 4-gram with the eval suite never enters the
    corpus OR the signature index; clean docs are unaffected; a replay
    of the same batch still appends nothing."""
    corpus = str(tmp_path / "corpus")
    sigs = str(tmp_path / "sigs")
    eval_docs = docs(spark, [(900, "quick brown fox jumps high")])

    batch = docs(spark, [(1, BASE), (2, OTHER)])  # BASE shares the 4-gram
    n = dedup_ingest_batch(batch, corpus, sigs, eval_docs=eval_docs)
    assert n == 1 and corpus_ids(spark, corpus) == {2}
    sig_ids = {r.doc_id for r in spark.read.parquet(sigs).select("doc_id").collect()}
    assert sig_ids == {2}  # contaminated doc kept out of the index too

    # replay converges: doc 2 hits the replay guard, doc 1 the decontam gate
    n2 = dedup_ingest_batch(batch, corpus, sigs, eval_docs=eval_docs)
    assert n2 == 0 and corpus_ids(spark, corpus) == {2}


def test_streaming_ingest_with_eval_path(spark, tmp_path):
    """End-to-end stream wiring: eval_path read once, every micro-batch
    decontaminated at the door."""
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    eval_path = str(tmp_path / "eval")
    docs(spark, [(900, "quick brown fox jumps high")]).write.parquet(eval_path)
    docs(spark, [(1, BASE), (2, OTHER), (3, THIRD)]).coalesce(1).write.parquet(src)

    q = run_doc_ingest(spark, src, work, eval_path=eval_path)
    q.awaitTermination(120)
    assert corpus_ids(spark, os.path.join(work, "corpus")) == {2, 3}
