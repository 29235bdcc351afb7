"""The shared generation commit (sources/store.py): naming, publish and
cleanup, first-publisher-wins for write-once builds, and a crash at the
publish step across every pointer-published store."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pytest

from options_data_pipeline_spark.sources import store

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _gens(path):
    return sorted(d for d in os.listdir(path) if d.startswith("v_"))


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_generations_named_in_sequence_and_cleanup_keeps_two(tmp_path):
    path = str(tmp_path / "s")
    assert store.current(path) is None and store.previous(path) is None
    names = []
    for i in range(3):
        gen = store.next_generation(path)
        assert os.path.basename(gen).startswith(f"v_{i}-")
        os.makedirs(gen)
        store.publish(path, gen)
        names.append(os.path.basename(gen))
    assert os.path.basename(store.current(path)) == names[2]
    assert os.path.basename(store.previous(path)) == names[1]
    assert _gens(path) == sorted(names[1:])  # current + previous only
    with pytest.raises(FileNotFoundError, match="reader: no published index"):
        store.require(str(tmp_path / "missing"), "reader")


def test_first_publish_is_exclusive(tmp_path):
    path = str(tmp_path / "s")
    a, b = store.next_generation(path), store.next_generation(path)
    os.makedirs(a)
    os.makedirs(b)
    assert store.publish(path, a, first=True)
    assert not store.publish(path, b, first=True)  # pointer already there
    assert store.current(path) == a
    assert _gens(path) == sorted(map(os.path.basename, (a, b)))  # no cleanup
    assert [n for n in os.listdir(path) if n.startswith(".")] == []


def test_build_once_refuses_foreign_data_unless_overwrite(tmp_path):
    path = str(tmp_path / "s")
    os.makedirs(path)
    open(os.path.join(path, "part-0.parquet"), "w").close()

    def write(gen):
        os.makedirs(gen)

    with pytest.raises(RuntimeError, match="overwrite=True"):
        store.build_once(path, write)
    gen = store.build_once(path, write, overwrite=True)
    assert store.current(path) == gen
    assert os.path.exists(os.path.join(path, "part-0.parquet"))  # untouched


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_TEXTS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "a completely different document about distributed engines and shuffles"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank again"),
]


@pytest.mark.parametrize("kind", ["pq", "gram"])
def test_concurrent_first_build_one_generation_survives(
    spark, tmp_path, monkeypatch, kind
):
    """Two builders race on one empty path: the second one commits
    between the first one's write and its publish. The first loses the
    exclusive pointer create, drops its own generation and serves the
    winner's — exactly one generation survives and both calls return
    the same rows."""
    from options_data_pipeline_spark.functions.similarity import build_pq_index
    from options_data_pipeline_spark.functions.text import build_gram_index

    path = str(tmp_path / kind)
    if kind == "pq":
        emb = spark.read.parquet(EMB).filter("vec_id < 60")
        build = lambda: build_pq_index(emb, path)  # noqa: E731
    else:
        docs = _docs(spark, _TEXTS)
        build = lambda: build_gram_index(docs, path, min_tokens=4)  # noqa: E731

    real_publish = store.publish
    raced = {}

    def racing_publish(p, gen, first=False):
        if not raced:
            raced["started"] = True
            raced["winner"] = _rows(build())  # commits first
            raced["gen"] = store.current(path)
        return real_publish(p, gen, first)

    monkeypatch.setattr(store, "publish", racing_publish)
    loser = _rows(build())
    assert loser == raced["winner"] and len(loser) > 0
    assert store.current(path) == raced["gen"]
    assert _gens(path) == [os.path.basename(raced["gen"])]


def _events(spark, day, users):
    t0 = datetime(2024, 1, 1) + timedelta(days=day)
    return spark.createDataFrame(
        [(et, t0 + timedelta(minutes=u), u) for et in ("click", "view") for u in users],
        "event_type string, ts timestamp, user_id bigint",
    )


def _case_bm25(spark, p):
    from options_data_pipeline_spark.functions import retrieval as r

    def read():
        postings, df, stats, _ = r.read_bm25_index(spark, p)
        return (_rows(postings), _rows(df), _rows(stats))

    return (
        lambda: r.build_bm25_index(_docs(spark, _TEXTS[:2]), p),
        lambda: r.merge_bm25_index(_docs(spark, _TEXTS), p),
        read,
    )


def _case_gram(spark, p):
    from options_data_pipeline_spark.functions import text as t

    return (
        lambda: t.build_gram_index(_docs(spark, _TEXTS[:2]), p, min_tokens=4),
        lambda: t.build_gram_index(_docs(spark, _TEXTS), p, 4, overwrite=True),
        lambda: _rows(t.read_gram_index(spark, p)),
    )


def _case_pos_gram(spark, p):
    from options_data_pipeline_spark.functions import text as t

    return (
        lambda: t.build_pos_gram_index(_docs(spark, _TEXTS[:2]), p),
        lambda: t.build_pos_gram_index(_docs(spark, _TEXTS), p, overwrite=True),
        lambda: _rows(t.read_pos_gram_index(spark, p)),
    )


def _case_quality(spark, p):
    from options_data_pipeline_spark.streaming import quality_stream as q

    docs = spark.createDataFrame(
        [(i, f"word{i} " * (i % 5 + 3), i % 2) for i in range(12)],
        "doc_id long, text string, label int",
    )
    return (
        lambda: q.publish_quality_weights(docs.filter("doc_id < 8"), p, iters=2),
        lambda: q.publish_quality_weights(docs, p, iters=2),
        lambda: q.read_quality_weights(spark, p)[0],
    )


def _case_mixture(spark, p):
    from options_data_pipeline_spark.streaming import mixture_stream as m

    docs = spark.createDataFrame(
        [(i, "web" if i % 2 else "code", f"tok{i % 3} tok{i % 4} shared")
         for i in range(8)],
        "doc_id long, source string, text string",
    )

    def setup():
        m.mixture_ingest_batch(docs.filter("doc_id < 4"), 0, p)
        m.compact_mixture_model(spark, p)
        m.mixture_ingest_batch(docs.filter("doc_id >= 4"), 1, p)

    return (
        setup,
        lambda: m.compact_mixture_model(spark, p),
        lambda: _rows(m.read_mixture_model(spark, p)),
    )


def _case_drift(spark, p):
    from options_data_pipeline_spark.streaming import drift_stream as d

    ev = spark.createDataFrame(
        [("click" if i % 3 else "view", float(i * i % 17)) for i in range(40)],
        "event_type string, value double",
    )

    def read():
        rng, cells, _ = d._read_reference(spark, p)
        return (_rows(rng), _rows(cells))

    return (
        lambda: d.publish_reference(ev.limit(20), p),
        lambda: d.publish_reference(ev, p),
        read,
    )


def _case_bitmap(spark, p):
    from options_data_pipeline_spark.streaming import bitmap_stream as b

    return (
        lambda: b.bitmap_merge_batch(_events(spark, 0, range(5)), p),
        lambda: b.bitmap_merge_batch(_events(spark, 1, range(3, 9)), p),
        lambda: _rows(b.bitmap_segments_read(spark, p)),
    )


def _case_hll(spark, p):
    from options_data_pipeline_spark.streaming import hll_stream as h

    return (
        lambda: h.hll_merge_batch(_events(spark, 0, range(5)), p),
        lambda: h.hll_merge_batch(_events(spark, 1, range(3, 9)), p),
        lambda: _rows(h.hll_registers_read(spark, p)),
    )


def _case_chunk(spark, p):
    from options_data_pipeline_spark.streaming import chunk_stream as c

    return (
        lambda: c.chunk_store_merge(_docs(spark, _TEXTS[:1]), p),
        lambda: c.chunk_store_merge(_docs(spark, _TEXTS), p),
        lambda: _rows(c.chunk_store_read(spark, p)),
    )


def _case_pq(spark, p):
    from options_data_pipeline_spark.functions.similarity import build_pq_index

    emb = spark.read.parquet(EMB)
    return (
        lambda: build_pq_index(emb.filter("vec_id < 40"), p),
        lambda: build_pq_index(emb.filter("vec_id < 80"), p, overwrite=True),
        lambda: _rows(spark.read.parquet(store.current(p))),
    )


def _case_lsh(spark, p):
    from options_data_pipeline_spark.functions import dedupe as dd

    def setup():
        dd.build_lsh_index(_docs(spark, _TEXTS), p)
        dd.append_lsh_index(_docs(spark, _TEXTS[:1]), p)  # replay duplicate

    return (
        setup,
        lambda: dd.compact_lsh_index(spark, p),
        lambda: _rows(dd.read_lsh_index(spark, p)),
    )


_CASES = {
    "bm25": _case_bm25,
    "gram": _case_gram,
    "pos_gram": _case_pos_gram,
    "quality_weights": _case_quality,
    "mixture": _case_mixture,
    "drift_reference": _case_drift,
    "bitmap": _case_bitmap,
    "hll": _case_hll,
    "chunk": _case_chunk,
    "pq": _case_pq,
    "lsh": _case_lsh,
}


@pytest.mark.parametrize(
    "kind",
    [
        pytest.param(k, marks=pytest.mark.slow) if k == "bm25" else k  # ~23 s
        for k in sorted(_CASES)
    ],
)
def test_crash_at_publish_keeps_previous_generation(spark, tmp_path, monkeypatch, kind):
    """The store's publish raises after the new generation is written:
    readers keep the previous generation with identical rows, and a
    retry converges to what an uncrashed run produces."""
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    setup, op, read = _CASES[kind](spark, crashed)
    setup()
    before = read()
    gen = store.current(crashed)

    def boom(*a, **kw):
        raise RuntimeError("injected crash at publish")

    monkeypatch.setattr(store, "publish", boom)
    with pytest.raises(RuntimeError, match="injected"):
        op()
    monkeypatch.undo()
    assert store.current(crashed) == gen
    assert read() == before

    op()  # retry
    c_setup, c_op, c_read = _CASES[kind](spark, clean)
    c_setup()
    c_op()
    assert read() == c_read()
