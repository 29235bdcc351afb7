"""Round-10 hardening: the ADVICE r09 items — fail-loud DoReMi grid
underflow, descriptive empty-corpus repair error, O(batch)-not-O(store)
quality-score merge join — plus the round's new index-backed rungs."""

import os

import pytest
from pyspark.sql import functions as F


def test_doremi_underflow_raises_not_silently_drops(spark):
    """When every w_d*p_d(t) rounds to 0 on the 12-dp grid, p_mix(t)=0
    and F.log(0) is NULL — the sum would silently drop the term. The
    guard raises instead (the oracle's ln(0) errors; the engine must
    fail loudly too, not drift below the documented 5e-13 bound)."""
    from options_data_pipeline_spark.functions.doremi import doremi_trajectory

    # tok 'z' has p = 4e-13 in both sources: w*p = 2e-13 rounds to 0 at
    # 12 dp for each source, so p_mix('z') underflows to exactly 0
    model = spark.createDataFrame(
        [
            ("a", "x", 0.9999999999996),
            ("a", "z", 4.0e-13),
            ("b", "y", 0.9999999999996),
            ("b", "z", 4.0e-13),
        ],
        "source string, tok string, p double",
    )
    with pytest.raises(ValueError, match="underflowed the 12-dp grid"):
        doremi_trajectory(model, iters=1)


def test_doremi_healthy_model_still_runs(spark):
    """Guard does not fire on a healthy model (no underflow)."""
    from options_data_pipeline_spark.functions.doremi import doremi_trajectory

    model = spark.createDataFrame(
        [("a", "x", 0.7), ("a", "y", 0.3), ("b", "x", 0.2), ("b", "y", 0.8)],
        "source string, tok string, p double",
    )
    w, excess, entropy = doremi_trajectory(model, iters=2)
    assert abs(sum(w.values()) - 1.0) < 1e-9


def test_repair_kmeans_index_empty_corpus_descriptive_error(spark, tmp_path):
    """A zero-row corpus flags every cell empty with no donor anywhere:
    repair raises a DESCRIPTIVE error, not max()-on-empty's bare
    ValueError."""
    from options_data_pipeline_spark.functions.similarity import (
        repair_kmeans_index,
    )
    from options_data_pipeline_spark.sources import store

    path = str(tmp_path / "kidx_empty")
    # hand-built generation: schema-bearing EMPTY corpus
    gen = store.next_generation(path)
    spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>, cell int"
    ).write.parquet(os.path.join(gen, "corpus"))
    spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])], "cell int, centroid array<double>"
    ).write.parquet(os.path.join(gen, "centroids"))
    store.publish(path, gen)
    with pytest.raises(ValueError, match="zero-row corpus"):
        repair_kmeans_index(spark, path, cells=[0, 1])


def test_span_cut_list_skew_robust_parity(spark):
    """skew_robust=True (agg + AQE-splittable dup-key join) emits
    exactly the cuts of the default count-only-window path — pure plan
    swap, pinned row-for-row on a corpus with shared blocks, full-doc
    dups, and uncut docs."""
    from options_data_pipeline_spark.functions.text import span_cut_list

    block = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    texts = {
        0: "u1 u2 u3 " + block + " v1 v2",
        1: block + " w1 w2 w3 w4",
        2: "unique text q1 q2 q3 q4 q5 q6 q7 q8 q9",
        3: block,
        4: block,
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id bigint, text string"
    )
    key = ["doc_id", "start_tok", "end_tok", "n_tokens"]
    base = sorted(tuple(r) for r in span_cut_list(docs, 8).select(key).collect())
    robust = sorted(
        tuple(r)
        for r in span_cut_list(docs, 8, skew_robust=True).select(key).collect()
    )
    assert base == robust and len(base) > 0


def test_span_cut_list_skew_robust_plan_has_no_gram_window(spark):
    """The skew_robust plan must carry NO window over gram_key — the
    whole point is that dup detection is aggregate+join (AQE-splittable)
    there; the only window left is the doc-grain island merge."""
    from options_data_pipeline_spark.functions.text import span_cut_list

    docs = spark.createDataFrame(
        [(0, "a b c d e f g h i"), (1, "a b c d e f g h j")],
        "doc_id bigint, text string",
    )
    plan = (
        span_cut_list(docs, 8, skew_robust=True)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    windows = [ln for ln in plan.splitlines() if "Window" in ln]
    assert all("gram_key" not in ln for ln in windows), windows


def _contam_corpus(spark):
    """Train docs 10..14 + eval docs 0..1; train doc 10 embeds eval
    doc 0's 4-gram run, train 11 embeds a full eval doc, train 12 is
    clean, 13/14 share a block with EACH OTHER only (not eval — must
    NOT be cut)."""
    leak = "the quick brown fox jumps over lazy dogs"
    rows = [
        (0, leak + " eval tail one"),
        (1, "completely different benchmark prompt here today"),
        (10, "pre1 pre2 " + leak + " post1 post2"),
        (11, "completely different benchmark prompt here today plus extra"),
        (12, "clean training document with no overlap at all"),
        (13, "shared train block aa bb cc dd ee ff"),
        (14, "shared train block aa bb cc dd ee ff gg"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_contamination_cut_list_indexed_parity(spark, tmp_path):
    """Index-backed decontamination == the self-contained form, row for
    row: cuts recovered from STORED position lists, train text never
    re-read at probe time; train-only duplication must not leak in."""
    from options_data_pipeline_spark.functions.text import (
        build_pos_gram_index,
        contamination_cut_list,
        contamination_cut_list_indexed,
    )

    docs = _contam_corpus(spark)
    train = docs.filter(F.col("doc_id") >= 10)
    evalset = docs.filter(F.col("doc_id") < 10)
    self_contained = sorted(
        tuple(r) for r in contamination_cut_list(train, evalset, 4).collect()
    )
    idx = build_pos_gram_index(train, str(tmp_path / "pgidx"), min_tokens=4)
    indexed = sorted(
        tuple(r)
        for r in contamination_cut_list_indexed(idx, evalset, 4).collect()
    )
    assert indexed == self_contained and len(indexed) > 0
    cut_docs = {t[0] for t in indexed}
    assert 10 in cut_docs and 11 in cut_docs
    assert 13 not in cut_docs and 14 not in cut_docs  # train-only dup


def test_pos_gram_index_publish_read_and_idempotent_build(spark, tmp_path):
    from options_data_pipeline_spark.functions.text import (
        build_pos_gram_index,
        read_pos_gram_index,
    )

    path = str(tmp_path / "pgidx")
    with pytest.raises(FileNotFoundError, match="no published index"):
        read_pos_gram_index(spark, path)
    docs = _contam_corpus(spark)
    n1 = build_pos_gram_index(docs, path, min_tokens=4).count()
    # second build is a no-op read of the published generation
    n2 = build_pos_gram_index(docs, path, min_tokens=4).count()
    assert n1 == n2 == read_pos_gram_index(spark, path).count() > 0
    row = (
        read_pos_gram_index(spark, path)
        .filter(F.col("doc_id") == 11)
        .limit(1)
        .collect()[0]
    )
    assert list(row.ps) == sorted(row.ps)


def test_apply_cuts_executes_decontamination_cut_list(spark):
    """The shared apply half executes an eval-collision cut list: the
    leaked block vanishes from kept_text, train-only duplication
    survives (not an eval collision), uncut docs pass through with
    original bytes."""
    from options_data_pipeline_spark.functions.text import (
        apply_cuts,
        contamination_cut_list,
    )

    docs = _contam_corpus(spark)
    train = docs.filter(F.col("doc_id") >= 10)
    evalset = docs.filter(F.col("doc_id") < 10)
    cuts = contamination_cut_list(train, evalset, 4)
    got = {r.doc_id: r for r in apply_cuts(train, cuts).collect()}
    assert set(got) == {10, 11, 12, 13, 14}  # every train doc ledgered
    assert "quick brown fox" not in got[10].kept_text
    assert got[10].kept_text.startswith("pre1 pre2") and got[10].n_cuts == 1
    assert got[11].n_cut_tokens > 0  # full eval doc embedded -> cut
    # clean + train-only-dup docs: untouched, ORIGINAL bytes
    for d in (12, 13, 14):
        assert got[d].kept_text == docs.filter(F.col("doc_id") == d).collect()[0].text
        assert got[d].n_cuts == 0


def _bm25_corpus(spark, extra=()):
    rows = [
        (0, "spark join window stream spark"),
        (1, "spark sql engine with window functions"),
        (2, "totally unrelated text about cooking"),
        (3, "stream stream stream join"),
        (4, "a longer document that mentions spark once among many many other words"),
    ] + list(extra)
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_bm25_indexed_parity_with_in_query_stats(spark, tmp_path):
    """Store-served BM25 == in-query-stats BM25, bit for bit: same
    doc set, same n_matched, same 6-dp-grid score sums."""
    from options_data_pipeline_spark.functions.retrieval import (
        _corpus_stats,
        bm25_score_indexed,
        build_bm25_index,
    )

    docs = _bm25_corpus(spark)
    path = str(tmp_path / "bm25")
    build_bm25_index(docs, path)
    served = {
        r.doc_id: (r.n_matched, r.bm25)
        for r in bm25_score_indexed(
            spark, path, ["spark", "join", "window", "stream"]
        ).collect()
    }
    # in-query twin: the exact q_bm25_rank formulas over the same corpus
    postings, df, stats = _corpus_stats(docs)
    qt = spark.createDataFrame(
        [("spark",), ("join",), ("window",), ("stream",)], "tok string"
    )
    touched = postings.join(F.broadcast(qt), "tok")
    st = stats.select(
        F.col("n_docs").alias("n"),
        (F.col("total_len").cast("double") / F.col("n_docs").cast("double")).alias(
            "avgdl"
        ),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tfp = (F.col("tf").cast("double") * F.lit(2.2)) / (
        F.col("tf").cast("double")
        + F.lit(1.2)
        * (F.lit(0.25) + F.lit(0.75) * F.col("dl").cast("double") / F.col("avgdl"))
    )
    recomputed = {
        r.doc_id: (r.n_matched, r.bm25)
        for r in touched.join(F.broadcast(df.join(qt, "tok")), "tok")
        .crossJoin(F.broadcast(st))
        .select("doc_id", F.round(idf * tfp, 6).cast("decimal(20,6)").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("s").cast("double").alias("bm25"),
        )
        .collect()
    }
    assert served == recomputed and len(served) == 4  # doc 2 matches nothing


def test_bm25_index_version_pinning_and_replay(spark, tmp_path):
    """Scores are pinned to the PUBLISHED stats generation: a replayed
    build is a no-op (same version, same scores); a republish after
    corpus growth swaps the pointer and the served ranking moves."""
    from options_data_pipeline_spark.functions.retrieval import (
        bm25_score_indexed,
        build_bm25_index,
        publish_bm25_index,
        read_bm25_index,
    )

    docs = _bm25_corpus(spark)
    path = str(tmp_path / "bm25")
    r1 = build_bm25_index(docs, path)
    s1 = {r.doc_id: r.bm25 for r in bm25_score_indexed(spark, path, ["spark"]).collect()}
    r2 = build_bm25_index(docs, path)  # replay: no new version
    assert r2["version"] == r1["version"]
    s2 = {r.doc_id: r.bm25 for r in bm25_score_indexed(spark, path, ["spark"]).collect()}
    assert s2 == s1
    # corpus grows (many new docs without 'spark' -> idf of 'spark' rises)
    grown = _bm25_corpus(
        spark, extra=[(10 + i, f"filler doc number {i}") for i in range(20)]
    )
    r3 = publish_bm25_index(grown, path)
    assert r3["version"] != r1["version"]
    assert r3["n_docs"] == r1["n_docs"] + 20
    _, _, _, live = read_bm25_index(spark, path)
    assert live == r3["version"]
    s3 = {r.doc_id: r.bm25 for r in bm25_score_indexed(spark, path, ["spark"]).collect()}
    assert set(s3) == set(s1) and all(s3[d] > s1[d] for d in s1)


def test_bm25_incremental_merge_equals_rebuild(spark, tmp_path):
    """merge_bm25_index over a doc batch == a full rebuild over the
    union, BIT FOR BIT: postings row set, df table, stats ints, and the
    served scores for a live query all identical; a replayed batch
    publishes nothing."""
    from options_data_pipeline_spark.functions.retrieval import (
        bm25_score_indexed,
        build_bm25_index,
        merge_bm25_index,
        read_bm25_index,
    )

    docs = _bm25_corpus(spark)
    first = docs.filter("doc_id < 3")
    rest = docs.filter("doc_id >= 2")  # overlaps doc 2
    inc_path = str(tmp_path / "bm25_inc")
    ref_path = str(tmp_path / "bm25_ref")
    build_bm25_index(first, inc_path)
    r = merge_bm25_index(rest, inc_path)
    assert r["fresh_docs"] == 2  # doc 2 already indexed
    build_bm25_index(docs, ref_path)
    for sub in (0, 1, 2):  # postings, df, stats
        got = sorted(map(tuple, read_bm25_index(spark, inc_path)[sub].collect()))
        want = sorted(map(tuple, read_bm25_index(spark, ref_path)[sub].collect()))
        assert got == want, f"store part {sub} diverged"
    terms = ["spark", "join", "window", "stream"]
    s_inc = sorted(map(tuple, bm25_score_indexed(spark, inc_path, terms).collect()))
    s_ref = sorted(map(tuple, bm25_score_indexed(spark, ref_path, terms).collect()))
    assert s_inc == s_ref
    # full replay: nothing fresh, NO new version published
    v_before = read_bm25_index(spark, inc_path)[3]
    rr = merge_bm25_index(rest, inc_path)
    assert rr["fresh_docs"] == 0 and rr["version"] == v_before


def test_streaming_bm25_index_matches_oneshot(spark, tmp_path):
    """Stream docs through the foreachBatch merge in micro-batches; the
    final store serves the same scores as a one-shot build."""
    from options_data_pipeline_spark.functions.retrieval import (
        bm25_score_indexed,
        build_bm25_index,
        streaming_bm25_index,
    )

    docs = _bm25_corpus(spark)
    path = str(tmp_path / "bm25_s")
    ref = str(tmp_path / "bm25_sref")
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    build_bm25_index(docs.filter("doc_id = 0"), path)
    docs.filter("doc_id > 0").repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_bm25_index(stream, path, ck).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    build_bm25_index(docs, ref)
    terms = ["spark", "join", "window", "stream"]
    got = sorted(map(tuple, bm25_score_indexed(spark, path, terms).collect()))
    want = sorted(map(tuple, bm25_score_indexed(spark, ref, terms).collect()))
    assert got == want and got


def test_merge_pos_gram_index_parity_and_replay(spark, tmp_path):
    """Growing the train corpus through the positioned-index merge
    keeps indexed decontamination exactly equal to the self-contained
    form over the grown corpus; replay merges nothing."""
    from options_data_pipeline_spark.functions.text import (
        build_pos_gram_index,
        contamination_cut_list,
        contamination_cut_list_indexed,
        merge_pos_gram_index,
        read_pos_gram_index,
    )

    docs = _contam_corpus(spark)
    train0 = docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") <= 12))
    growth = docs.filter(F.col("doc_id") >= 12)  # overlaps doc 12
    evalset = docs.filter(F.col("doc_id") < 10)
    path = str(tmp_path / "pgidx")
    build_pos_gram_index(train0, path, min_tokens=4)
    r = merge_pos_gram_index(growth, path, min_tokens=4)
    assert r["batch_docs"] == 3 and r["fresh_docs"] == 2  # doc 12 deduped
    rr = merge_pos_gram_index(growth, path, min_tokens=4)  # replay
    assert rr["fresh_docs"] == 0 and rr["new_rows"] == 0
    idx = read_pos_gram_index(spark, path)
    got = sorted(
        tuple(r) for r in contamination_cut_list_indexed(idx, evalset, 4).collect()
    )
    train_all = docs.filter(F.col("doc_id") >= 10)
    want = sorted(
        tuple(r) for r in contamination_cut_list(train_all, evalset, 4).collect()
    )
    assert got == want and got


def test_merge_cluster_map_bridges_components_and_replays_zero(spark, tmp_path):
    """Incremental CC: a batch edge bridging two stored clusters
    relabels BOTH to the merged min; a new doc that is its component's
    min becomes the label; untouched partitions hard-link; a replayed
    merge changes nothing and keeps the version."""
    from options_data_pipeline_spark.functions.dedupe import (
        build_cluster_map,
        merge_cluster_map,
        read_cluster_map,
    )

    pairs0 = spark.createDataFrame(
        # cluster A = {10, 11, 12}; cluster B = {20, 21}; C = {30, 31}
        [(10, 11), (11, 12), (20, 21), (30, 31)],
        "doc_a bigint, doc_b bigint",
    )
    path = str(tmp_path / "cmap")
    build_cluster_map(pairs0, path)
    base = {r.doc_id: r.label for r in read_cluster_map(spark, path).collect()}
    assert base == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 30}

    new_pairs = spark.createDataFrame(
        # batch doc 100 bridges A and B; batch doc 5 joins C and IS its
        # new min; batch pair (40, 41) is a brand-new component
        [(12, 100), (100, 21), (5, 30), (40, 41)],
        "doc_a bigint, doc_b bigint",
    )
    rep = merge_cluster_map(new_pairs, path)
    got = {r.doc_id: r.label for r in read_cluster_map(spark, path).collect()}
    assert got == {
        10: 10, 11: 10, 12: 10, 20: 10, 21: 10, 100: 10,
        30: 5, 31: 5, 5: 5,
        40: 40, 41: 40,
    }
    assert rep["relabeled"] >= 4  # B's rows + C's rows moved
    assert rep["new_docs"] == 4  # 100, 5, 40, 41
    assert rep["parts_linked"] > 0  # untouched partitions hard-linked
    rep2 = merge_cluster_map(new_pairs, path)  # replay
    assert rep2["relabeled"] == 0 and rep2["new_docs"] == 0
    assert rep2["version"] == rep["version"]
    assert {r.doc_id: r.label for r in read_cluster_map(spark, path).collect()} == got


def test_quality_merge_join_is_store_prefiltered_broadcast_anti(spark):
    """The score-store dedupe join must be O(batch), not O(store): the
    stored side is semi-join pre-filtered to the batch's doc_ids and
    the anti-join builds (broadcasts) that bounded subset — never a
    full-store shuffle."""
    from options_data_pipeline_spark.streaming.quality_stream import (
        _fresh_against_store,
    )

    scored = spark.createDataFrame(
        [(1, "v_1"), (2, "v_1")], "doc_id bigint, weight_version string"
    )
    seen = spark.createDataFrame(
        [(1, "v_1"), (9, "v_1")], "doc_id bigint, weight_version string"
    )
    fresh = _fresh_against_store(scored, seen)
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    # anti side: broadcast build of the pre-filtered store
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # pre-filter: the store is semi-reduced by the batch key set
    assert "LeftSemi" in plan
    assert [r.doc_id for r in fresh.collect()] == [2]


def test_cluster_map_empty_graph_then_grows(spark, tmp_path):
    """A pairless corpus publishes a VALID empty map (every doc its own
    singleton); the first real batch then merges normally."""
    from options_data_pipeline_spark.functions.dedupe import (
        build_cluster_map,
        merge_cluster_map,
        read_cluster_map,
    )

    path = str(tmp_path / "cmap_empty")
    empty = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    assert build_cluster_map(empty, path).count() == 0
    assert read_cluster_map(spark, path).count() == 0
    rep = merge_cluster_map(
        spark.createDataFrame([(7, 3)], "doc_a bigint, doc_b bigint"), path
    )
    assert rep["new_docs"] == 2 and rep["relabeled"] == 0
    got = {r.doc_id: r.label for r in read_cluster_map(spark, path).collect()}
    assert got == {3: 3, 7: 3}
