"""Round-9 operators: recluster EXECUTION for the learned-IVF index —
the decide→repair half of the maintenance loop `ivf_recluster_audit`
left open (audit→decide only). Reference parity note: the reference has
no vector index at all; this is extension-track scale infrastructure
(SURVEY.md §2.10), so every contract here is pinned by these tests plus
the oracle-checked `ivf_recluster_repair` registry twin."""

import os

import pytest
from pyspark.sql import functions as F

from options_data_pipeline_spark.sources import store


def _planted_vectors(spark):
    """14-vector plant with one DEAD cell under first-3-by-id init
    (iters=0): v2 duplicates v0, so cell 2 never wins an argmin —
    `empty` fires while no cell is hot (7/7/0 of 14)."""
    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [0.2, 0.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # dup of v0 -> cell 2 empty
    ]
    rows += [(3 + j, [0.01 * (j + 1), 0.0, 0.0, 0.0]) for j in range(5)]  # c0
    rows += [(8 + j, [9.7 + 0.1 * j, 0.0, 0.0, 0.0]) for j in range(6)]  # c1
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_audit_kmeans_index_verdicts(spark, tmp_path):
    from options_data_pipeline_spark.functions.similarity import (
        audit_kmeans_index,
        build_kmeans_index,
    )

    path = str(tmp_path / "kidx")
    build_kmeans_index(_planted_vectors(spark), path, k=3, iters=0)
    verd = {r.cell: r for r in audit_kmeans_index(spark, path).collect()}
    assert [verd[c].n_vecs for c in (0, 1, 2)] == [7, 7, 0]
    assert not any(verd[c].hot for c in (0, 1, 2))  # 3*7 < 2*14
    assert verd[2].empty and verd[2].needs_recluster
    assert not verd[0].needs_recluster and not verd[1].needs_recluster


def test_repair_kmeans_index_rebalances_and_publishes(spark, tmp_path):
    """The full decide->repair loop on the planted dead cell: the
    only-empty verdict drafts the largest cell (tie -> lower id = 0) as
    donor, re-seeds cell 2 at the donor member farthest from centroid 0,
    runs one joint Lloyd step, reassigns globally, rewrites ONLY the
    affected cells, hard-links the untouched cell 1, and publishes via
    the versioned generation pointer. Post-repair: audit fully clears, and
    the stored assignment equals a one-shot assignment under the
    PUBLISHED centroids (the build invariant, preserved)."""
    from options_data_pipeline_spark.functions.similarity import (
        audit_kmeans_index,
        build_kmeans_index,
        repair_kmeans_index,
        with_cell,
    )

    vecs = _planted_vectors(spark)
    path = str(tmp_path / "kidx")
    build_kmeans_index(vecs, path, k=3, iters=0)
    gen0 = store.current(path)

    report = repair_kmeans_index(spark, path)
    assert report["flagged_cells"] == [0, 2]  # empty 2 + drafted donor 0
    assert report["cells_reseeded"] == [2]
    assert report["cells_linked"] == [1]  # untouched cell: linked, not rewritten
    assert report["rows_moved"] == 3  # x in {0.03, 0.04, 0.05} -> cell 2
    assert report["generation"] is not None

    # published through the pointer as a new generation
    cur = store.current(path)
    assert cur != gen0 and os.path.basename(cur) == report["generation"]
    assert os.path.isdir(os.path.join(cur, "corpus"))

    # linked partition shares inodes with nothing stale (files exist, readable)
    stored = spark.read.parquet(os.path.join(cur, "corpus"))
    counts = {r.cell: r.n for r in stored.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 4, 1: 7, 2: 3}

    # verdicts all clear after repair
    verd = audit_kmeans_index(spark, path).collect()
    assert not any(r.needs_recluster for r in verd)

    # build invariant: stored assignment == one-shot assignment under the
    # PUBLISHED centroid table (so any probe sees exactly the one-shot index)
    cent_rows = spark.read.parquet(os.path.join(cur, "centroids")).collect()
    cprime = [r.centroid for r in sorted(cent_rows, key=lambda r: r.cell)]
    ref = with_cell(vecs, cprime)
    assert {(r.vec_id, r.cell) for r in stored.select("vec_id", "cell").collect()} == {
        (r.vec_id, r.cell) for r in ref.select("vec_id", "cell").collect()
    }

    # append still lands in the repaired generation through the resolver
    from options_data_pipeline_spark.functions.similarity import append_kmeans_index

    batch = spark.createDataFrame(
        [(100, [9.9, 0.0, 0.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    assert append_kmeans_index(batch, path) == 1
    assert spark.read.parquet(os.path.join(cur, "corpus")).count() == 15


def test_repair_until_clean_converges_and_validates(spark, tmp_path):
    """The operational loop: on the planted dead cell ONE round clears
    the audit; a healthy index reports clean with zero rounds; flagged
    cells outside the index's range are rejected."""
    from options_data_pipeline_spark.functions.similarity import (
        build_kmeans_index,
        repair_kmeans_index,
        repair_kmeans_index_until_clean,
    )

    vecs = _planted_vectors(spark)
    path = str(tmp_path / "kidx")
    build_kmeans_index(vecs, path, k=3, iters=0)
    out = repair_kmeans_index_until_clean(spark, path)
    assert out["clean"] and len(out["rounds"]) == 1
    again = repair_kmeans_index_until_clean(spark, path)
    assert again == {"rounds": [], "clean": True}  # already healthy
    with pytest.raises(ValueError, match="outside"):
        repair_kmeans_index(spark, path, cells=[7])


def test_repair_splits_lone_hot_cell_via_recipient(spark, tmp_path):
    """A hot cell holding TWO separated masses with no empty partner
    was a repair fixpoint (one flagged centroid -> its mean moves,
    nothing reassigns, rows_moved == 0). The recipient rule drafts the
    smallest healthy cell, re-seeds it inside the hot mass, and the
    joint step splits the masses — the audit clears."""
    from options_data_pipeline_spark.functions.similarity import (
        append_kmeans_index,
        audit_kmeans_index,
        build_kmeans_index,
        repair_kmeans_index_until_clean,
    )

    def vecs(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    base = [(i, [0.05 * i, 0.0, 0.0, 0.0]) for i in range(6)]
    base += [(10 + i, [10.0 + 0.05 * i, 0.0, 0.0, 0.0]) for i in range(6)]
    path = str(tmp_path / "kidx")
    build_kmeans_index(vecs(base), path, k=3, iters=1)
    # drift: a new mass lands in the cell already holding the 10-cluster
    append_kmeans_index(
        vecs([(100 + j, [27.0 + 0.05 * j, 0.0, 0.0, 0.0]) for j in range(8)]), path
    )
    before = {r.cell: r for r in audit_kmeans_index(spark, path).collect()}
    assert any(r.hot for r in before.values())
    assert not any(r.empty for r in before.values())  # the stall precondition

    out = repair_kmeans_index_until_clean(spark, path)
    assert out["clean"], out
    assert any(r["cells_reseeded"] for r in out["rounds"])  # recipient drafted
    after = audit_kmeans_index(spark, path).collect()
    assert not any(r.needs_recluster for r in after)


def test_repair_noop_when_healthy(spark, tmp_path):
    """Nothing flagged -> the index is not touched at all: same
    published generation, no new one."""
    from options_data_pipeline_spark.functions.similarity import (
        build_kmeans_index,
        repair_kmeans_index,
    )

    rows = [(i, [float(i % 2) * 10.0 + 0.01 * i, 0.0]) for i in range(8)]
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    path = str(tmp_path / "kidx")
    build_kmeans_index(vecs, path, k=2, iters=1)
    gen = store.current(path)
    report = repair_kmeans_index(spark, path)
    assert report["generation"] is None and report["flagged_cells"] == []
    assert store.current(path) == gen
    assert [d for d in os.listdir(path) if d.startswith("v_")] == [os.path.basename(gen)]


def test_repair_crash_before_publish_leaves_live_index(spark, tmp_path, monkeypatch):
    """Crash injection on the publish window: a repair that dies BEFORE
    the pointer swap leaves the live index fully readable with its
    original assignments; the retry succeeds and the orphaned staging
    generation is GC'd by the successful publish."""
    from options_data_pipeline_spark.functions.similarity import (
        build_kmeans_index,
        repair_kmeans_index,
    )

    vecs = _planted_vectors(spark)
    path = str(tmp_path / "kidx")
    build_kmeans_index(vecs, path, k=3, iters=0)
    gen0 = store.current(path)
    before = {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(os.path.join(gen0, "corpus"))
        .select("vec_id", "cell")
        .collect()
    }

    real_publish = store.publish

    def boom(*a, **kw):
        raise OSError("injected crash before pointer swap")

    monkeypatch.setattr(store, "publish", boom)
    with pytest.raises(OSError, match="injected"):
        repair_kmeans_index(spark, path)
    monkeypatch.setattr(store, "publish", real_publish)

    # live index untouched: still the built generation, same assignments
    assert store.current(path) == gen0
    after = {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(os.path.join(gen0, "corpus"))
        .select("vec_id", "cell")
        .collect()
    }
    assert after == before
    orphans = [
        d for d in os.listdir(path)
        if d.startswith("v_") and d != os.path.basename(gen0)
    ]
    assert len(orphans) == 1  # the crashed staging generation

    # retry repairs for real; the orphan is GC'd by the publish, the
    # built generation stays as the previous one
    report = repair_kmeans_index(spark, path)
    assert report["generation"] is not None
    gens = sorted(d for d in os.listdir(path) if d.startswith("v_"))
    assert gens == sorted([os.path.basename(gen0), report["generation"]])


def _cut_list_mirror(texts: dict[int, str], k: int = 8):
    """Reference implementation of the cut-list semantics in plain
    Python: sliding k-grams, distinct-doc>1 duplication, coverage merge
    of overlapping/adjacent gram intervals into maximal runs."""
    grams: dict[int, list[str]] = {}
    for did, t in texts.items():
        toks = t.lower().split()
        grams[did] = [
            " ".join(toks[p : p + k]) for p in range(len(toks) - k + 1)
        ] if len(toks) >= k else []
    docs_per_gram: dict[str, set[int]] = {}
    for did, gs in grams.items():
        for g in set(gs):
            docs_per_gram.setdefault(g, set()).add(did)
    cuts = set()
    for did, gs in grams.items():
        dup_pos = [p for p, g in enumerate(gs) if len(docs_per_gram[g]) > 1]
        start = prev = None
        for p in dup_pos:
            if start is None:
                start = prev = p
            elif p > prev + k:
                cuts.add((did, start, prev + k))
                start = prev = p
            else:
                prev = p
        if start is not None:
            cuts.add((did, start, prev + k))
    return cuts


def test_span_cut_list_planted_blocks(spark):
    """Cuts land exactly on the planted shared blocks: offset block,
    block at doc start, two blocks split by a short gap -> two cuts;
    within-doc-only repetition and sub-K docs emit nothing."""
    from options_data_pipeline_spark.functions.text import span_cut_list

    block = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    block_a = "a1 a2 a3 a4 a5 a6 a7 a8"
    block_b = "b1 b2 b3 b4 b5 b6 b7 b8"
    texts = {
        0: "u1 u2 u3 " + block + " v1 v2",
        1: block + " w1 w2 w3 w4",
        2: "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12 q13 q14 q15 q16 q17 q18 q19 q20",
        3: "x1 x2 x3 x4 x5 x6 x7",  # sub-K: no grams at all
        4: "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8 z1 z2 z3",  # within-doc only
        5: block_a + " g1 g2 " + block_b,
        6: block_a + " h1 h2 h3 " + block_b,
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id bigint, text string"
    )
    got = {
        (r.doc_id, r.start_tok, r.end_tok)
        for r in span_cut_list(docs, min_tokens=8).collect()
    }
    assert got == _cut_list_mirror(texts)
    # the planted expectations, spelled out
    assert (0, 3, 15) in got and (1, 0, 12) in got
    assert (5, 0, 8) in got and (5, 10, 18) in got  # two cuts, gap preserved
    assert not any(d in (2, 3, 4) for d, _, _ in got)


def test_span_cut_list_reassembly_properties(spark):
    """On real corpus data the cut list is applicable as-is: every cut
    is within bounds, cuts per doc are non-overlapping AND separated by
    at least one kept token (maximality — touching runs would have
    merged), and each cut is at least K tokens long."""
    from options_data_pipeline_spark.functions.text import span_cut_list

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ntoks = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id",
            F.size(F.expr("regexp_extract_all(lower(text), '\\\\S+', 0)")).alias("n"),
        ).collect()
    }
    cuts: dict[int, list[tuple[int, int]]] = {}
    rows = span_cut_list(docs, min_tokens=8).collect()
    assert rows  # sf0.001 documents do contain cross-doc boilerplate
    for r in rows:
        assert 0 <= r.start_tok < r.end_tok <= ntoks[r.doc_id]
        assert r.n_tokens == r.end_tok - r.start_tok >= 8
        cuts.setdefault(r.doc_id, []).append((r.start_tok, r.end_tok))
    for did, spans in cuts.items():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 > e1  # disjoint, with >=1 kept token between cuts


def test_apply_cut_list_reassembles_kept_text(spark):
    """apply_cut_list executes the cuts: kept_text equals the Python
    mirror's reassembly (tokens outside every cut, order preserved),
    the ledger is arithmetic-consistent, a doc duplicated IN FULL keeps
    empty text, and untouched docs pass through verbatim."""
    from options_data_pipeline_spark.functions.text import apply_cut_list

    block = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    texts = {
        0: "u1 u2 u3 " + block + " v1 v2",
        1: block + " w1 w2 w3 w4",
        2: "unique text q1 q2 q3 q4 q5 q6 q7 q8 q9",
        3: block,  # duplicated in full -> fully cut
        4: block,
        # uncut AND unnormalized: casing + double spaces must survive
        5: "Mixed  CASE   uncut r1 r2 r3 r4 r5 r6",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id bigint, text string"
    )
    got = {r.doc_id: r for r in apply_cut_list(docs, min_tokens=8).collect()}
    mirror_cuts = _cut_list_mirror(texts)
    for did, t in texts.items():
        toks = t.lower().split()
        cut = sorted((s, e) for d, s, e in mirror_cuts if d == did)
        kept = [
            tok
            for i, tok in enumerate(toks)
            if not any(s <= i < e for s, e in cut)
        ]
        r = got[did]
        if cut:
            assert r.kept_text == " ".join(kept)
        else:
            # byte-preservation contract: uncut docs pass through VERBATIM
            assert r.kept_text == t
        assert r.n_tokens == len(toks)
        assert r.n_cuts == len(cut)
        assert r.n_cut_tokens == sum(e - s for s, e in cut)
        assert r.n_tokens - r.n_cut_tokens == len(kept)
    assert got[3].kept_text == "" and got[3].n_cut_tokens == got[3].n_tokens
    assert got[2].kept_text == texts[2]
    assert got[5].kept_text == texts[5]


def test_doremi_planted_skew_upweights_underserved_domain(spark):
    """A domain whose token distribution sits far from the mixture
    (disjoint vocabulary -> large KL(p̂_d ‖ p_mix)) must GAIN weight;
    near-identical domains fall below uniform. Weights stay on the
    simplex (12-dp grid tolerance)."""
    from options_data_pipeline_spark.functions.doremi import (
        domain_token_model,
        doremi_trajectory,
    )

    common = "the quick brown fox jumps over the lazy dog again and again "
    rows = []
    for i in range(10):
        rows.append((f"a{i}", "srcA", common + f"alpha{i % 3}"))
        rows.append((f"b{i}", "srcB", common + f"alpha{(i + 1) % 3}"))
        rows.append((f"c{i}", "srcC", f"zeta{i % 4} omega{i % 5} " * 6))
    docs = spark.createDataFrame(rows, "doc_id string, source string, text string")
    model = domain_token_model(docs).localCheckpoint(eager=True)
    w, excess, entropy = doremi_trajectory(model)
    assert w["srcC"] > 1.0 / 3 > w["srcA"]
    assert w["srcC"] > 1.0 / 3 > w["srcB"]
    assert abs(sum(w.values()) - 1.0) < 1e-9
    assert all(v > 0 for v in w.values())
    # the planted outlier still carries the largest residual excess
    assert excess["srcC"] > excess["srcA"] and excess["srcC"] > excess["srcB"]


def test_gram_index_incremental_cut_parity(spark, tmp_path):
    """The incremental cut list against the stored gram index equals
    the self-contained cut list over (corpus ∪ batch) restricted to
    batch docs — same rows, same boundaries — without the probe ever
    tokenizing corpus text (it only joins the index)."""
    from options_data_pipeline_spark.functions.text import (
        build_gram_index,
        incremental_cut_list,
        span_cut_list,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter("doc_id % 10 < 9")
    batch = docs.filter("doc_id % 10 = 9")
    idx = build_gram_index(corpus, str(tmp_path / "gidx"))
    got = sorted(map(tuple, incremental_cut_list(batch, idx).collect()))
    want = sorted(
        map(tuple, span_cut_list(docs).filter("doc_id % 10 = 9").collect())
    )
    assert got == want


def test_contamination_cut_list_planted_leak(spark):
    """Span decontamination cuts exactly the eval-shared ranges: a
    train doc embedding an eval 6-token phrase loses precisely that
    span (4-gram coverage = the phrase's full extent), clean train docs
    emit nothing, and eval-internal duplication alone never cuts."""
    from options_data_pipeline_spark.functions.text import contamination_cut_list

    leak = "secret eval phrase tokens here now"
    evalset = spark.createDataFrame(
        [(0, "eval intro " + leak + " eval outro"), (1, "other eval text entirely")],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [
            (100, "t1 t2 t3 " + leak + " t4 t5"),
            (101, "clean training doc with no leakage at all"),
            (102, leak),  # the whole doc is leaked
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r.doc_id, r.start_tok, r.end_tok)
        for r in contamination_cut_list(train, evalset, min_tokens=4).collect()
    }
    assert got == {(100, 3, 9), (102, 0, 6)}


def test_merge_gram_index_replay_writes_zero(spark, tmp_path):
    """SET-UNION on (gram_key, doc_id): a replayed merge appends 0
    pairs; an overlapping batch pays only its genuinely new pairs; the
    merged store equals a one-shot build over the union."""
    from options_data_pipeline_spark.functions.text import (
        build_gram_index,
        merge_gram_index,
        read_gram_index,
    )

    schema = "doc_id long, text string"
    base = spark.createDataFrame(
        [(0, "a b c d e f g h i j"), (1, "k l m n o p q r s t")], schema
    )
    b1 = spark.createDataFrame(
        [(2, "a b c d e f g h extra tail")], schema  # shares doc-0 grams
    )
    path = str(tmp_path / "gidx")
    build_gram_index(base, path)
    r1 = merge_gram_index(b1, path)
    assert 0 < r1["new_pairs"] == r1["pairs"]  # new doc: all pairs new
    before = sorted(map(tuple, read_gram_index(spark, path).collect()))
    r2 = merge_gram_index(b1, path)  # full replay
    assert r2["new_pairs"] == 0
    assert sorted(map(tuple, read_gram_index(spark, path).collect())) == before
    oneshot = build_gram_index(
        base.unionByName(b1), str(tmp_path / "gidx2")
    )
    assert sorted(map(tuple, oneshot.collect())) == before


def test_compact_gram_index_tombstones_and_files(spark, tmp_path):
    """Compaction merges merge-appended small files, drops tombstoned
    docs' pairs (so probes stop counting ghosts: a batch sharing text
    only with the deleted doc gets NO cuts afterwards), and publishes
    through the pointer — live index readable throughout."""
    from options_data_pipeline_spark.functions.text import (
        build_gram_index,
        compact_gram_index,
        incremental_cut_list,
        merge_gram_index,
        read_gram_index,
    )

    schema = "doc_id long, text string"
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    base = spark.createDataFrame([(0, shared + " base tail")], schema)
    extra = spark.createDataFrame([(1, "totally different words one two three four five")], schema)
    path = str(tmp_path / "gidx")
    build_gram_index(base, path)
    merge_gram_index(extra, path)
    batch = spark.createDataFrame([(50, shared + " probe tail")], schema)
    assert incremental_cut_list(batch, read_gram_index(spark, path)).count() == 1

    tomb = spark.createDataFrame([(0,)], "doc_id long")
    stats = compact_gram_index(spark, path, tombstones=tomb)
    assert stats["rows_after"] < stats["rows_before"]
    idx = read_gram_index(spark, path)
    assert idx.filter("doc_id = 0").count() == 0
    assert idx.filter("doc_id = 1").count() > 0
    # the ghost no longer induces cuts
    assert incremental_cut_list(batch, idx).count() == 0
    # replay-idempotent
    stats2 = compact_gram_index(spark, path, tombstones=tomb)
    assert stats2["rows_after"] == stats["rows_after"]


def test_doremi_mixture_sample_realizes_weights(spark):
    """The sampling rung: rates realize the optimized weights by
    downsampling only (rate ∝ weight / base_share, max rate = 1), keep
    verdicts are deterministic salted hashes, and n_kept ≤ n_docs with
    the full-rate domain keeping everything."""
    from options_data_pipeline_spark import registry

    sf = "/root/testdata/sf0.001"
    rows = {r.source: r for r in
            registry.queries()["doremi_mixture_sample"](spark, sf).collect()}
    rows2 = {r.source: r for r in
             registry.queries()["doremi_mixture_sample"](spark, sf).collect()}
    assert {s: tuple(r) for s, r in rows.items()} == {
        s: tuple(r) for s, r in rows2.items()
    }  # deterministic end to end
    assert all(0 < r.rate <= 1.0 for r in rows.values())
    top = max(rows.values(), key=lambda r: r.rate)
    assert top.rate == 1.0 and top.n_kept == top.n_docs  # downsample-only
    assert all(r.n_kept <= r.n_docs for r in rows.values())
    # weights from the sibling query line up with the rates' ordering
    w = {r.source: r.weight for r in
         registry.queries()["doremi_mixture_weights"](spark, sf).collect()}
    hi = max(w, key=w.get)
    lo = min(w, key=w.get)
    assert rows[hi].rate >= rows[lo].rate


def test_doremi_identical_domains_stay_uniform_and_deterministic(spark):
    """Identical distributions -> zero excess -> the multiplicative
    update is the identity and every weight stays at exactly 1/k; the
    trajectory is a pure function of the corpus (two runs identical)."""
    from options_data_pipeline_spark.functions.doremi import (
        domain_token_model,
        doremi_trajectory,
    )

    text = "same words in every domain every time "
    rows = [(f"d{s}{i}", f"src{s}", text) for s in range(4) for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id string, source string, text string")
    model = domain_token_model(docs).localCheckpoint(eager=True)
    w1, ex1, h1 = doremi_trajectory(model)
    w2, ex2, h2 = doremi_trajectory(model)
    assert (w1, ex1, h1) == (w2, ex2, h2)
    assert set(w1.values()) == {0.25}
    assert all(e == 0 for e in ex1.values())


def test_reseed_and_retrain_are_deterministic(spark):
    """reseed picks farthest-first with id tie-break; retrain is a pure
    grid-rounded function of its inputs — two runs, identical outputs."""
    from options_data_pipeline_spark.functions.similarity import (
        reseed_empty_centroids,
        retrain_flagged_centroids,
    )

    rows = [
        (10, [5.0, 0.0]),
        (11, [5.0, 0.0]),  # tie with vec 10 -> lower id wins
        (12, [1.0, 0.0]),
        (13, [7.0, 0.0]),
    ]
    members = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    anchors = [[0.0, 0.0]]
    s1 = reseed_empty_centroids(members, 2, anchors)
    s2 = reseed_empty_centroids(members, 2, anchors)
    assert s1 == s2 == [[7.0, 0.0], [5.0, 0.0]]  # farthest, then lower-id tie

    init = [[0.0, 0.0], [6.0, 0.0]]
    r1 = retrain_flagged_centroids(members, [0, 1], init)
    r2 = retrain_flagged_centroids(members, [0, 1], init)
    assert r1 == r2
    assert r1[0] == [1.0, 0.0]  # lone near member
    assert r1[1] == [pytest.approx(17.0 / 3), 0.0]  # 5,5,7 mean on the 9dp grid
