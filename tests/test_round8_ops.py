"""Round-8 operator tests: two-tier entity resolution, trained quality
classifier, URL canonicalization, index maintenance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F  # noqa: F401


# ---------------------------------------------------- two-tier ER equivalence


def _write_part(tmp_path, rows):
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["p_partkey", "p_name", "p_brand"])
    pdf.to_parquet(tmp_path / "part.parquet")
    return str(tmp_path)


def test_part_er_two_tier_matches_part_level_closure(spark, tmp_path):
    """The two-tier build (identity-class stars + rep-level Jaccard
    edges) must produce EXACTLY the part-level transitive closure the
    pre-round-8 all-pairs blocking computed — on a corpus that has
    BOTH tiers: an identity class, a cross-signature 4-of-5-token
    match bridging into it, an unmatched part, and a same-name part
    under a different brand (blocking must keep brands apart)."""
    from options_data_pipeline_spark import registry

    sf = _write_part(
        tmp_path,
        [
            (1, "alpha beta gamma delta epsilon", "Brand#A"),
            (2, "alpha beta gamma delta epsilon", "Brand#A"),  # identity dup
            (3, "epsilon delta gamma beta alpha", "Brand#A"),  # reordered dup
            (4, "alpha beta gamma delta zeta", "Brand#A"),  # 4/6 = 0.667 match
            (5, "one two three four five", "Brand#A"),  # no match
            (6, "alpha beta gamma delta epsilon", "Brand#B"),  # other brand
        ],
    )
    got = {
        (r.p_partkey, r.entity_id, r.cluster_size)
        for r in registry.queries()["part_entity_resolution"](spark, sf).collect()
    }
    # 1-2-3 identity class, 4 bridges in via the rep edge; 5 and 6 have
    # no matching pair so (like the original query) they emit no row
    assert got == {(1, 1, 4), (2, 1, 4), (3, 1, 4), (4, 1, 4)}

    # cross-engine: the recursive-CTE oracle reaches the same fixpoint
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW part AS SELECT * FROM '{sf}/part.parquet'")
    oracle = {
        tuple(r)
        for r in con.execute(
            registry.oracle_sql()["part_entity_resolution"]
        ).fetchall()
    }
    assert oracle == got


def test_part_er_hot_token_cap_drops_key_not_recall(spark, tmp_path):
    """A rep-grain token hotter than df=64 is a stop-key: candidates
    through it are dropped (bounded work), but pairs that ALSO share a
    cool token still match — and the audit reports the fire."""
    from options_data_pipeline_spark import registry

    rows = [
        # 70 distinct signatures all sharing the hot token "hot"
        (i, f"hot uniq{i} filler{i} pad{i} tail{i}", "Brand#A")
        for i in range(1, 71)
    ]
    # two parts sharing hot AND 4 cool tokens (J = 4/6 via cool tokens
    # alone is impossible — they must match through the full 5-set:
    # share all of cool1..cool4 => J = 4/6 >= 0.6 even without "hot")
    rows += [
        (100, "hot cool1 cool2 cool3 cool4", "Brand#A"),
        (101, "warm cool1 cool2 cool3 cool4", "Brand#A"),
    ]
    sf = _write_part(tmp_path, rows)
    qs = registry.queries()
    got = {
        (r.p_partkey, r.entity_id)
        for r in qs["part_entity_resolution"](spark, sf).collect()
    }
    # the hot-token-only candidates are capped away (uniq tokens differ);
    # 100-101 still pair through their four sub-cap cool-token keys
    assert got == {(100, 100), (101, 100)}
    audit = {r.p_brand: r for r in qs["entity_blocking_audit"](spark, sf).collect()}
    a = audit["Brand#A"]
    assert a.n_capped_keys == 1  # "hot" (df = 71 > 64)
    assert a.postings_dropped == 71
    assert a.max_rep_df == 71


# ------------------------------------------------- vector index maintenance


def test_append_kmeans_index_equals_oneshot(spark, tmp_path):
    """Appending a batch with the STORED centroids yields an index
    byte-equivalent to the one-shot build of (base ∪ batch) under the
    same centroids: assignments identical, probed searches identical —
    including over unchanged cells."""
    from options_data_pipeline_spark.functions.similarity import (
        append_kmeans_index,
        build_kmeans_index,
        centroid_top_cells,
        cosine_topk_partitioned,
        with_cell,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter("vec_id % 10 < 9")
    batch = emb.filter("vec_id % 10 = 9")
    path = str(tmp_path / "kidx")
    _, cents = build_kmeans_index(base, path)
    n = append_kmeans_index(batch, path)
    assert n == batch.count() > 0

    from options_data_pipeline_spark.sources import store

    stored = spark.read.parquet(f"{store.current(path)}/corpus")
    ref = with_cell(emb, cents).select("vec_id", "embedding", "cell")
    assert {(r.vec_id, r.cell) for r in stored.select("vec_id", "cell").collect()} == {
        (r.vec_id, r.cell) for r in ref.select("vec_id", "cell").collect()
    }

    def probe(corpus):
        qp = (
            emb.filter("vec_id < 5")
            .select(
                "vec_id",
                "embedding",
                centroid_top_cells("embedding", cents, 2).alias("probes"),
            )
            .select("vec_id", "embedding", F.explode("probes").alias("cell"))
        )
        return sorted(
            map(tuple, cosine_topk_partitioned(qp, corpus, k=5, cell_col="cell").collect())
        )

    assert probe(stored.select("vec_id", "embedding", "cell")) == probe(ref)

    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        append_kmeans_index(batch, str(tmp_path / "missing"))


def test_append_pq_index_equals_oneshot(spark, tmp_path):
    """PQ-code append with the build's deterministic codebooks equals
    the one-shot encode of the union — codes, cells, recon errors."""
    from options_data_pipeline_spark.functions.similarity import (
        append_pq_index,
        build_pq_index,
        fixed_centroids,
        pq_encode,
        with_cell,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter("vec_id % 10 < 9")
    batch = emb.filter("vec_id % 10 = 9")
    path = str(tmp_path / "pqidx")
    build_pq_index(base, path)
    n = append_pq_index(batch, path)
    assert n == batch.count() > 0

    from options_data_pipeline_spark.sources import store

    stored = spark.read.parquet(store.current(path))
    oneshot = pq_encode(
        with_cell(emb, fixed_centroids()), extra_cols=("cell",)
    )
    cols = ["vec_id", "cell", "code_0", "code_1", "code_2", "code_3", "recon_err"]
    got = {tuple(r) for r in stored.select(*cols).collect()}
    exp = {tuple(r) for r in oneshot.select(*cols).collect()}
    assert got == exp


# ------------------------------------------------- trained quality classifier


def test_quality_train_learns_planted_signal(spark, tmp_path):
    """GD must rediscover the planted diversity boundary: on a corpus
    where half the docs repeat one token (y=0) and half are fully
    distinct (y=1), the trained scores separate the classes and keep
    tracks the label."""
    import pandas as pd

    from options_data_pipeline_spark.functions.quality_train import (
        quality_train_score,
    )

    vocab = [f"word{i}" for i in range(40)]
    rows = []
    for d in range(60):
        if d % 2 == 0:  # low quality: one token repeated 40x
            text = " ".join([vocab[d % 40]] * 40)
        else:  # high quality: 40 distinct tokens, rotated start
            text = " ".join(vocab[d % 40:] + vocab[: d % 40])
        rows.append((d, text))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = quality_train_score(docs).collect()
    pos = [r.score for r in out if r.label == 1]
    neg = [r.score for r in out if r.label == 0]
    assert pos and neg
    assert min(pos) > max(neg)  # full separation on the planted corpus
    acc = sum((r.score > 0.5) == (r.label == 1) for r in out) / len(out)
    assert acc == 1.0


def test_quality_train_trajectory_deterministic(spark):
    """Two trainings over the same corpus produce bit-identical weights
    (zero init, fixed iterations, order-free DECIMAL gradient sums)."""
    from options_data_pipeline_spark.functions.quality_train import (
        quality_features,
        quality_train,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    feats = quality_features(docs).localCheckpoint(eager=True)
    w1 = quality_train(feats, iters=4)
    w2 = quality_train(feats.repartition(7), iters=4)  # different layout
    assert w1 == w2


# ------------------------------------------------------ URL canonicalization


def test_canonical_url_rules(spark):
    """Each documented rule, one fixture per rule, plus the
    non-default-port and non-tracking-param survivals."""
    from options_data_pipeline_spark.functions.url import canonical_url

    cases = [
        ("HTTPS://WWW.Example.COM/Path", "https://example.com/Path"),
        ("http://example.com:80/a", "http://example.com/a"),
        ("https://example.com:443/a", "https://example.com/a"),
        ("https://example.com:8443/a", "https://example.com:8443/a"),
        ("https://example.com/a#frag", "https://example.com/a"),
        # RFC 3986: '?' inside a fragment is fragment text, not a query
        ("https://example.com/a#sec?page=2", "https://example.com/a"),
        ("https://example.com/a/", "https://example.com/a"),
        ("https://example.com/a///", "https://example.com/a"),
        (
            "https://example.com/a?utm_source=x&id=7&fbclid=z",
            "https://example.com/a?id=7",
        ),
        ("https://example.com/a?utm_source=x", "https://example.com/a"),
        (
            "https://example.com/a?b=2&a=1",  # param ORDER preserved
            "https://example.com/a?b=2&a=1",
        ),
    ]
    df = spark.createDataFrame(cases, "url string, expected string")
    out = df.select("url", "expected", canonical_url("url").alias("got")).collect()
    for r in out:
        assert r.got == r.expected, (r.url, r.got, r.expected)


def test_canonical_url_idempotent_property(spark):
    """hypothesis: canonical(canonical(u)) == canonical(u) over randomly
    composed URLs (every rule is a fixpoint)."""
    from hypothesis import given, settings, strategies as st

    from options_data_pipeline_spark.functions.url import canonical_url

    scheme = st.sampled_from(["http", "HTTP", "https", "HTTPS"])
    host = st.sampled_from(
        ["www.Site.com", "site.com", "A.B.ORG", "www.x.net:443", "x.net:8080"]
    )
    path = st.sampled_from(["", "/", "/a", "/a/b", "/a/b/", "/a//"])
    query = st.sampled_from(
        ["", "?id=1", "?utm_source=x", "?utm_a=1&k=2", "?k=2&utm_b=3&j=4"]
    )
    frag = st.sampled_from(["", "#x", "#a-b"])

    @settings(max_examples=30, deadline=None)
    @given(scheme, host, path, query, frag)
    def check(s, h, p, q, f):
        u = f"{s}://{h}{p}{q}{f}"
        df = spark.createDataFrame([(u,)], "url string")
        once = df.select(canonical_url("url").alias("c1"))
        twice = once.select("c1", canonical_url("c1").alias("c2")).collect()[0]
        assert twice.c2 == twice.c1, (u, twice.c1, twice.c2)

    check()


# --------------------------------------------- content-defined chunking dedup


def test_content_chunks_shift_resistance(spark):
    """The CDC property fixed-size blocks lack: inserting one character
    near the front of a document changes only the chunk it lands in —
    every chunk after the next content-defined boundary is an
    IDENTICAL string, so chunk-level dedup still collapses the shared
    tail (rsync's reason to exist)."""
    import hashlib

    from options_data_pipeline_spark.functions.text import content_chunks

    base = " ".join(
        hashlib.md5(str(i).encode()).hexdigest() for i in range(40)
    )  # ~1300 chars of stable pseudo-random content
    edited = base[:5] + "x" + base[5:]  # one insertion near the front
    df = spark.createDataFrame([(0, base), (1, edited)], "doc_id long, text string")
    out = {r.doc_id: r.chunks for r in content_chunks(df).collect()}
    a, b = out[0], out[1]
    assert len(a) > 5  # the fixture actually chunks
    shared = set(a) & set(b)
    # all but the first boundary-straddling chunk(s) survive the edit
    assert len(shared) >= len(a) - 2
    assert a[-1] == b[-1]  # identical tails chunk identically
    # reassembly invariant: chunks concatenate back to the normalized text
    assert "".join(a) == base and "".join(b) == edited


def test_content_chunks_short_and_empty_docs(spark):
    """Docs shorter than the gram size yield exactly one chunk (the
    whole text); the sequence(1,0)-descends guard is load-bearing."""
    from options_data_pipeline_spark.functions.text import content_chunks

    df = spark.createDataFrame(
        [(0, "tiny"), (1, "exactly8"), (2, "a bigger text that still makes one or more chunks")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.chunks for r in content_chunks(df).collect()}
    assert out[0] == ["tiny"]
    assert out[1] == ["exactly8"]
    assert "".join(out[2]) == "a bigger text that still makes one or more chunks"


def test_quality_holdout_eval_consistency(spark):
    """Confusion-matrix cells partition the held-out split, and the
    learned filter generalizes on the planted label (accuracy well
    above the majority-class rate)."""
    from options_data_pipeline_spark import registry

    r = registry.queries()["quality_holdout_eval"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r.tp + r.fp + r.tn + r.fn == r.n_test > 0
    assert r.n_train > r.n_test
    majority = max(r.tp + r.fn, r.fp + r.tn) / r.n_test
    assert r.accuracy >= 0.8 and r.accuracy > majority  # learned, not prior
    if r.precision is not None and r.recall is not None and (r.precision + r.recall) > 0:
        assert abs(r.f1 - 2 * r.precision * r.recall / (r.precision + r.recall)) < 1e-12


# --------------------------------------------------- stupid backoff LM rung


def test_backoff_heldout_exercises_all_three_branches(spark):
    """At the gate SF the sparse 2% LM must actually FIRE the backoff
    branch (and see >= 1 OOV drop) — dead smoothing code is the thing
    this test forbids; and every per-doc logprob stays negative."""
    from pyspark.sql import functions as F

    from options_data_pipeline_spark import registry

    df = registry.queries()["backoff_heldout_logprob"](
        spark, "/root/testdata/sf0.01"
    )
    tot = df.agg(
        F.sum("n_bigrams").alias("nb"),
        F.sum("n_backoff").alias("bo"),
        F.sum("n_oov_dropped").alias("oov"),
        F.max("avg_logprob").alias("mx"),
    ).collect()[0]
    assert tot.bo > 0  # backoff genuinely exercised
    assert tot.oov >= 1  # the OOV-drop path too
    assert 0 < tot.bo < tot.nb  # ...but the seen branch dominates
    assert tot.mx < 0  # log-probabilities
