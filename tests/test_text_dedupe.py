"""Text-analysis + dedup extension tests (SURVEY.md §2.10)."""

from __future__ import annotations

import pytest

from options_data_pipeline_spark.functions.text import (
    token_count_col,
    lang_guess_col,
    fingerprint_col,
    quality_cols,
)
from options_data_pipeline_spark.functions.dedupe import (
    exact_dedup_groups,
    ngram_jaccard_pairs,
    minhash_lsh_candidates,
    simhash_signatures,
)


def docs_df(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def test_token_count_edges(spark):
    df = docs_df(spark, ["foo bar baz", "  leading  and   trailing  ", "", "one"])
    out = {r.doc_id: r.n for r in df.select("doc_id", token_count_col().alias("n")).collect()}
    assert out == {0: 3, 1: 3, 2: 0, 3: 1}


def test_lang_guess(spark):
    df = docs_df(
        spark,
        [
            "the cat and the dog is here",
            "der hund ist nicht hier und da",
            "le chat est une merveille",
            "el gato es una maravilla los dos",
            "xyzzy qwerty",
        ],
    )
    out = {r.doc_id: r.g for r in df.select("doc_id", lang_guess_col().alias("g")).collect()}
    assert out == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "und"}


def test_fingerprint_normalizes_case_and_whitespace(spark):
    df = docs_df(spark, ["Hello   World", "hello world", "  HELLO WORLD  ", "different"])
    out = [r.f for r in df.select(fingerprint_col().alias("f")).collect()]
    assert out[0] == out[1] == out[2] != out[3]


def test_exact_dedup_groups(spark):
    df = docs_df(spark, ["same text", "same  TEXT ", "unique one"])
    groups = {r.fingerprint: r for r in exact_dedup_groups(df).collect()}
    sizes = sorted(g.n_dups for g in groups.values())
    assert sizes == [1, 2]
    dup_group = [g for g in groups.values() if g.n_dups == 2][0]
    assert dup_group.keep_id == 0  # min doc_id is the representative


def test_quality_score_bounds(spark):
    df = docs_df(spark, ["the quick brown fox and the lazy dog of doom", "!!!???;;;:::...", ""])
    cols = quality_cols()
    out = df.select("doc_id", cols["quality_score"].alias("q"), cols["punct_ratio"].alias("p")).collect()
    vals = {r.doc_id: r for r in out}
    assert 0.0 <= vals[0].q <= 1.0 and vals[0].q > vals[1].q
    assert vals[1].p == pytest.approx(1.0)


def test_ngram_jaccard_identical_docs(spark):
    df = docs_df(spark, ["abcdefghij klmnop qrstuv", "abcdefghij klmnop qrstuv", "zzzzzzzz yyyy xxxx"])
    pairs = ngram_jaccard_pairs(df, threshold=0.9).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.doc_a, p.doc_b) == (0, 1) and p.jaccard == pytest.approx(1.0)


def test_minhash_lsh_finds_identical_and_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again in the field"
    near = base.replace("field", "meadow")
    df = docs_df(spark, [base, base, near, "completely unrelated words entirely different content"])
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_candidates(df).collect()}
    assert (0, 1) in pairs  # identical docs always collide in every band
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_simhash_similar_docs_close(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    df = docs_df(spark, [base, base + "extra", "unrelated totally different thing entirely"])
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sigs[0], sigs[1]) < ham(sigs[0], sigs[2])


def test_rare_token_stats_flags_gibberish(spark):
    """Tokens seen in < min_df docs count as rare; the gibberish doc's
    rare_ratio dominates the docs built from shared vocabulary."""
    from options_data_pipeline_spark.functions.text import rare_token_stats

    common = "alpha beta gamma delta"
    df = docs_df(
        spark,
        [common, common + " epsilon", common + " zeta", "qqxjv wkzzp mmvrt"],
    )
    out = {r.doc_id: r for r in rare_token_stats(df, min_df=3).collect()}
    assert out[3].rare_ratio == 1.0  # pure gibberish
    assert out[0].n_rare == 0  # all tokens appear in >= 3 docs
    assert out[1].n_rare == 1 and out[1].n_distinct_tokens == 5  # epsilon is rare


def test_hash_split_stable_under_corpus_growth(spark):
    """A document's split is a pure function of its id: adding documents
    must not move any existing doc across splits, and rates land near
    98/1/1."""
    from options_data_pipeline_spark.functions.sampling import split_col

    small = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    s1 = {r.doc_id: r.split for r in small.select("doc_id", split_col().alias("split")).collect()}
    s2 = {r.doc_id: r.split for r in big.select("doc_id", split_col().alias("split")).collect()}
    assert all(s2[k] == v for k, v in s1.items())
    n = len(s2)
    assert 0.96 < sum(1 for v in s2.values() if v == "train") / n < 0.995
    assert sum(1 for v in s2.values() if v == "test") > 0


def test_mixture_rates_deterministic(spark):
    """mixture_keep_col keeps ~rate of each source, identically on
    re-evaluation (no rand())."""
    from pyspark.sql import functions as F

    from options_data_pipeline_spark.functions.sampling import mixture_keep_col

    docs = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("source"),
    )
    keep = mixture_keep_col(rates={"s0": 0.2}, source_col="source")
    agg = lambda: {  # noqa: E731
        r.source: (r.kept, r.total)
        for r in docs.groupBy("source")
        .agg(F.sum(keep.cast("long")).alias("kept"), F.count(F.lit(1)).alias("total"))
        .collect()
    }
    first, second = agg(), agg()
    assert first == second
    kept0, total0 = first["s0"]
    assert 0.15 < kept0 / total0 < 0.25  # ~20%
    assert first["s1"][0] == first["s1"][1]  # default rate 1.0 keeps all


def test_mixture_then_split_independent(spark):
    """The normal training-data flow — undersample a source, THEN split —
    must still produce val/test docs from the undersampled source. Fails
    if split and keep share an unsalted hash (keep ⊂ train buckets)."""
    from pyspark.sql import functions as F

    from options_data_pipeline_spark.functions.sampling import (
        mixture_keep_col,
        split_col,
    )

    docs = spark.range(0, 20000).select(
        F.col("id").alias("doc_id"), F.lit("s0").alias("source")
    )
    kept = docs.filter(mixture_keep_col(rates={"s0": 0.5}, source_col="source"))
    splits = {
        r.split: r.n
        for r in kept.groupBy(split_col().alias("split"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert splits.get("val", 0) > 0 and splits.get("test", 0) > 0
    n = sum(splits.values())
    assert 0.96 < splits["train"] / n < 0.995  # split ratios survive mixing


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation: a 5-node chain (worst-case diameter)
    collapses to its min id, separate components keep separate labels,
    and vertices absent from the pair graph don't appear."""
    from options_data_pipeline_spark.functions.dedupe import connected_components

    pairs = spark.createDataFrame(
        # chain 9-7-5-3-1 (descending labels propagate the long way) + island 2-4
        [(7, 9), (5, 7), (3, 5), (1, 3), (2, 4)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.label for r in connected_components(pairs).collect()}
    assert got == {9: 1, 7: 1, 5: 1, 3: 1, 1: 1, 2: 2, 4: 2}


def test_connected_components_star_matches_propagation(spark):
    """Star contraction must produce bit-identical labels to label
    propagation on a mixed graph: chain + island + a dense triangle that
    shares no vertices with either."""
    from options_data_pipeline_spark.functions.dedupe import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(7, 9), (5, 7), (3, 5), (1, 3), (2, 4), (10, 11), (11, 12), (10, 12)],
        "doc_a long, doc_b long",
    )
    prop = {r.doc_id: r.label for r in connected_components(pairs).collect()}
    star = {r.doc_id: r.label for r in connected_components_star(pairs).collect()}
    assert star == prop == {
        9: 1, 7: 1, 5: 1, 3: 1, 1: 1, 2: 2, 4: 2, 10: 10, 11: 10, 12: 10,
    }


def test_connected_components_star_adversarial_chain(spark):
    """The O(log n) bound under attack: a 1000-vertex chain (diameter 999,
    the templated-boilerplate worst case) must fully collapse to label 0
    within the default 30-round budget — label propagation would need
    ~1000 rounds here."""
    from options_data_pipeline_spark.functions.dedupe import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "doc_a long, doc_b long"
    )
    rows = connected_components_star(pairs).collect()
    assert len(rows) == 1000
    assert all(r.label == 0 for r in rows)


def test_connected_components_star_randomized_equivalence(spark):
    """Property check: on a seeded random graph the two implementations
    agree exactly (deterministic seed; no runtime randomness in the op)."""
    import random

    from options_data_pipeline_spark.functions.dedupe import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(42)
    edges = list({
        tuple(sorted(rng.sample(range(200), 2))) for _ in range(150)
    })
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    prop = {r.doc_id: r.label for r in connected_components(pairs, max_iters=200).collect()}
    star = {r.doc_id: r.label for r in connected_components_star(pairs).collect()}
    assert star == prop


def test_minhash_jaccard_estimate_bounds_and_identity(spark):
    """The signature-agreement estimator: identical docs estimate 1.0
    (every minhash agrees), disjoint-shingle docs that still collide in
    a band estimate < 1, and every estimate lies in [0, 1]."""
    from options_data_pipeline_spark.functions.dedupe import (
        minhash_jaccard_estimates,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over a sleepy cat"),
            (4, "completely different text with no shared shingles at all"),
        ],
        "doc_id long, text string",
    )
    rows = {(r.doc_a, r.doc_b): r.jaccard_est
            for r in minhash_jaccard_estimates(docs).collect()}
    assert rows[(1, 2)] == 1.0  # exact duplicates agree on all 16 hashes
    assert all(0.0 <= v <= 1.0 for v in rows.values())
    if (1, 3) in rows:
        assert rows[(1, 3)] < 1.0  # near-dup, not identical


def test_connected_components_star_reliable_checkpoint(spark, tmp_path):
    """Cluster mode (VERDICT r3 #3): with a checkpoint_dir the per-round
    checkpoints are RELIABLE (files under the dir — executor-loss-safe,
    unlike localCheckpoint blocks), labels are identical to local mode,
    and superseded generations are deleted eagerly so the dir ends with
    ≤2 generations of rdd checkpoint dirs, not one per round."""
    import os

    from options_data_pipeline_spark.functions.dedupe import (
        connected_components_star,
    )

    ckdir = str(tmp_path / "ck")
    pairs = spark.createDataFrame(
        [(7, 9), (5, 7), (3, 5), (1, 3), (2, 4), (10, 11), (11, 12), (10, 12)],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.label
        for r in connected_components_star(pairs, checkpoint_dir=ckdir).collect()
    }
    assert got == {
        9: 1, 7: 1, 5: 1, 3: 1, 1: 1, 2: 2, 4: 2, 10: 10, 11: 10, 12: 10,
    }
    # reliable checkpoints actually landed on the filesystem...
    app_dirs = [
        os.path.join(root, d)
        for root, dirs, _ in os.walk(ckdir)
        for d in dirs
        if d.startswith("rdd-")
    ]
    assert app_dirs, "no reliable checkpoint dirs were written"
    # ...and eager freeing kept only the live tail (final edges + verts +
    # at most one in-flight generation), not one dir per round
    assert len(app_dirs) <= 4, f"superseded checkpoints not freed: {app_dirs}"


def test_simhash_banding_wide_signature_knob(spark):
    """The scale knob: 62-bit signatures (max for signed long) band into
    4 pieces incl. an uneven last band — exactness must hold there too."""
    from options_data_pipeline_spark.functions.dedupe import (
        simhash_pairs_from_signatures,
    )

    base = (1 << 62) - 1
    sigs = [
        (0, base),
        (1, base ^ (1 << 61)),                 # high bit (uneven last band) → ham 1
        (2, base ^ ((1 << 3) | (1 << 40))),    # spread bits → ham 2
        (3, base ^ ((1 << 0) | (1 << 20) | (1 << 40) | (1 << 61))),  # ham 4 → out
    ]
    df = spark.createDataFrame(sigs, "doc_id long, simhash long")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs_from_signatures(df, max_hamming=3, bits=62).collect()
    }
    want = {
        (a, b, bin(sa ^ sb).count("1"))
        for a, sa in sigs
        for b, sb in sigs
        if a < b and bin(sa ^ sb).count("1") <= 3
    }
    assert got == want and (0, 1, 1) in got


def test_simhash_wide_bits_real_entropy_e2e(spark):
    """End-to-end at bits=62 from raw TEXT (not hand-built signatures):
    the high signature bits (>= 32) must carry real entropy — the
    historical 8-hex-char token hash made every bit >= 32 constant-zero,
    turning the top band into an all-pairs bucket — and the banded pairing
    must still equal brute-force Hamming on those signatures."""
    from options_data_pipeline_spark.functions.dedupe import (
        simhash_near_pairs,
        simhash_signatures,
    )

    texts = [f"document number {i} with shared filler words alpha beta" for i in range(8)]
    texts += ["completely disjoint gibberish zqxv wkpl mnrt"]
    df = docs_df(spark, texts)
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(df, bits=62).collect()}
    high = {d: s >> 32 for d, s in sigs.items()}
    assert len(set(high.values())) > 1, "bits >= 32 are constant: wide knob is a no-op"
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_pairs(df, max_hamming=6, bits=62).collect()
    }
    want = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 6
    }
    assert got == want


def test_winnowing_guarantee(spark):
    """Winnowing property: two documents sharing a substring of length
    ≥ k + w - 1 (= 8 here) are guaranteed a common fingerprint; the
    overlap query surfaces the pair."""
    from options_data_pipeline_spark.functions.text import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    shared = "zqxjkvbw unique shared passage of text"
    df = docs_df(
        spark,
        [
            f"first document prefix {shared} first suffix",
            f"totally different opener {shared} and a different tail",
            "nothing in common with the others at all here",
        ],
    )
    fps = winnow_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[0] & by_doc[1]  # guaranteed shared fingerprint
    pairs = {(r.doc_a, r.doc_b): r.n_shared for r in winnow_overlap_pairs(df).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 1


def test_simhash_band_pairing_exact_vs_naive(spark):
    """Pigeonhole banding must equal the naive quadratic Hamming join —
    including pairs whose differing bits all sit in the top 16 bits (the
    prefix region the pre-fix bucketing missed)."""
    from options_data_pipeline_spark.functions.dedupe import (
        simhash_pairs_from_signatures,
    )

    sigs = [
        (0, 0b1010_1010_1010_1010_1111_0000_1111_0000),
        # differs from 0 only in bits 30,28,25 (old top-16 prefix) → ham 3
        (1, 0b1010_1010_1010_1010_1111_0000_1111_0000 ^ ((1 << 30) | (1 << 28) | (1 << 25))),
        # differs from 0 in low bits only → ham 2
        (2, 0b1010_1010_1010_1010_1111_0000_1111_0011),
        # ham 4 from 0 (one bit per band) → excluded at max_hamming=3
        (3, 0b1010_1010_1010_1010_1111_0000_1111_0000 ^ ((1 << 1) | (1 << 9) | (1 << 17) | (1 << 25))),
        (4, 0),  # far from everything
    ]
    sig_df = spark.createDataFrame(sigs, "doc_id long, simhash long")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs_from_signatures(sig_df, max_hamming=3).collect()
    }
    naive = {
        (a, sa, b, sb)
        for a, sa in sigs
        for b, sb in sigs
        if a < b and bin(sa ^ sb).count("1") <= 3
    }
    want = {(a, b, bin(sa ^ sb).count("1")) for a, sa, b, sb in naive}
    assert got == want
    assert (0, 1, 3) in got  # the old prefix-bucket blind spot


def test_dup_ngram_stats_crafted(spark):
    """Bigram repetition arithmetic on hand-built docs: a fully repeated
    doc scores high dup fraction; an all-distinct doc scores 0."""
    from options_data_pipeline_spark.functions.text import dup_ngram_cols

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # g2 = [spam spam]×3 → dup 2/3, top 1
            (2, "a b c d"),                       # g2 distinct → dup 0, top 1/3
            (3, "x"),                             # 1 token → 1 degenerate gram
        ],
        "doc_id long, text string",
    )
    c = dup_ngram_cols("text", 2)
    out = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            c["n_2grams"].alias("n"),
            c["dup_frac_2"].alias("dup"),
            c["top_frac_2"].alias("top"),
        ).collect()
    }
    assert out[1].n == 3 and out[1].dup == pytest.approx(2 / 3) and out[1].top == 1.0
    assert out[2].n == 3 and out[2].dup == 0.0 and out[2].top == pytest.approx(1 / 3)
    assert out[3].n == 1 and out[3].dup == 0.0


def test_gopher_rules_crafted(spark):
    """Each Gopher rule flips the keep flag independently."""
    from options_data_pipeline_spark.functions.text import gopher_cols

    good = "the quick brown fox jumps over a lazy dog and then it runs far " * 5
    docs = spark.createDataFrame(
        [
            (1, good),                       # passes all rules
            (2, "the of and is it"),         # too few words
            (3, ("aa " * 60) + "the of"),    # mean word len 2 → fails length rule
            (4, ("12345 " * 60) + "the of"), # numeric words → frac_alpha < 0.8
        ],
        "doc_id long, text string",
    )
    cols = gopher_cols("text")
    out = {
        r.doc_id: r
        for r in docs.select("doc_id", *[c.alias(n) for n, c in cols.items()]).collect()
    }
    assert out[1].gopher_keep is True
    assert out[2].gopher_keep is False and out[2].n_words < 50
    assert out[3].gopher_keep is False and out[3].mean_word_len < 3.0
    assert out[4].gopher_keep is False and out[4].frac_alpha_words < 0.8


def test_decontamination_crafted(spark):
    """A train doc sharing a 4-gram with the eval set is flagged with the
    right collision count; clean docs don't appear."""
    from options_data_pipeline_spark.functions.text import decontamination_hits

    eval_docs = docs_df(spark, ["alpha beta gamma delta epsilon"])
    train = spark.createDataFrame(
        [
            (100, "zzz alpha beta gamma delta epsilon qqq"),  # 2 shared 4-grams
            (101, "totally clean words nothing here"),
            (102, "beta gamma delta epsilon tail"),           # 1 shared
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_shared_ngrams for r in decontamination_hits(train, eval_docs, n=4).collect()}
    assert out == {100: 2, 102: 1}


def test_chunk_documents_stride_and_tail(spark):
    """20-token chunks, stride 15: a 35-token doc yields [0,20)+[15,35);
    short and empty docs yield exactly one chunk."""
    from options_data_pipeline_spark.functions.text import chunk_documents

    words35 = " ".join(f"w{i}" for i in range(35))
    docs = spark.createDataFrame(
        [(1, words35), (2, "a b c"), (3, "")], "doc_id long, text string"
    )
    rows = chunk_documents(docs, 20, 5).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.n_tokens for r in c1] == [20, 20]
    assert c1[0].chunk_text.split()[0] == "w0"
    assert c1[1].chunk_text.split()[0] == "w15"  # overlap of 5
    assert c1[1].chunk_text.split()[-1] == "w34"
    assert [r.n_tokens for r in by_doc[2]] == [3]
    assert [r.n_tokens for r in by_doc[3]] == [0]


def test_pack_sequences_greedy_walk(spark):
    """Greedy packing: bins close exactly when the next doc would
    overflow; oversized docs get singleton bins."""
    from pyspark.sql import functions as F

    from options_data_pipeline_spark.functions.sampling import pack_sequences

    sizes = {0: 50, 1: 60, 2: 30, 3: 128, 4: 5}
    docs = spark.createDataFrame(
        [(i, "s", "w " * n) for i, n in sizes.items()],
        "doc_id long, source string, text string",
    )
    out = {r.doc_id: r for r in pack_sequences(docs, budget=128).collect()}
    assert {i: out[i].bin_id for i in sizes} == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3}
    assert out[1].bin_fill == 110 and out[3].bin_fill == 128


# ---------------------------------------------------------------------------
# Incremental MinHash-LSH index (round 4)
# ---------------------------------------------------------------------------


def test_lsh_index_write_once_and_incremental_parity(spark, tmp_path):
    """The stored index must (a) publish atomically and read back without
    recompute, and (b) make the incremental probe produce exactly the
    cross-split subset of the full self-join candidate set, with the
    agreement estimate riding along."""
    import os

    from options_data_pipeline_spark.functions.dedupe import (
        build_lsh_index,
        incremental_lsh_candidates,
        minhash_jaccard_estimates,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "the quick brown fox jumps over the lazy dog again and again!",  # near-dup of 0
        "completely different content about sparkling distributed engines",
        "another unrelated document concerning market data pipelines",
        "THE QUICK  brown fox jumps over the lazy DOG again and again",  # doc 0 modulo case/ws
    ]
    df = docs_df(spark, texts)
    corpus = df.filter("doc_id < 3")
    batch = df.filter("doc_id >= 3")

    path = str(tmp_path / "lsh_index")
    idx = build_lsh_index(corpus, path)
    assert os.path.exists(os.path.join(path, "_CURRENT"))  # published pointer
    assert idx.count() == 3
    assert {f"mh{j}" for j in range(16)} <= set(idx.columns)
    assert {"b0", "b1", "b2", "b3"} <= set(idx.columns)

    # write-once: rebuilding with different docs is a no-op read-back
    again = build_lsh_index(batch, path)
    assert again.count() == 3  # still the original corpus rows

    inc = incremental_lsh_candidates(batch, idx).collect()
    # oracle: full self-join estimates restricted to corpus×batch pairs
    full = {
        (r.doc_a, r.doc_b): r.jaccard_est
        for r in minhash_jaccard_estimates(df).collect()
        if r.doc_a < 3 <= r.doc_b
    }
    got = {(r.doc_a, r.doc_b): r.jaccard_est for r in inc}
    assert got == full
    assert got, "expected at least one cross-split candidate (0/1 vs 4)"


def test_lsh_index_append_compact_maintenance(spark, tmp_path):
    """The year-of-ingest maintenance path: appends accumulate replayed
    duplicate rows and small files; compaction collapses duplicates,
    merges files, honors tombstones and the retention filter, publishes
    atomically, and NEVER changes probe results for surviving docs —
    replay-idempotent throughout."""
    import os

    from options_data_pipeline_spark.functions.dedupe import (
        append_lsh_index,
        build_lsh_index,
        compact_lsh_index,
        incremental_lsh_candidates,
        read_lsh_index,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "completely different content about sparkling distributed engines",
        "another unrelated document concerning market data pipelines",
        "the quick brown fox jumps over the lazy dog again and again!",  # near-dup of 0
        "fresh appended material about streaming watermark semantics",
    ]
    df = docs_df(spark, texts)
    path = str(tmp_path / "idx")
    build_lsh_index(df.filter("doc_id < 3"), path)
    n = append_lsh_index(df.filter("doc_id >= 3"), path)
    assert n == 2
    append_lsh_index(df.filter("doc_id >= 3"), path)  # at-least-once replay
    assert read_lsh_index(spark, path).count() == 7  # 3 + 2 + 2 dup rows

    probe = docs_df(
        spark,
        ["THE QUICK brown fox jumps over the lazy DOG again and again"],
    ).selectExpr("doc_id + 100 AS doc_id", "text")  # distinct from corpus ids

    def candidates():
        return sorted(
            (r.doc_a, r.doc_b, r.jaccard_est)
            for r in incremental_lsh_candidates(
                probe, read_lsh_index(spark, path)
            ).collect()
        )

    before = candidates()
    assert {c[0] for c in before} >= {0, 3}  # hits both build + append rows

    stats = compact_lsh_index(spark, path)
    assert stats["rows_before"] == 7 and stats["rows_after"] == 5
    assert stats["files_after"] <= stats["files_before"]
    assert candidates() == before  # probe results byte-identical

    # replay-idempotent: a second compaction is a no-op on rows & probes
    stats2 = compact_lsh_index(spark, path)
    assert stats2["rows_before"] == stats2["rows_after"] == 5
    assert candidates() == before

    # tombstone doc 3: its candidate pairs disappear, others untouched
    tomb = spark.createDataFrame([(3,)], "doc_id bigint")
    compact_lsh_index(spark, path, tombstones=tomb)
    after_tomb = candidates()
    assert after_tomb == [c for c in before if c[0] != 3] and after_tomb

    # retention knob: expire everything but the newest ids
    compact_lsh_index(spark, path, retention_filter="doc_id >= 4")
    assert candidates() == []  # doc 0 expired; probe no longer matches
    assert {r.doc_id for r in read_lsh_index(spark, path).collect()} == {4}
    # versioned publish GC keeps at most {current, previous} generations
    gens = [d for d in os.listdir(path) if d.startswith("v_")]
    assert len(gens) <= 2


def test_lsh_index_atomic_publish_no_partial(spark, tmp_path):
    """A crash at the pointer swap never half-publishes: a crashed FIRST
    build leaves no readable index (retry succeeds); a crashed COMPACTION
    leaves the previous generation fully readable with identical probe
    results — the exact crash window the old two-step dir rename had."""
    from options_data_pipeline_spark.functions import dedupe as dd
    from options_data_pipeline_spark.sources import store

    df = docs_df(spark, ["some text here", "other text there",
                         "some text here too"])
    path = str(tmp_path / "idx")

    real_publish = store.publish
    calls = {}

    def boom(*a, **kw):
        calls["hit"] = calls.get("hit", 0) + 1
        raise RuntimeError("crash at pointer swap")

    # crash during the FIRST build's publish → nothing visible
    store.publish = boom
    try:
        try:
            dd.build_lsh_index(df, path)
        except RuntimeError:
            pass
    finally:
        store.publish = real_publish
    assert calls["hit"] == 1
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        dd.read_lsh_index(spark, path)
    # retry publishes cleanly and is readable
    out = dd.build_lsh_index(df, path)
    assert out.count() == 3

    # replay-duplicate rows, then a compaction that crashes at the swap:
    # the live index is untouched and still readable (5 rows incl. dups)
    dd.append_lsh_index(df.filter("doc_id = 0"), path)
    dd.append_lsh_index(df.filter("doc_id = 0"), path)
    assert dd.read_lsh_index(spark, path).count() == 5
    store.publish = boom
    try:
        with _pytest.raises(RuntimeError):
            dd.compact_lsh_index(spark, path)
    finally:
        store.publish = real_publish
    assert dd.read_lsh_index(spark, path).count() == 5  # previous gen intact
    # recovery: re-run compaction — duplicates collapse, publish lands
    stats = dd.compact_lsh_index(spark, path)
    assert stats["rows_after"] == 3
    assert dd.read_lsh_index(spark, path).count() == 3


def test_unigram_logprob_hand_computed(spark):
    """Tiny corpus with hand-computable LM: tokens {a: 2, b: 2}, total 4,
    so every token's logp = round(ln(0.5), 6) = -0.693147."""
    from options_data_pipeline_spark.functions.text import unigram_logprob_scores

    df = docs_df(spark, ["a A b", "b"])
    out = {r.doc_id: r for r in unigram_logprob_scores(df).collect()}
    lp = -0.693147
    assert out[0].n_toks == 3
    assert abs(out[0].sum_logprob - 3 * lp) < 1e-9
    assert abs(out[0].avg_logprob - lp) < 1e-9
    assert out[1].n_toks == 1
    assert abs(out[1].avg_logprob - lp) < 1e-9
    # rarer tokens score lower: extend with a doc introducing a hapax
    df2 = docs_df(spark, ["a A b", "b", "zzz"])
    out2 = {r.doc_id: r for r in unigram_logprob_scores(df2).collect()}
    assert out2[2].avg_logprob < out2[0].avg_logprob


def test_bpe_trainer_hand_computed(spark):
    """Classic BPE on a 2-word corpus: (a,a) wins round 1 by frequency,
    (a,b) round 2; 'aaa' merges left-to-right into [aa, a]."""
    from options_data_pipeline_spark.functions.text import (
        bpe_learn_merges,
        bpe_token_counts,
    )

    df = docs_df(spark, ["aa ab", "aa"])
    merges, states = bpe_learn_merges(df)
    assert merges[:2] == [("a", "a"), ("a", "b")]
    assert states["aa"] == "~aa~" and states["ab"] == "~ab~"
    out = {r.doc_id: r for r in bpe_token_counts(df).collect()}
    assert (out[0].n_words, out[0].n_bpe_tokens) == (2, 2)
    assert (out[1].n_words, out[1].n_bpe_tokens) == (1, 1)

    df2 = docs_df(spark, ["aaa aa"])
    merges2, states2 = bpe_learn_merges(df2, n_merges=1)
    assert merges2 == [("a", "a")]
    # canonical left-to-right application: aaa -> [aa, a]
    assert states2["aaa"] == "~aa~~a~"
    assert states2["aa"] == "~aa~"


def test_bpe_trainer_vocab_prune_bounded(spark):
    """The driver-side vocab collect is bounded: a min_count/max_vocab
    prune applied distributed-side must leave merges and final word
    states identical on a corpus whose head pairs dominate (the
    standard-practice defense: sub-threshold tail words can't flip a
    merge), and max_vocab must actually cap the collected state."""
    from options_data_pipeline_spark.functions.text import bpe_learn_merges

    # 'aa' x6 / 'ab' x4 dominate; 'zq' is a hapax whose (z,q) pair count
    # of 1 can never beat a head pair — merges agree while head pairs
    # remain (rounds 1-2 here; round 3 the full trainer merges the
    # exhausted-tail hapax pair, which pruning removes by contract).
    df = docs_df(spark, ["aa aa aa ab ab", "aa aa aa ab ab zq"])
    merges_full, states_full = bpe_learn_merges(df, n_merges=2)
    merges_pruned, states_pruned = bpe_learn_merges(
        df, n_merges=2, min_count=2
    )
    assert merges_full == [("a", "a"), ("a", "b")]
    assert merges_pruned == merges_full
    # pruned trainer never saw the hapax; every surviving word agrees
    assert "zq" not in states_pruned
    assert {w: s for w, s in states_full.items() if w != "zq"} == states_pruned

    # max_vocab keeps only the top-K most frequent words (ties → lex)
    merges_cap, states_cap = bpe_learn_merges(df, n_merges=2, max_vocab=2)
    assert set(states_cap) == {"aa", "ab"}
    assert merges_cap == merges_full


def test_dsir_weights_favor_target_domain(spark):
    """DSIR's defining property: documents drawn from the target domain
    score a higher log-likelihood ratio than off-domain documents, and
    a doc sharing tokens with BOTH leans by overlap count."""
    from options_data_pipeline_spark.functions.text import dsir_logweights

    rows = [
        (0, "alpha beta gamma alpha beta"),   # pure target-vocab
        (1, "delta epsilon zeta delta zeta"), # pure off-domain vocab
        (2, "alpha beta delta epsilon"),      # mixed
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.filter("doc_id = 0")
    out = {r.doc_id: r for r in dsir_logweights(docs, target).collect()}
    assert out[0].dsir_logweight > out[2].dsir_logweight > out[1].dsir_logweight
    assert out[0].n_toks == 5


def test_dsir_weights_uniform_when_target_is_corpus(spark):
    """If target == source, every bucket's log ratio is ~0 (identical
    smoothed distributions), so all docs score ~0 regardless of length."""
    from options_data_pipeline_spark.functions.text import dsir_logweights

    rows = [(0, "a b c d"), (1, "e f g h i j k l m n o p")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dsir_logweights(docs, docs).collect()
    for r in out:
        assert abs(r.dsir_logweight) < 1e-4


def test_token_entropy_hand_computed(spark):
    """'a a b': H = −(2/3·ln(2/3) + 1/3·ln(1/3)) with 6-dp-grid terms
    = 0.636514; ttr = 2/3. A one-token doc has zero entropy, ttr 1."""
    from options_data_pipeline_spark.functions.text import token_entropy_scores

    df = docs_df(spark, ["a A b", "z"])
    out = {r.doc_id: r for r in token_entropy_scores(df).collect()}
    assert (out[0].n_toks, out[0].n_types) == (3, 2)
    assert abs(out[0].entropy - 0.636514) < 1e-9
    assert abs(out[0].ttr - 2.0 / 3.0) < 1e-12
    assert (out[1].n_toks, out[1].n_types) == (1, 1)
    assert out[1].entropy == 0.0 and out[1].ttr == 1.0


def test_cooccurrence_pmi_hand_computed(spark):
    """'a b a b': unigrams a:2 b:2 (n=4), bigrams (a,b):2 (b,a):1 (n=3).
    ratio(a,b) = (2/3)/((2/4)·(2/4)) = 8/3; ratio(b,a) = 4/3. Collocation
    direction shows up as the higher ratio."""
    from options_data_pipeline_spark.functions.text import cooccurrence_pmi_top

    df = docs_df(spark, ["a b a b"])
    rows = {(r.x, r.y): r for r in cooccurrence_pmi_top(df, k=10).collect()}
    assert set(rows) == {("a", "b"), ("b", "a")}
    ab, ba = rows[("a", "b")], rows[("b", "a")]
    assert (ab.c_xy, ab.c_x, ab.c_y) == (2, 2, 2)
    assert abs(ab.pmi_ratio - 8.0 / 3.0) < 1e-12
    assert abs(ba.pmi_ratio - 4.0 / 3.0) < 1e-12
    # top-k cut is by pair count before the join
    top1 = cooccurrence_pmi_top(df, k=1).collect()
    assert [(r.x, r.y) for r in top1] == [("a", "b")]


def test_zipf_slope_tracks_power_law(spark):
    """A corpus whose token frequencies follow cnt = 64/rank must fit
    slope ≈ −1 (grid rounding keeps it within 1e-3); a uniform corpus
    fits slope 0."""
    import math

    from options_data_pipeline_spark import registry

    def corpus(freqs):
        words = [f"w{i:02d}" for i in range(len(freqs))]
        text = " ".join(" ".join([w] * f) for w, f in zip(words, freqs))
        return [text]

    import tempfile, os
    qs = registry.queries()

    def run(freqs):
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                [(0, corpus(freqs)[0], "en", "s", 1)],
                "doc_id long, text string, lang string, source string, n_chars long",
            ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
            return qs["zipf_slope"](spark, d).collect()[0]

    zipf = run([64 // r for r in range(1, 9)])  # 64,32,21,16,12,10,9,8
    # exact power law on the dyadic subset; integer flooring bends it a bit
    assert -1.15 < zipf.zipf_slope < -0.85
    flat = run([7] * 8)
    assert abs(flat.zipf_slope) < 1e-5  # 6-dp term grid leaves ~1e-6 residue
    assert flat.n_ranks == 8


def test_bloom_filter_no_false_negatives_and_measurable_fp(spark):
    """The Bloom prefilter contract: EVERY built key probes True (zero
    false negatives — a False verdict licenses skipping the exact join);
    unseen keys probe mostly False with an FP rate in the sized-for
    ballpark; an aggressively undersized filter saturates toward
    all-True (degrades to 'check everything', never to wrong)."""
    from options_data_pipeline_spark.functions.bloom import (
        bloom_build,
        bloom_might_contain,
    )

    keys = spark.createDataFrame(
        [(f"key-{i}",) for i in range(100)], "fingerprint string"
    )
    bloom = bloom_build(keys, n_words=16, k=4)
    # members: all True
    got = bloom_might_contain(keys, bloom, n_words=16, k=4).collect()
    assert all(r.might_contain for r in got)
    # non-members: mostly False (m=992 bits, n=100, k=4 → fp ≈ 2%)
    other = spark.createDataFrame(
        [(f"absent-{i}",) for i in range(200)], "fingerprint string"
    )
    fp = sum(r.might_contain for r in bloom_might_contain(other, bloom, n_words=16, k=4).collect())
    assert fp <= 20  # generous 10% ceiling on a ~2% expectation
    # undersized filter saturates safe: 1 word, members still all True
    tiny = bloom_build(keys, n_words=1, k=4)
    got = bloom_might_contain(keys, tiny, n_words=1, k=4).collect()
    assert all(r.might_contain for r in got)


def test_bloom_null_key_routes_to_exact_check(spark):
    """NULL keys must yield might_contain=True (a boolean, never NULL):
    md5(NULL) would otherwise propagate NULL through the bit tests and a
    downstream filter(~might_contain) would silently drop null-key rows
    — three-valued logic leaking through the no-false-negatives
    contract. Both the single and partitioned probes route NULLs to the
    exact check."""
    from options_data_pipeline_spark.functions.bloom import (
        bloom_build,
        bloom_build_partitioned,
        bloom_might_contain,
        bloom_might_contain_partitioned,
    )

    keys = spark.createDataFrame(
        [(f"key-{i}",) for i in range(50)], "fingerprint string"
    )
    with_null = spark.createDataFrame(
        [("key-1",), (None,), ("unseen",)], "fingerprint string"
    )
    bloom = bloom_build(keys, n_words=16, k=4)
    got = {r.fingerprint: r.might_contain for r in bloom_might_contain(
        with_null, bloom, n_words=16, k=4).collect()}
    assert got["key-1"] is True
    assert got[None] is True  # not None: NULL key → definite True
    part = bloom_build_partitioned(keys, n_partitions=4)
    gotp = {r.fingerprint: r.might_contain for r in
            bloom_might_contain_partitioned(with_null, part, n_partitions=4).collect()}
    assert gotp["key-1"] is True and gotp[None] is True


def test_partitioned_bloom_matches_single_and_scales_capacity(spark):
    """The partitioned-bloom rung: membership contract holds (all
    members True), capacity actually scales (16 buckets hold 16× the
    keys at the same per-row width with a far lower FP rate than one
    saturated filter), and an empty bucket is definite absence."""
    from options_data_pipeline_spark.functions.bloom import (
        bloom_build,
        bloom_build_partitioned,
        bloom_might_contain,
        bloom_might_contain_partitioned,
    )

    keys = spark.createDataFrame(
        [(f"key-{i}",) for i in range(1600)], "fingerprint string"
    )
    absent = spark.createDataFrame(
        [(f"nope-{i}",) for i in range(300)], "fingerprint string"
    )
    part = bloom_build_partitioned(keys, n_partitions=16)
    assert part.count() == 16
    got = bloom_might_contain_partitioned(keys, part).collect()
    assert all(r.might_contain for r in got)  # zero false negatives
    fp_part = sum(
        r.might_contain
        for r in bloom_might_contain_partitioned(absent, part).collect()
    )
    # one 992-bit filter with 1600 keys is saturated (fp → ~1); the
    # 16-bucket table keeps ~100 keys/row → fp ≈ 2%
    single = bloom_build(keys)
    fp_single = sum(
        r.might_contain for r in bloom_might_contain(absent, single).collect()
    )
    assert fp_part <= 30 and fp_single >= 250, (fp_part, fp_single)


def test_lsh_index_flat_layout_raises_naming_overwrite(spark, tmp_path):
    """A FLAT signature table (parquet + _SUCCESS at the root, no
    pointer) is not a layout this version reads: readers raise, a plain
    build raises naming overwrite=True, and overwrite=True publishes a
    generation beside the foreign files without touching them."""
    import os

    import pytest as _pytest

    from options_data_pipeline_spark.functions import dedupe as dd
    from options_data_pipeline_spark.functions.dedupe import (
        MINHASH_PARAMS,
        band_bucket_cols,
        minhash_signatures_wide,
    )

    df = docs_df(spark, ["alpha text here", "beta text there", "gamma body"])
    path = str(tmp_path / "idx")
    wide = minhash_signatures_wide(df, "text", 5)
    wide.select(
        "doc_id", *[f"mh{j}" for j in range(len(MINHASH_PARAMS))],
        *band_bucket_cols(),
    ).write.mode("overwrite").parquet(path)
    flat = sorted(os.listdir(path))

    with _pytest.raises(FileNotFoundError, match="no published index"):
        dd.read_lsh_index(spark, path)
    with _pytest.raises(RuntimeError, match="overwrite=True"):
        dd.build_lsh_index(df, path)
    assert sorted(os.listdir(path)) == flat  # nothing written

    out = dd.build_lsh_index(df.filter("doc_id < 2"), path, overwrite=True)
    assert out.count() == 2
    assert dd.read_lsh_index(spark, path).count() == 2
    assert set(flat) <= set(os.listdir(path))  # foreign files untouched


def test_repetition_char_stats_hand_computed_single_tokenize(spark):
    """r13 focused test for the tokenize-once restructure (union-per-n →
    one explode over the n values): hand-computed Gopher char fractions
    on known docs, plus a plan assertion that the \\S+ tokenizer appears
    in ONE scan-side projection (the old form re-ran it once per n)."""
    from options_data_pipeline_spark.functions.text import repetition_char_stats

    # doc 0: "ab ab ab ab" — norm len 11; top 2-gram "ab ab" occurs 3x
    # (overlapping windows over 4 tokens), len 5 → top2 = 15/11;
    # 3-grams: "ab ab ab" x2, len 8 → top3 = 16/11; no 5-gram dups
    # (only 0 windows of 5 over 4 tokens → slice pads: sequence(1,1),
    # gram = whole text, count 1 → dup frac 0)
    df = docs_df(spark, ["ab ab ab ab", "x y z w v u"])
    out = {r.doc_id: r for r in repetition_char_stats(df).collect()}
    r0 = out[0]
    assert abs(r0.top_2gram_char_frac - (5 * 3) / 11) < 1e-12
    assert abs(r0.top_3gram_char_frac - (8 * 2) / 11) < 1e-12
    assert r0.dup_5gram_char_frac == 0.0
    r1 = out[1]  # all tokens distinct → every gram count 1, no dups
    assert abs(r1.top_2gram_char_frac - 3 / 11) < 1e-12
    assert r1.dup_5gram_char_frac == 0.0
    plan = (
        repetition_char_stats(df)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("regexp_extract_all") == 1
