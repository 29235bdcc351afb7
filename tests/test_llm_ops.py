"""Unit tests for the round-4 LLM-pipeline operators: within-cell kNN,
PII scrubbing, length-bucketed batching, per-domain quality gate,
temperature mixture."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from options_data_pipeline_spark.functions.similarity import knn_within_cell
from options_data_pipeline_spark.functions.sampling import (
    per_group_top_fraction,
    temperature_weights,
)
from options_data_pipeline_spark.functions.text import (
    LENGTH_BUCKETS,
    length_bucket_col,
    pii_cols,
)


# --- knn_within_cell ---------------------------------------------------------

def test_knn_picks_true_within_cell_neighbor(spark):
    # cell A: v1 ~ v2 (near-identical), v3 orthogonal-ish; cell B: alone
    rows = [
        Row(vec_id=1, label=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, label=0, embedding=[0.9, 0.1, 0.0]),
        Row(vec_id=3, label=0, embedding=[0.0, 0.0, 1.0]),
        Row(vec_id=4, label=1, embedding=[0.5, 0.5, 0.5]),  # alone in cell
    ]
    out = {r["vec_id"]: r for r in knn_within_cell(spark.createDataFrame(rows)).collect()}
    assert out[1]["nn_id"] == 2 and out[2]["nn_id"] == 1
    # the lone vector in cell B emits no row
    assert 4 not in out
    # v3's NN is whichever of v1/v2 scores higher; ties break to smaller id
    assert out[3]["nn_id"] in (1, 2)


def test_knn_tie_breaks_to_smaller_id(spark):
    # two neighbors at EXACTLY the same cosine (mirror duplicates)
    rows = [
        Row(vec_id=10, label=0, embedding=[1.0, 0.0]),
        Row(vec_id=11, label=0, embedding=[0.6, 0.8]),
        Row(vec_id=12, label=0, embedding=[0.6, 0.8]),
    ]
    out = {r["vec_id"]: r for r in knn_within_cell(spark.createDataFrame(rows)).collect()}
    assert out[10]["nn_id"] == 11  # same cosine, smaller id wins


# --- PII scrubbing -----------------------------------------------------------

def test_pii_counts_and_redaction(spark):
    text = (
        "mail me at a.b+c@example.org or see https://x.io/p?q=1 "
        "call 12345678 not 123456"
    )
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    cols = pii_cols("text")
    row = df.select(*[c.alias(n) for n, c in cols.items()]).collect()[0]
    assert row["n_emails"] == 1
    assert row["n_urls"] == 1
    assert row["n_digit_runs"] == 1  # 12345678 yes, 123456 (6 digits) no
    redacted = df.select(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), "https?://[^ \\t\\n]+", "<URL>"),
                "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
                "<EMAIL>",
            ),
            "[0-9]{7,}",
            "<NUM>",
        ).alias("r")
    ).collect()[0]["r"]
    assert "<EMAIL>" in redacted and "<URL>" in redacted and "<NUM>" in redacted
    assert "example.org" not in redacted and "x.io" not in redacted
    assert row["redacted_len"] == len(redacted)


def test_pii_url_swallows_contained_email_and_digits(spark):
    # the URL pattern must fire first: its query string contains an
    # email-shaped and digit-run-shaped substring
    text = "see http://h.com/a?e=x@y.zz&n=99999999 end"
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    cols = pii_cols("text")
    row = df.select(*[c.alias(n) for n, c in cols.items()]).collect()[0]
    # counts are measured on the RAW text (the email/digits ARE present),
    # but redaction collapses the whole URL into one token
    assert row["n_urls"] == 1
    assert row["redacted_len"] == len("see <URL> end")


# --- length buckets ----------------------------------------------------------

def test_length_bucket_boundaries(spark):
    df = spark.createDataFrame(
        [Row(n=1), Row(n=15), Row(n=16), Row(n=17), Row(n=128), Row(n=129)]
    )
    got = {
        r["n"]: r["b"]
        for r in df.select("n", length_bucket_col(F.col("n")).alias("b")).collect()
    }
    assert got == {1: 16, 15: 16, 16: 16, 17: 32, 128: 128, 129: 256}


def test_length_buckets_are_powers_of_two():
    assert all(b & (b - 1) == 0 for b in LENGTH_BUCKETS)
    assert LENGTH_BUCKETS == sorted(LENGTH_BUCKETS)


# --- per-group top fraction --------------------------------------------------

@pytest.mark.parametrize(
    "n,frac,expect",
    [(1, 0.75, 1), (2, 0.75, 2), (3, 0.75, 3), (4, 0.75, 3), (8, 0.75, 6), (10, 0.5, 5)],
)
def test_per_group_top_fraction_ceil_math(spark, n, frac, expect):
    rows = [Row(doc_id=i, source="s", score=float(i)) for i in range(n)]
    out = per_group_top_fraction(
        spark.createDataFrame(rows), F.col("score"), keep_fraction=frac
    )
    assert out.count() == expect


def test_per_group_top_fraction_keeps_highest_scores(spark):
    rows = [Row(doc_id=i, source="s", score=float(i)) for i in range(4)]
    kept = {
        r["doc_id"]
        for r in per_group_top_fraction(
            spark.createDataFrame(rows), F.col("score"), keep_fraction=0.75
        ).collect()
    }
    assert kept == {1, 2, 3}  # ceil(3) best scores; doc 0 (lowest) pruned


def test_per_group_top_fraction_is_per_group(spark):
    rows = [Row(doc_id=i, source=f"s{i % 2}", score=float(i)) for i in range(8)]
    out = per_group_top_fraction(
        spark.createDataFrame(rows), F.col("score"), keep_fraction=0.5
    )
    by_src = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    assert by_src == {"s0": 2, "s1": 2}


# --- temperature mixture -----------------------------------------------------

def test_temperature_alpha_one_is_identity(spark):
    rows = [Row(doc_id=i, source="a" if i < 30 else "b") for i in range(40)]
    out = temperature_weights(spark.createDataFrame(rows), alpha=1.0).collect()
    for r in out:
        assert abs(r["tempered_share"] - r["raw_share"]) < 1e-9


def test_temperature_flattens_toward_uniform(spark):
    rows = [Row(doc_id=i, source="big" if i < 90 else "small") for i in range(100)]
    out = {r["source"]: r for r in temperature_weights(
        spark.createDataFrame(rows), alpha=0.5).collect()}
    assert out["big"]["raw_share"] == pytest.approx(0.9)
    # tempered share moves toward 0.5 but stays ordered
    assert 0.5 < out["big"]["tempered_share"] < 0.9
    assert out["small"]["tempered_share"] > out["small"]["raw_share"]
    # shares still sum to 1
    assert math.isclose(
        sum(r["tempered_share"] for r in out.values()), 1.0, abs_tol=2e-9
    )
    # caps never exceed the corpus
    assert sum(r["sample_cap"] for r in out.values()) <= 100


# --- span dedup --------------------------------------------------------------

def test_span_dedup_detects_cross_doc_boilerplate(spark):
    from options_data_pipeline_spark.functions.text import span_dedup_stats

    boiler = " ".join(f"w{i}" for i in range(8))  # one exact 8-token span
    rows = [
        Row(doc_id=1, text=boiler + " unique one tail"),
        Row(doc_id=2, text=boiler + " other words entirely here"),
        Row(doc_id=3, text="completely different text with no overlap at all"),
    ]
    out = {r["doc_id"]: r for r in span_dedup_stats(
        spark.createDataFrame(rows), span_tokens=8).collect()}
    assert out[1]["n_shared_spans"] == 1 and out[2]["n_shared_spans"] == 1
    assert out[3]["n_shared_spans"] == 0
    assert out[1]["n_spans"] == 2  # 11 tokens -> 2 spans (8 + short tail)
    assert out[1]["shared_fraction"] == 0.5


def test_span_dedup_within_doc_repeat_is_not_shared(spark):
    from options_data_pipeline_spark.functions.text import span_dedup_stats

    span = " ".join(f"x{i}" for i in range(8))
    # the same span twice in ONE doc: within-doc repetition, not cross-doc
    rows = [Row(doc_id=1, text=span + " " + span)]
    [r] = span_dedup_stats(spark.createDataFrame(rows), span_tokens=8).collect()
    assert r["n_spans"] == 2 and r["n_shared_spans"] == 0


# --- indicators / vwap edge cases -------------------------------------------

def test_bollinger_warmup_and_band_order(spark):
    from options_data_pipeline_spark.operators.indicators import bollinger_bands

    rows = [Row(symbol="A", window_start=i, close=100.0 + (i % 7)) for i in range(30)]
    out = bollinger_bands(spark.createDataFrame(rows), n=20, k=2.0).collect()
    by_ws = {r["window_start"]: r for r in out}
    assert by_ws[18]["bb_mid"] is None  # warmup: only 19 candles seen
    r = by_ws[25]
    assert r["bb_lower"] < r["bb_mid"] < r["bb_upper"]
    # symmetric bands around the mid (9-dp grid)
    assert abs((r["bb_upper"] - r["bb_mid"]) - (r["bb_mid"] - r["bb_lower"])) < 2e-9


def test_ema_hand_computed(spark):
    from recursion_refs import _ema_series

    # n=3, alpha=0.5: seed SMA(1,2,3)=2; then 2+(4-2)*.5=3; 3+(5-3)*.5=4
    assert _ema_series([1, 2, 3, 4, 5], 3) == [None, None, 2.0, 3.0, 4.0]


def test_rsi_hand_computed_and_edges(spark):
    from recursion_refs import _rsi_series

    # n=2 over 1,2,3,2: deltas +1,+1,-1; seed at i=2: ag=1, al=0 -> 100
    out = _rsi_series([1.0, 2.0, 3.0, 2.0], 2)
    assert out[0] is None and out[1] is None
    assert out[2] == 100.0  # all-gain edge
    # next: ag=(1*1+0)/2=.5, al=(0*1+1)/2=.5 -> rs=1 -> rsi=50
    assert out[3] == 50.0
    # monotone sanity: falling-only series pins to 0
    falling = _rsi_series([5.0, 4.0, 3.0, 2.0], 2)
    assert falling[2] == 0.0


def test_ema_rsi_dataframe_warmup_nulls(spark):
    from options_data_pipeline_spark.operators.indicators import ema, rsi
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    rows = [
        Row(symbol="A", window_start=base + timedelta(hours=i), close=float(10 + i))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows)
    e = {r["window_start"]: r["ema_12"] for r in ema(df, n=12).collect()}
    assert e[base + timedelta(hours=10)] is None  # warmup
    assert e[base + timedelta(hours=11)] is not None  # seed at 12th candle
    r14 = {r["window_start"]: r["rsi_14"] for r in rsi(df, n=14).collect()}
    assert r14[base + timedelta(hours=13)] is None
    assert r14[base + timedelta(hours=14)] == 100.0  # strictly rising


# --- budget sample -----------------------------------------------------------

def test_budget_sample_greedy_fill_includes_crossing_doc(spark):
    from options_data_pipeline_spark.functions.sampling import budget_sample

    rows = [
        Row(doc_id=1, source="s", n_tokens=400, score=3.0),
        Row(doc_id=2, source="s", n_tokens=400, score=2.0),  # crosses 600 here
        Row(doc_id=3, source="s", n_tokens=400, score=1.0),  # starts over budget
    ]
    kept = {r["doc_id"] for r in budget_sample(
        spark.createDataFrame(rows), token_budget=600, score=F.col("score")).collect()}
    assert kept == {1, 2}  # doc 2 starts at 400 < 600 (included), doc 3 at 800


def test_budget_sample_is_per_source(spark):
    from options_data_pipeline_spark.functions.sampling import budget_sample

    rows = [
        Row(doc_id=i, source=f"s{i % 2}", n_tokens=500, score=float(i)) for i in range(6)
    ]
    out = budget_sample(spark.createDataFrame(rows), token_budget=600, score=F.col("score"))
    by_src = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    assert by_src == {"s0": 2, "s1": 2}  # 500+500 crosses 600 at doc 2 each


def test_zorder_clusters_both_dimensions(spark):
    """The z-order claim, measured: bucket a 32×32 grid of (x, y) keys
    16 ways by Morton value vs lexicographic (x, y) sort. Z-buckets must
    span ≤ ~1/2 of EACH dimension (theory: 1/√16 = 1/4 + boundary
    slack); the lexicographic sort's buckets span the FULL y domain.
    Also pins bit-interleave exactness: zvalue(1,1) with 2 cols = 3."""
    from pyspark.sql import Window

    from options_data_pipeline_spark.functions.zorder import zorder_buckets, zvalue_col

    grid = spark.createDataFrame(
        [(x, y) for x in range(32) for y in range(32)], "x int, y int"
    )
    zb = zorder_buckets(grid, ["x", "y"], n_buckets=16, bits=5)
    spans = (
        zb.groupBy("bucket")
        .agg(
            (F.max("x") - F.min("x")).alias("xs"),
            (F.max("y") - F.min("y")).alias("ys"),
        )
        .collect()
    )
    assert all(r.xs <= 16 and r.ys <= 16 for r in spans), spans
    lex = grid.withColumn(
        "bucket", F.ntile(16).over(Window.orderBy("x", "y"))
    )
    lex_spans = (
        lex.groupBy("bucket")
        .agg((F.max("y") - F.min("y")).alias("ys"))
        .collect()
    )
    assert all(r.ys == 31 for r in lex_spans)  # lexicographic: full y span

    one = spark.range(1).select(F.lit(1).alias("a"), F.lit(1).alias("b"))
    assert one.select(zvalue_col(["a", "b"], bits=2).alias("z")).collect()[0].z == 3

    import pytest as _pytest

    with _pytest.raises(ValueError):
        zvalue_col(["a", "b", "c"], bits=32)  # 96 bits > 62-bit budget


def test_pagerank_invariants(spark):
    """PageRank sanity on a known asymmetric graph: ranks sum to ~1 on a
    strongly-connected graph, the node every other node points at ranks
    highest, and symmetric positions tie exactly (grid determinism)."""
    from options_data_pipeline_spark.functions.graph import pagerank

    # star into 'hub': a->hub, b->hub, c->hub, hub->a,b,c (connected)
    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"),
         ("hub", "a"), ("hub", "b"), ("hub", "c")],
        "src string, dst string",
    )
    ranks = {r.node: r.rank for r in pagerank(edges, iters=5).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert ranks["hub"] > ranks["a"]
    assert ranks["a"] == ranks["b"] == ranks["c"]  # exact tie on the grid


def test_pagerank_dangling_redistribution(spark):
    """On a graph WITH a sink, the default drops the sink's mass every
    round (Σrank < 1) while redistribute=True conserves it (Σrank ≈ 1)
    and still ranks the sink highest — the citation-graph contract."""
    from options_data_pipeline_spark.functions.graph import pagerank

    # chain into a sink: a->c, b->c, c has no out-edges
    edges = spark.createDataFrame(
        [("a", "c"), ("b", "c")], "src string, dst string"
    )
    leak = {r.node: r.rank for r in pagerank(edges, iters=5).collect()}
    keep = {
        r.node: r.rank
        for r in pagerank(edges, iters=5, redistribute=True).collect()
    }
    assert sum(leak.values()) < 0.9  # sink mass visibly leaked
    assert abs(sum(keep.values()) - 1.0) < 1e-6
    assert keep["c"] > keep["a"] and keep["a"] == keep["b"]
    # redistribution raises everyone relative to the leaking variant
    assert all(keep[n] > leak[n] for n in ("a", "b"))
    # strongly-connected graphs are unaffected by the option
    sym = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    plain = sorted(map(tuple, pagerank(sym, iters=3).collect()))
    redis = sorted(map(tuple, pagerank(sym, iters=3, redistribute=True).collect()))
    assert plain == redis


def test_hll_registers_merge_exactly(spark):
    """The property that makes HLL a 1000-executor sketch: registers of
    two disjoint data slices combine by per-register MAX into exactly
    the registers (hence exactly the estimate) of the union."""
    from pyspark.sql import functions as F

    def registers(df):
        h = F.conv(F.substring(F.md5(F.col("k")), 1, 15), 16, 10).cast("long")
        w = (h / 64).cast("long")
        rho = F.when(w == 0, F.lit(55)).otherwise(
            F.lit(55) - F.length(F.conv(w.cast("string"), 10, 2))
        )
        return (
            df.select(h.alias("h"), rho.alias("rho"))
            .select((F.col("h") % 64).alias("bucket"), "rho")
            .groupBy("bucket")
            .agg(F.max("rho").alias("reg"))
        )

    a = spark.createDataFrame([(f"u{i}",) for i in range(0, 300)], "k string")
    b = spark.createDataFrame([(f"u{i}",) for i in range(300, 700)], "k string")
    u = a.unionByName(b)
    merged = (
        registers(a)
        .unionByName(registers(b))
        .groupBy("bucket")
        .agg(F.max("reg").alias("reg"))
    )
    direct = {r.bucket: r.reg for r in registers(u).collect()}
    assert {r.bucket: r.reg for r in merged.collect()} == direct


def test_triangle_counts_known_graph(spark):
    """Exact triangle counts on a hand-checkable graph: K4 plus a
    pendant vertex — every clique node sits in C(3,2)=3 triangles, the
    pendant in none; duplicate edges, reversed orientations and
    self-loops must not change anything (canonicalized away)."""
    from options_data_pipeline_spark.functions.graph import triangle_counts

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    edges = k4 + [("d", "e")]
    # adversarial input: reversed duplicates + a self-loop
    noisy = edges + [(b, a) for a, b in edges] + [("a", "a")]
    df = spark.createDataFrame(noisy, "u string, v string")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 0}


def test_triangle_counts_matches_naive(spark):
    """Degree-oriented counting equals the naive all-triples count on a
    seeded random graph (the orientation trick must be lossless)."""
    import itertools
    import random

    from options_data_pipeline_spark.functions.graph import triangle_counts

    rng = random.Random(7)
    nodes = list(range(24))
    edges = [(a, b) for a, b in itertools.combinations(nodes, 2) if rng.random() < 0.3]
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expected = {
        n: sum(
            1
            for x, y in itertools.combinations(sorted(adj[n]), 2)
            if y in adj[x]
        )
        for n in nodes
    }
    df = spark.createDataFrame(edges, "u int, v int")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    # nodes with no edges don't appear in the output graph
    expected = {n: c for n, c in expected.items() if adj[n]}
    assert got == expected


def test_cms_estimate_dominates_exact(spark):
    """Count-Min invariant: the sketch NEVER undercounts — estimate ≥
    exact for every item, and the reported overestimate is their
    difference (pure collision mass)."""
    from options_data_pipeline_spark import registry

    df = registry.queries()["cms_heavy_hitters"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.cms_estimate >= r.n_exact
        assert r.overestimate == r.cms_estimate - r.n_exact


def test_kcore_known_graph(spark):
    """k=2 core of triangle+chain: the triangle survives (each node
    keeps 2 in-core partners), the chain peels away end-in; in-core
    degrees are reported against the FINAL core."""
    from options_data_pipeline_spark.functions.graph import kcore

    edges = [("a", "b"), ("b", "c"), ("a", "c"),  # triangle
             ("c", "d"), ("d", "e"), ("e", "f")]  # chain hanging off it
    df = spark.createDataFrame(edges, "u string, v string")
    got = {r.node: r.core_deg for r in kcore(df, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}
    # k=3: the triangle alone can't sustain degree 3 → empty core
    assert kcore(df, k=3).count() == 0


def test_kcore_nonconvergence_raises(spark):
    """A long chain peels one layer per round from each end; with
    max_iters too small the loop must refuse to return a non-fixpoint."""
    import pytest as _pytest

    from options_data_pipeline_spark.functions.graph import kcore

    chain = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(chain, "u int, v int")
    with _pytest.raises(RuntimeError, match="did not converge"):
        kcore(df, k=2, max_iters=2)
    # enough rounds: chain fully dissolves to an empty 2-core
    assert kcore(df, k=2, max_iters=12).count() == 0


def test_histogram_sketch_error_bound(spark):
    """The equal-width histogram quantile estimate is within TWO bin
    widths of quantile_cont: interpolation can't leave the bracket bin
    of rank q*n (one width), and quantile_cont's (n-1)*q rank
    convention sits within one rank of that target, adding at most one
    more bin in a sparse tail (the gap vanishes as n grows)."""
    from pyspark.sql import functions as F

    from options_data_pipeline_spark import registry
    from options_data_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    df = registry.queries()["histogram_quantile_sketch"](spark, sf)
    ev = load_table(spark, "events", sf).filter(F.col("value").isNotNull())
    lo, hi = ev.agg(F.min("value"), F.max("value")).first()
    width = (hi - lo) / 128
    for r in df.collect():
        assert abs(r.p50_est - r.p50_exact) <= 2 * width
        assert abs(r.p95_est - r.p95_exact) <= 2 * width


def test_sketch_queries_degenerate_range(spark, tmp_path):
    """All `value`s equal ⇒ histogram width 0: both sketch queries and
    their DuckDB oracles must agree via the bin-0 guard (Spark would
    otherwise NaN→NULL the bin while DuckDB errors casting NaN to
    BIGINT — a cross-engine divergence)."""
    import duckdb
    import pandas as pd

    from options_data_pipeline_spark import registry

    ev = pd.DataFrame(
        {
            "event_id": range(12),
            "ts": pd.to_datetime("2024-01-02 09:30:00")
            + pd.to_timedelta(range(12), "s"),
            "user_id": [i % 4 for i in range(12)],
            "event_type": (["click", "view", "buy"] * 4),
            "value": [42.5] * 12,
            "props": ["{}"] * 12,
        }
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    sf = str(tmp_path)
    ev.to_parquet(tmp_path / "events.parquet")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    oracles = registry.oracle_sql()
    for name in ("histogram_quantile_sketch", "approx_sketch_stats"):
        got = registry.queries()[name](spark, sf).collect()
        assert len(got) == 3
        for r in got:
            assert r.p50_est == 42.5 and r.p95_est == 42.5  # width-0 ⇒ lo
        dd = con.execute(oracles[name]).fetch_df()
        assert len(dd) == 3
        assert set(dd["p50_est"]) == {42.5} and set(dd["p95_est"]) == {42.5}


def test_kmv_overlap_internal_consistency(spark):
    """KMV sketch invariants at sf0.001 (sets smaller than k=256, so
    every estimate collapses to the EXACT value — the small-set branch
    of the estimator): est_a/est_b equal the true distinct counts,
    est_union equals the true union, and jaccard_est equals exact."""
    from options_data_pipeline_spark import registry

    df = registry.queries()["kmv_overlap_estimate"](
        spark, "/root/testdata/sf0.001"
    )
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.n_union_exact >= r.n_inter_exact
        if r.n_union_exact < 256:  # sketch IS the set: exact branch
            assert r.est_union == float(r.n_union_exact)
            assert abs(r.jaccard_est - r.jaccard_exact) < 1e-12


def test_kmv_estimates_track_exact_at_sf001(spark):
    """Even in estimation mode the KMV numbers must stay in a sane band
    (k=256 → relative error ~1/sqrt(k) ≈ 6%; allow 4σ)."""
    from options_data_pipeline_spark import registry

    df = registry.queries()["kmv_overlap_estimate"](
        spark, "/root/testdata/sf0.01"
    )
    for r in df.collect():
        assert 0.0 <= r.jaccard_est <= 1.0
        assert r.est_union == float(r.n_union_exact) or (
            abs(r.est_union - r.n_union_exact) / r.n_union_exact < 0.25
        )


def test_pareto_frontier_matches_bruteforce(spark):
    """The windowed skyline must equal the O(n²) dominance definition,
    checked exhaustively per brand at sf0.001."""
    from collections import defaultdict

    from options_data_pipeline_spark import registry
    from options_data_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r.p_partkey)
        for r in registry.queries()["pareto_frontier"](spark, sf).collect()
    }
    parts = load_table(spark, "part", sf).select(
        "p_partkey", "p_brand", "p_retailprice", "p_size"
    ).collect()
    by_brand = defaultdict(list)
    for r in parts:
        by_brand[r.p_brand].append(
            (round(r.p_retailprice * 100), r.p_size, r.p_partkey)
        )
    want = set()
    for rows in by_brand.values():
        for c, s, k in rows:
            dominated = any(
                ca <= c and sa >= s and (ca < c or sa > s)
                for ca, sa, _ in rows
            )
            if not dominated:
                want.add(k)
    assert got == want


def test_dau_wau_mau_monotone_invariants(spark):
    """Trailing actives dominate: dau ≤ wau ≤ mau every day, and each
    trailing count is at least the max daily count inside its window
    (the scaffold guard: a bucket silent TODAY must still contribute
    its earlier actives to WAU/MAU)."""
    from options_data_pipeline_spark import registry

    rows = sorted(
        registry.queries()["dau_wau_mau"](
            spark, "/root/testdata/sf0.001"
        ).collect(),
        key=lambda r: r.day,
    )
    assert rows
    by_day = {r.day: r for r in rows}
    days = [r.day for r in rows]
    for i, r in enumerate(rows):
        assert r.dau <= r.wau <= r.mau
        window7 = [
            by_day[d].dau for d in days if 0 <= (r.day - d).days <= 6
        ]
        assert r.wau >= max(window7)


def test_sequence_gap_audit_exact_accounting(spark):
    """Conservation law of the gap report: present + missing must equal
    the observed global id range EXACTLY — cross-block and whole-block
    losses included (the pre-scaffold version only counted intra-block
    islands)."""
    from pyspark.sql import functions as F

    from options_data_pipeline_spark import registry
    from options_data_pipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    rep = registry.queries()["sequence_gap_audit"](spark, sf).collect()
    h = (
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 13
    )
    present = (
        load_table(spark, "events", sf)
        .select(F.col("event_id").alias("id"))
        .filter(F.col("id").isNotNull() & (h != 0))
    )
    gmin, gmax, n = present.agg(
        F.min("id"), F.max("id"), F.count("id")
    ).first()
    assert sum(r.n_present for r in rep) == n
    assert sum(r.n_present + r.n_missing for r in rep) == gmax - gmin + 1


def test_lpa_known_graph(spark):
    """Two triangles joined by one bridge edge: after a few rounds each
    triangle converges to its own min label; the deterministic
    tie-break (smallest label among max-frequency) decides the bridge
    endpoints' allegiance reproducibly."""
    from options_data_pipeline_spark.functions.graph import label_propagation

    edges = [(1, 2), (2, 3), (1, 3),      # triangle A
             (4, 5), (5, 6), (4, 6),      # triangle B
             (3, 4)]                      # bridge
    df = spark.createDataFrame(edges, "u int, v int")
    got = {r.node: r.label for r in label_propagation(df, rounds=4).collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6}
    # triangle A all agree; B's interior nodes agree with each other
    assert got[1] == got[2]
    assert got[5] == got[6]
    # labels are real node ids
    assert set(got.values()) <= {1, 2, 3, 4, 5, 6}


def test_holt_forecast_tracks_linear_series(spark):
    """On an exactly linear series the Holt recursion locks on: level
    equals the series, trend equals the slope, and the 3-step forecast
    is exact — the defining fixed point of double-exponential
    smoothing. A single-row symbol degrades to (level=x, trend=NULL)."""
    from datetime import datetime, timedelta

    from options_data_pipeline_spark.operators.indicators import holt_linear

    base = datetime(2024, 1, 1)
    rows = [("A", base + timedelta(hours=i), 100.0 + 2.0 * i) for i in range(30)]
    rows.append(("B", base, 50.0))
    df = spark.createDataFrame(
        rows, "symbol string, window_start timestamp, close double"
    )
    out = {(r.symbol, r.window_start): r for r in holt_linear(df).collect()}
    last = out[("A", base + timedelta(hours=29))]
    assert abs(last.level - (100.0 + 2.0 * 29)) < 1e-9
    assert abs(last.trend - 2.0) < 1e-9
    assert abs(last.forecast_3 - (100.0 + 2.0 * 32)) < 1e-9
    b = out[("B", base)]
    assert b.level == 50.0 and b.trend is None and b.forecast_3 is None
