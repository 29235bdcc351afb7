"""Property-based tests (hypothesis): OHLC invariants and ATR behavior
over arbitrary tick/TR series — beyond the reference's example-based
suite."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import given, settings, strategies as st

from options_data_pipeline_spark.operators.ohlc import ohlc_candles
from recursion_refs import _ema_series, _rsi_series, _wilder

prices = st.lists(
    st.floats(min_value=0.01, max_value=1e6, allow_nan=False, allow_infinity=False),
    min_size=1,
    max_size=40,
)


@settings(max_examples=20, deadline=None)
@given(prices)
def test_ohlc_invariants_hold_for_any_series(spark_prop, ps):
    base = datetime(2024, 1, 1, 9, 15)
    rows = [("A", p, base + timedelta(seconds=i % 290), i) for i, p in enumerate(ps)]
    df = spark_prop.createDataFrame(rows, "symbol string, price double, ts timestamp, event_id long")
    [c] = ohlc_candles(df).collect()
    assert c.high == max(ps) and c.low == min(ps)
    assert c.open == ps[0] and c.close == ps[-1]  # arrival order
    assert c.high >= max(c.open, c.close) and c.low <= min(c.open, c.close)
    assert c.tick_count == len(ps)


trs = st.lists(
    st.floats(min_value=0.0, max_value=1e5, allow_nan=False, allow_infinity=False),
    min_size=1,
    max_size=60,
)


@settings(max_examples=200, deadline=None)
@given(trs)
def test_wilder_atr_properties(ts):
    out = _wilder(ts, 14)
    assert len(out) == len(ts)
    # warmup: exactly min(len, 13) leading Nones
    n_none = sum(1 for v in out if v is None)
    assert n_none == min(len(ts), 13)
    # ATR never negative, and never exceeds the running max TR
    seen = [v for v in out if v is not None]
    if seen:
        assert all(v >= 0 for v in seen)
        assert max(seen) <= max(ts) + 1e-9
    # smoothing bound: each step moves ATR toward TR by at most 1/14
    for i in range(14, len(ts)):
        if out[i - 1] is not None and out[i] is not None:
            expected = (out[i - 1] * 13 + ts[i]) / 14
            assert out[i] == pytest.approx(max(expected, 0.0))


sigs32 = st.lists(
    st.integers(min_value=0, max_value=(1 << 32) - 1), min_size=2, max_size=12, unique=True
)


@settings(max_examples=10, deadline=None)
@given(sigs32)
def test_simhash_banding_equals_naive_for_any_signatures(spark_prop, sig_values):
    """Pigeonhole banding is EXACT: for arbitrary 32-bit signatures the
    banded pairing equals the naive quadratic Hamming join."""
    from options_data_pipeline_spark.functions.dedupe import (
        simhash_pairs_from_signatures,
    )

    rows = list(enumerate(sig_values))
    df = spark_prop.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs_from_signatures(df, max_hamming=3).collect()
    }
    want = {
        (a, b, bin(sa ^ sb).count("1"))
        for a, sa in rows
        for b, sb in rows
        if a < b and bin(sa ^ sb).count("1") <= 3
    }
    assert got == want


texts = st.text(alphabet="abcdefgh ", min_size=0, max_size=60)
shared_passages = st.text(alphabet="qrstuvwxyz", min_size=19, max_size=40)


@settings(max_examples=10, deadline=None)
@given(texts, texts, shared_passages)
def test_winnowing_guarantee_for_any_shared_passage(spark_prop, pre, post, shared):
    """Any two docs embedding the same ≥ k+w-1 (=19) char passage share a
    winnowing fingerprint, wherever the passage sits in either doc."""
    from options_data_pipeline_spark.functions.text import winnow_fingerprints

    df = spark_prop.createDataFrame(
        [(0, f"{pre} {shared} {post}"), (1, f"{post} {shared} {pre}")],
        "doc_id long, text string",
    )
    fps = {}
    for r in winnow_fingerprints(df, k=12, w=8).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[0] & fps[1]


@pytest.fixture(scope="module")
def spark_prop(spark):
    return spark


words = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=4), min_size=0, max_size=60
)


@settings(max_examples=15, deadline=None)
@given(words)
def test_chunking_covers_document_exactly(spark_prop, ws):
    """Chunk invariants for any token sequence: stride-trimmed chunks
    reconstruct the document exactly (no token lost or duplicated beyond
    the declared overlap), every chunk ≤ chunk_tokens, and only the tail
    chunk may be shorter than the overlap-free stride."""
    from options_data_pipeline_spark.functions.text import chunk_documents

    chunk, overlap = 8, 3
    stride = chunk - overlap
    df = spark_prop.createDataFrame([(1, " ".join(ws))], "doc_id long, text string")
    rows = sorted(chunk_documents(df, chunk, overlap).collect(), key=lambda r: r.chunk_id)
    toks = " ".join(ws).split()
    # reconstruction: first chunk whole, later chunks minus the overlap
    recon = []
    for r in rows:
        ct = r.chunk_text.split()
        assert len(ct) <= chunk
        recon.extend(ct if r.chunk_id == 0 else ct[overlap - len(ct):] if len(ct) < overlap else ct[overlap:])
    # chunks start every `stride` tokens → trimming `overlap` from each
    # non-first chunk yields the original sequence
    if toks:
        assert recon == toks
    else:
        assert [r.n_tokens for r in rows] == [0]


@settings(max_examples=15, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=40))
def test_packing_never_overfills_except_singletons(spark_prop, sizes):
    """Packing invariants for any size sequence: bin ids are contiguous
    and non-decreasing in doc order; a bin's total exceeds the budget only
    when it holds a single oversized document."""
    from collections import defaultdict

    from options_data_pipeline_spark.functions.sampling import pack_sequences

    budget = 60
    docs = spark_prop.createDataFrame(
        [(i, "s", "w " * n) for i, n in enumerate(sizes)],
        "doc_id long, source string, text string",
    )
    rows = sorted(pack_sequences(docs, budget=budget).collect(), key=lambda r: r.doc_id)
    bins = defaultdict(list)
    for r in rows:
        bins[r.bin_id].append(r.n_tokens)
    assert sorted(bins) == list(range(len(bins)))  # contiguous ids
    assert [r.bin_id for r in rows] == sorted(r.bin_id for r in rows)  # monotone
    for members in bins.values():
        if sum(members) > budget:
            assert len(members) == 1  # only an oversized singleton may overflow


def test_stratified_sample_stable_under_growth(spark_prop):
    """Adding documents never changes which of the ORIGINAL docs rank in
    the top-N of their stratum relative to each other (hash order is a
    pure function of ids) — new docs may displace old ones, but never
    reorder them."""
    from options_data_pipeline_spark.functions.sampling import stratified_sample

    def sample(n_docs, k):
        df = spark_prop.createDataFrame(
            [(i, f"s{i % 2}") for i in range(n_docs)], "doc_id long, source string"
        )
        return {
            r.doc_id: (r.source, r.sample_rank)
            for r in stratified_sample(df, per_stratum=k).collect()
        }

    small, big = sample(100, 10), sample(200, 10)
    for doc, (src, _rank) in small.items():
        if doc in big:
            # relative order within the stratum is preserved
            peers = [d for d in small if small[d][0] == src and d in big]
            order_small = sorted(peers, key=lambda d: small[d][1])
            order_big = sorted(peers, key=lambda d: big[d][1])
            assert order_small == order_big
            break


# --- round-4 operator properties --------------------------------------------

@settings(max_examples=30, deadline=None)
@given(st.lists(st.floats(min_value=0.01, max_value=1e4, allow_nan=False,
                          allow_infinity=False), min_size=1, max_size=60),
       st.integers(min_value=2, max_value=10))
def test_ema_properties(xs, n):
    """EMA invariants: warmup NULLs before the seed, then every value lies
    within the running [min, max] envelope of the inputs seen so far."""
    out = _ema_series(xs, n)
    assert len(out) == len(xs)
    for i, v in enumerate(out):
        if i + 1 < n:
            assert v is None
        else:
            lo, hi = min(xs[: i + 1]), max(xs[: i + 1])
            assert lo - 1e-9 <= v <= hi + 1e-9


@settings(max_examples=30, deadline=None)
@given(st.lists(st.floats(min_value=0.01, max_value=1e4, allow_nan=False,
                          allow_infinity=False), min_size=2, max_size=60),
       st.integers(min_value=1, max_value=10))
def test_rsi_bounded_and_monotone_edges(xs, n):
    """RSI stays in [0, 100]; a strictly rising tail pushes toward 100 and
    a strictly falling series pins at 0 after warmup."""
    out = _rsi_series(xs, n)
    for v in out:
        if v is not None:
            assert -1e-9 <= v <= 100 + 1e-9
    falling = _rsi_series(sorted(set(xs), reverse=True), 1)
    for v in falling[1:]:
        if v is not None:
            assert v == 0.0


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=30),
       st.integers(min_value=1, max_value=2000))
def test_budget_sample_prefix_property(spark_prop, tokens, budget):
    """budget_sample keeps exactly a PREFIX of the score-ordered docs: the
    selected set is the shortest best-first prefix whose running total
    crosses the budget (crossing doc included), never a subset skipping a
    better doc."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F
    from options_data_pipeline_spark.functions.sampling import budget_sample

    rows = [Row(doc_id=i, source="s", n_tokens=t, score=float(len(tokens) - i))
            for i, t in enumerate(tokens)]
    kept = sorted(
        r["doc_id"] for r in budget_sample(
            spark_prop.createDataFrame(rows), token_budget=budget,
            score=F.col("score")).collect()
    )
    # expected: walk docs in score order (= doc_id order here), include
    # while the running total BEFORE the doc is under budget
    exp, cum = [], 0
    for i, t in enumerate(tokens):
        if cum < budget:
            exp.append(i)
        cum += t
    assert kept == exp


@settings(max_examples=25, deadline=None)
@given(st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=80),
       st.floats(min_value=0.05, max_value=1.0))
def test_temperature_weights_properties(spark_prop, sources, alpha):
    """Tempered shares: sum to 1, preserve the source-size ORDER, and
    compress ratios toward uniform (bigger source's share shrinks
    relative to raw when alpha < 1)."""
    from pyspark.sql import Row
    from options_data_pipeline_spark.functions.sampling import temperature_weights

    rows = [Row(doc_id=i, source=s) for i, s in enumerate(sources)]
    out = temperature_weights(spark_prop.createDataFrame(rows), alpha=alpha).collect()
    total = sum(r["tempered_share"] for r in out)
    assert abs(total - 1.0) < 5e-9
    by_n = sorted(out, key=lambda r: r["n_docs"])
    for a, b in zip(by_n, by_n[1:]):
        assert a["tempered_share"] <= b["tempered_share"] + 1e-12
        if alpha < 1.0 and a["n_docs"] < b["n_docs"]:
            # ratio compression toward uniform
            raw_ratio = b["raw_share"] / a["raw_share"]
            temp_ratio = b["tempered_share"] / a["tempered_share"]
            assert temp_ratio <= raw_ratio + 1e-9


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc d", min_size=5, max_size=30), min_size=2, max_size=10
    ),
    st.integers(min_value=1, max_value=9),
)
def test_incremental_lsh_equals_full_selfjoin_restriction(spark_prop, texts, cut):
    """For ANY corpus and ANY corpus/batch split, probing the batch
    against an index built from the corpus must produce exactly the
    cross-split restriction of the full self-join estimates — the
    incremental path may never invent or lose a candidate."""
    import tempfile

    from options_data_pipeline_spark.functions.dedupe import (
        build_lsh_index,
        incremental_lsh_candidates,
        minhash_jaccard_estimates,
    )

    df = spark_prop.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    corpus = df.filter(f"doc_id % 10 < {cut}")
    batch = df.filter(f"doc_id % 10 >= {cut}")
    if not corpus.take(1) or not batch.take(1):
        return
    with tempfile.TemporaryDirectory() as d:
        idx = build_lsh_index(corpus, f"{d}/idx")
        got = {
            (r.doc_a, r.doc_b): r.jaccard_est
            for r in incremental_lsh_candidates(batch, idx).collect()
        }
    # full self-join orders pairs doc_a < doc_b; incremental orders
    # (corpus, batch) — keep cross-split pairs, corpus-side first
    in_corpus = lambda i: i % 10 < cut  # noqa: E731
    want = {}
    for r in minhash_jaccard_estimates(df).collect():
        if in_corpus(r.doc_a) and not in_corpus(r.doc_b):
            want[(r.doc_a, r.doc_b)] = r.jaccard_est
        elif in_corpus(r.doc_b) and not in_corpus(r.doc_a):
            want[(r.doc_b, r.doc_a)] = r.jaccard_est
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcde"), min_size=1, max_size=8),
        min_size=1,
        max_size=8,
    )
)
def test_unigram_logprob_matches_python_model(spark_prop, docs_toks):
    """The Spark unigram score equals a pure-Python unigram LM on the
    same corpus (to grid tolerance): per-token logp = round(ln(c/T), 6),
    doc score = mean."""
    import math
    from collections import Counter

    from options_data_pipeline_spark.functions.text import unigram_logprob_scores

    texts = [" ".join(toks) for toks in docs_toks]
    df = spark_prop.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = {r.doc_id: r for r in unigram_logprob_scores(df).collect()}

    counts = Counter(t for toks in docs_toks for t in toks)
    total = sum(counts.values())
    for i, toks in enumerate(docs_toks):
        lps = [round(math.log(counts[t] / total), 6) for t in toks]
        assert out[i].n_toks == len(toks)
        assert out[i].sum_logprob == pytest.approx(sum(lps), abs=1e-9)
        assert out[i].avg_logprob == pytest.approx(sum(lps) / len(lps), abs=1e-9)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 62) - 1),
            st.integers(min_value=0, max_value=(1 << 62) - 1),
        ),
        min_size=2,
        max_size=12,
        unique=True,
    )
)
def test_2w_simhash_banding_equals_naive(spark_prop, sig_pairs):
    """Pigeonhole exactness for the TWO-WORD signature: banded pairing
    over (sh_lo, sh_hi) returns exactly the naive all-pairs Hamming ≤ 3
    set, for ANY signatures — including bands straddling the word
    boundary."""
    from options_data_pipeline_spark.functions.dedupe import (
        simhash_pairs_from_2w_signatures,
    )

    rows = [(i, lo, hi) for i, (lo, hi) in enumerate(sig_pairs)]
    sig = spark_prop.createDataFrame(rows, "doc_id long, sh_lo long, sh_hi long")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs_from_2w_signatures(sig, max_hamming=3).collect()
    }
    want = set()
    for i, (alo, ahi) in enumerate(sig_pairs):
        for j in range(i + 1, len(sig_pairs)):
            blo, bhi = sig_pairs[j]
            h = bin(alo ^ blo).count("1") + bin(ahi ^ bhi).count("1")
            if h <= 3:
                want.add((i, j, h))
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),   # key index
            st.integers(min_value=0, max_value=999),  # value
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=15, deadline=None)
def test_salted_join_equals_plain_join(spark_prop, rows):
    """The salt-replication rewrite is row-identical to the plain
    equi-join for ANY fact/dim distribution, including hot keys."""
    from pyspark.sql import functions as F

    from options_data_pipeline_spark.operators.skew import salted_join

    fact = spark_prop.createDataFrame(
        [(i, f"k{k}", v) for i, (k, v) in enumerate(rows)],
        "event_id long, key string, value long",
    )
    dim = spark_prop.createDataFrame(
        [(f"k{k}", k * 10) for k in range(10)], "key string, attr long"
    )
    salted = salted_join(fact, dim, "key", buckets=4)
    plain = fact.join(dim, "key")
    assert sorted(map(tuple, salted.select("event_id", "key", "value", "attr").collect())) == \
        sorted(map(tuple, plain.select("event_id", "key", "value", "attr").collect()))


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # user
            st.integers(min_value=0, max_value=50),  # ts offset (seconds)
            st.sampled_from(["a", "b", "c"]),        # state
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None)
def test_scd2_intervals_partition_each_users_timeline(spark_prop, rows):
    """For any event stream: per user, intervals are ordered and
    non-overlapping (valid_to(i) == valid_from(i+1)), exactly one open
    interval per user, and consecutive intervals never repeat a state."""
    from datetime import datetime, timedelta

    from options_data_pipeline_spark import registry  # noqa: F401  (pattern parity)
    from pyspark.sql import functions as F, Window

    base = datetime(2024, 1, 1)
    events = spark_prop.createDataFrame(
        [
            (i, u, base + timedelta(seconds=s), st_)
            for i, (u, s, st_) in enumerate(rows)
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        events.select(
            "user_id", F.col("event_type").alias("state"), "ts", "event_id",
            F.lag("event_type").over(w).alias("prev"),
        )
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("state")))
    )
    out = changes.select(
        "user_id", "state", F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    ).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    for _u, ivs in by_user.items():
        ivs.sort(key=lambda r: r.valid_from)
        opens = [r for r in ivs if r.valid_to is None]
        assert len(opens) == 1 and opens[0] is ivs[-1]
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from  # contiguous, non-overlapping
            assert a.state != b.state  # runs collapsed


asof_case = st.tuples(
    st.lists(  # left: (ts_seconds, )
        st.integers(min_value=0, max_value=3600), min_size=1, max_size=12
    ),
    st.lists(  # right: (ts_seconds, value)
        st.tuples(
            st.integers(min_value=0, max_value=3600),
            st.floats(min_value=1, max_value=100, allow_nan=False),
        ),
        min_size=0,
        max_size=12,
    ),
    st.integers(min_value=0, max_value=1200),  # tolerance seconds
)


@settings(max_examples=15, deadline=None)
@given(asof_case)
def test_asof_nearest_equals_brute_force(spark_prop, case):
    """asof_nearest ≡ per-row brute minimization of |right − left| within
    tolerance, ties to the earlier right timestamp — for ANY input."""
    from datetime import datetime, timedelta

    from options_data_pipeline_spark.operators.asof import asof_nearest

    lefts, rights, tol = case
    base = datetime(2024, 1, 1)
    left = spark_prop.createDataFrame(
        [(i, "A", base + timedelta(seconds=s), 0.0) for i, s in enumerate(lefts)],
        "event_id long, symbol string, ts timestamp, price double",
    )
    # unique right timestamps (duplicate window_starts don't occur in
    # candle frames, the operator's contract input)
    rmap = {}
    for s, v in rights:
        rmap.setdefault(s, v)
    right = spark_prop.createDataFrame(
        [("A", base + timedelta(seconds=s), v) for s, v in rmap.items()],
        "symbol string, window_start timestamp, close double",
    ) if rmap else spark_prop.createDataFrame(
        [], "symbol string, window_start timestamp, close double"
    )
    got = {
        r.event_id: (r.nearest_ts, r.nearest_close)
        for r in asof_nearest(
            left, right, value_cols=("close",), tolerance_s=float(tol)
        ).collect()
    }
    for i, s in enumerate(lefts):
        cands = [
            (abs(rs - s), rs, v) for rs, v in rmap.items() if abs(rs - s) <= tol
        ]
        if not cands:
            assert got[i] == (None, None), (i, s, tol)
        else:
            _, rs, v = min(cands)  # min diff, then earlier ts
            assert got[i] == (base + timedelta(seconds=rs), v), (i, s, tol)


@settings(max_examples=25, deadline=None)
@given(words)
def test_token_entropy_bounds(spark_prop, toks):
    """0 ≤ H ≤ ln(n_types) (+grid slack) for any document; H ≈ ln(n) for
    an all-distinct document; ttr = n_types/n_toks exactly."""
    import math

    from options_data_pipeline_spark.functions.text import token_entropy_scores

    text = " ".join(toks)
    df = spark_prop.createDataFrame([(0, text)], "doc_id long, text string")
    rows = token_entropy_scores(df).collect()
    if not toks:
        assert rows == []
        return
    r = rows[0]
    n_types = len(set(toks))
    assert r.n_toks == len(toks) and r.n_types == n_types
    assert -1e-6 <= r.entropy <= math.log(max(n_types, 1)) + 1e-4
    assert r.ttr == __import__("pytest").approx(n_types / len(toks), abs=1e-12)
    if n_types == len(toks):  # uniform distribution → maximal entropy
        assert r.entropy == __import__("pytest").approx(
            math.log(n_types), abs=1e-4
        )


# --- round-6 operators ------------------------------------------------------

row_id_symbols = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters="_-"),
    min_size=1,
    max_size=12,
).filter(lambda s: s.strip("_") != "" and not s.startswith("_"))


@settings(max_examples=15, deadline=None)
@given(
    row_id_symbols,
    st.datetimes(
        min_value=datetime(1971, 1, 1), max_value=datetime(2199, 12, 31)
    ),
)
def test_parse_row_id_inverts_generation_for_any_symbol(spark_prop, sym, ts):
    """parse ∘ generate == identity at minute grain for ARBITRARY
    symbols (including ones containing '_') and timestamps."""
    from options_data_pipeline_spark.operators.ids import parse_row_id, with_row_id

    ts = ts.replace(second=0, microsecond=0)
    df = spark_prop.createDataFrame(
        [(sym, ts)], "symbol string, window_start timestamp"
    )
    got = parse_row_id(with_row_id(df)).collect()[0]
    assert got.parsed_symbol == sym
    assert got.parsed_window_start == ts


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.text(min_size=1, max_size=20), min_size=1, max_size=60, unique=True)
)
def test_bloom_never_false_negative_for_any_keys(spark_prop, keys):
    """Membership contract over ARBITRARY key sets (unicode included):
    every inserted key probes True."""
    from options_data_pipeline_spark.functions.bloom import (
        bloom_build,
        bloom_might_contain,
    )

    df = spark_prop.createDataFrame([(k,) for k in keys], "fingerprint string")
    bloom = bloom_build(df)
    got = bloom_might_contain(df, bloom).collect()
    assert all(r.might_contain for r in got)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=2,
        max_size=30,
        unique=True,
    )
)
def test_zvalue_is_injective_and_locality_bounded(spark_prop, pts):
    """Morton value properties for ANY point set in [0,256)²: distinct
    points get distinct z-values (injective ⇒ sort is total), and two
    points in the same 2^k-aligned cell differ in z only below bit
    2·k·... — checked via the quadtree-prefix property: same top bits ⇔
    same aligned cell."""
    from options_data_pipeline_spark.functions.zorder import zvalue_col

    df = spark_prop.createDataFrame(pts, "x int, y int")
    rows = df.select("x", "y", zvalue_col(["x", "y"], bits=8).alias("z")).collect()
    zs = {}
    for r in rows:
        assert r.z not in zs, "z-value collision for distinct points"
        zs[r.z] = (r.x, r.y)
        # quadtree prefix: top 2·j bits of z == interleave of top j bits
        # of (x, y) — i.e. z >> (16 - 2*j) identifies the 2^(8-j)-cell
        for j in (1, 2, 4):
            cell_from_z = r.z >> (16 - 2 * j)
            expect = 0
            for i in range(j):
                expect |= ((r.x >> (8 - j + i)) & 1) << (2 * i)
                expect |= ((r.y >> (8 - j + i)) & 1) << (2 * i + 1)
            assert cell_from_z == expect


cdc_logs = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),          # key
        st.integers(min_value=0, max_value=20),         # minute (seq ts)
        st.sampled_from(["U", "D"]),                    # op
        st.integers(min_value=0, max_value=99),         # payload value
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=15, deadline=None)
@given(cdc_logs, st.integers(min_value=1, max_value=4))
def test_cdc_merge_any_batch_split_matches_batch_operator(
    spark_prop, log, n_splits
):
    """For ANY change log and ANY split into micro-batches, streaming
    cdc_merge_batch applied batch-by-batch must converge to the batch
    operator's snapshot over the whole log (live keys, winning values)
    — the incremental-view-maintenance contract of the tombstone-
    retaining merge."""
    import os
    import shutil
    import tempfile
    from datetime import datetime, timedelta

    from options_data_pipeline_spark.operators.cdc import cdc_latest_snapshot
    from options_data_pipeline_spark.streaming.cdc_stream import (
        cdc_live_view,
        cdc_merge_batch,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (k, base + timedelta(minutes=m), cid, op, float(v))
        for cid, (k, m, op, v) in enumerate(log)
    ]
    schema = "k bigint, ts timestamp, cid bigint, op string, v double"
    want = {
        r.k: (r.last_v, r.last_cid)
        for r in cdc_latest_snapshot(
            spark_prop.createDataFrame(rows, schema),
            key_cols=["k"],
            seq_cols=["ts", "cid"],
        ).collect()
    }
    snap = tempfile.mkdtemp(prefix="odp_cdc_prop_")
    try:
        # split preserving nothing in particular — arbitrary chunking
        size = max(1, len(rows) // n_splits)
        for i in range(0, len(rows), size):
            cdc_merge_batch(
                spark_prop.createDataFrame(rows[i : i + size], schema),
                os.path.join(snap, "s"),
                key_cols=["k"],
                seq_cols=["ts", "cid"],
            )
        got = {
            r.k: (r.last_v, r.last_cid)
            for r in cdc_live_view(spark_prop, os.path.join(snap, "s")).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(snap, ignore_errors=True)


# ------------------------------------------------- containment winnowing

_words = st.lists(
    st.sampled_from(["alpha", "bravo", "carol", "delta", "echos",
                     "fortx", "golfy", "hotel", "india", "julie"]),
    min_size=8,
    max_size=20,
)


@settings(max_examples=10, deadline=None)
@given(_words, st.integers(min_value=0, max_value=7))
def test_containment_winnowed_guarantee_on_contiguous_embeds(
    spark_prop, ws, cut
):
    """The winnowing GUARANTEE, property-tested: embed a document
    verbatim inside a longer wrapper (any contiguous run far exceeding
    fp_k + fp_w - 1 chars) — the production arm must find the (sub,
    sup) pair with the same exact score as the audit arm, for ANY word
    content and wrapper split point."""
    from options_data_pipeline_spark.functions.dedupe import (
        containment_pairs,
        containment_winnowed,
    )

    sub = " ".join(ws)
    head = " ".join(f"head{j}xx" for j in range(cut + 2))
    tail = "trailing licence text common to wrappers"
    sup = f"{head} {sub} {tail}"
    df = spark_prop.createDataFrame(
        [(1, sub), (2, sup)], "doc_id long, text string"
    )
    exact = {
        (r.doc_sub, r.doc_sup): (r.n_common, r.containment)
        for r in containment_pairs(df).collect()
    }
    win = {
        (r.doc_sub, r.doc_sup): (r.n_common, r.containment)
        for r in containment_winnowed(df).collect()
    }
    assert (1, 2) in exact  # verbatim embedding => containment 1.0
    assert win == exact  # full recall + identical exact verification
