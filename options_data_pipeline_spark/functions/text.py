"""Text-analysis operators for LLM training-data pipelines
(SURVEY.md §2.10 extension surface — not in the reference, which has no
text path; designed for the 100 TB documents use case).

All pure Column expressions (regexp + arithmetic, JVM-side, codegen'd):
no Python in the hot path. Each helper column is the building block for a
`queries()` entry with a DuckDB oracle.

Scale notes: every op here is a narrow map — no shuffle. Language ID and
quality scoring run in a single scan; token counting uses
``regexp_extract_all`` which vectorizes in codegen. At 100 TB these ops
are IO-bound, exactly where they should be.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources import store
from ..sources.local import local_frame

# Stopword marker lists for the n-gram/stopword language-ID heuristic.
# Deliberately tiny + deterministic so the oracle SQL can mirror them.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "est", "une"],
    "es": ["el", "los", "las", "es", "una"],
}

EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def token_count_col(text_col: str = "text") -> Column:
    """Whitespace tokenization count — ``regexp_extract_all('\\S+')`` is
    robust to leading/trailing/repeated whitespace (unlike split)."""
    return F.size(F.expr(f"regexp_extract_all({text_col}, '\\\\S+', 0)")).cast("long")


# GPT-2-style pre-tokenizer, simplified to the lookahead-free subset so the
# SAME pattern runs identically under Java regex (Spark) and RE2 (DuckDB):
# contractions | space?letters | space?digits | space?other | whitespace.
BPE_PATTERN = "'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+|\\s+"


def bpe_token_count_col(text_col: str = "text") -> Column:
    """BPE-ish pre-token count (proxy for LLM token budgeting at corpus
    scale; exact BPE needs a merges table, out of scope for a column op)."""
    return F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), F.lit(0))
    ).cast("long")


def _count_matches(text_col: str, pattern: str) -> Column:
    return F.size(F.expr(f"regexp_extract_all({text_col}, '{pattern}', 0)")).cast("long")


def lang_score_col(text_col: str, lang: str) -> Column:
    """Marker-word hit count for one language (word-boundary regexp)."""
    words = "|".join(LANG_MARKERS[lang])
    return _count_matches(f"lower({text_col})", f"\\\\b({words})\\\\b")


def lang_guess_col(text_col: str = "text") -> Column:
    """Greedy argmax over marker scores; ties → earlier language in the
    fixed (en, de, fr, es) order; all-zero → 'und' (undetermined)."""
    scores = {lang: lang_score_col(text_col, lang) for lang in LANG_MARKERS}
    best_score = F.greatest(*scores.values())
    guess = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs win ties
        guess = F.when(scores[lang] == best_score, F.lit(lang)).otherwise(guess)
    return F.when(best_score > 0, guess).otherwise(F.lit("und"))


def quality_cols(text_col: str = "text") -> dict[str, Column]:
    """Quality-scoring signals: length, token count, mean token length,
    punctuation/digit/stopword ratios. The composite ``quality_score`` is
    a deterministic linear blend (a placeholder for a learned filter)."""
    n_chars = F.length(text_col).cast("long")
    n_tokens = token_count_col(text_col)
    n_punct = _count_matches(text_col, "[.,!?;:]")
    n_digit = _count_matches(text_col, "[0-9]")
    stop = "|".join(EN_STOPWORDS)
    n_stop = _count_matches(f"lower({text_col})", f"\\\\b({stop})\\\\b")
    safe_tokens = F.greatest(n_tokens, F.lit(1)).cast("double")
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    punct_ratio = n_punct.cast("double") / safe_chars
    digit_ratio = n_digit.cast("double") / safe_chars
    stop_ratio = n_stop.cast("double") / safe_tokens
    mean_tok_len = n_chars.cast("double") / safe_tokens
    score = (
        F.lit(0.4) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.3) * F.least(n_tokens.cast("double") / 100, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 10 + digit_ratio * 5, F.lit(1.0)))
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": punct_ratio,
        "digit_ratio": digit_ratio,
        "stop_ratio": stop_ratio,
        "mean_tok_len": mean_tok_len,
        "quality_score": score,
    }


def fingerprint_col(text_col: str = "text") -> Column:
    """Document fingerprint: md5 of casefolded, whitespace-collapsed text —
    the exact-dedup "SOLE AUTHORITY" id in the style of the reference's
    deterministic row ids (``utils/id_generator.py:7-9``)."""
    normalized = F.regexp_replace(F.trim(F.lower(F.col(text_col))), "\\s+", " ")
    return F.md5(normalized)


def winnow_fingerprints(
    docs: DataFrame, text_col: str = "text", k: int = 5, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS):
    hash every k-gram of the normalized text, slide a window of ``w``
    consecutive hashes, keep each window's minimum — any shared substring
    of length ≥ k + w - 1 between two documents is GUARANTEED to produce a
    shared fingerprint. Output: one row per (doc_id, distinct fingerprint).

    Pure higher-order Column ops (sequence/transform/slice/array_min) — a
    narrow map with one explode, no shuffle until the consumer joins on
    ``fp``. The md5-derived k-gram hash is mirrored bit-for-bit by the
    DuckDB oracle. At 100 TB the fingerprint index is the join surface for
    plagiarism/near-dup detection at ~1/w the k-gram volume."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), "\\s+", " ")
    hashes = (
        f"transform(sequence(1, greatest(length(t) - {k - 1}, 1)),"
        f" i -> cast(conv(substring(md5(substring(t, i, {k})), 1, 8), 16, 10) as bigint))"
    )
    fps = (
        f"array_distinct(transform(sequence(1, greatest(size(hs) - {w - 1}, 1)),"
        f" j -> array_min(slice(hs, j, {w}))))"
    )
    return (
        docs.select("doc_id", norm.alias("t"))
        .select("doc_id", F.expr(hashes).alias("hs"))
        .select("doc_id", F.explode(F.expr(fps)).alias("fp"))
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    max_df: int | None = 64,
) -> DataFrame:
    """Document pairs sharing winnowing fingerprints (doc_a < doc_b,
    n_shared ≥ 1) — the MOSS match step. ``max_df`` drops stop-fingerprints
    appearing in more than that many documents before the self-join
    (boilerplate/license text otherwise makes the hot-fp join quadratic);
    the filter is deterministic so the oracle mirrors it exactly."""
    fps = winnow_fingerprints(docs, text_col, k, w)
    # One groupBy materializes each fingerprint's (sorted) doc list, then
    # pairs are generated from the list with array expressions — the naive
    # fp self-join re-evaluates the uncached fingerprint computation once
    # per join side plus once for the df filter (measured 4× the md5 work,
    # 19 s vs 5 s at sf0.1). Two shuffles total, no join, no recompute.
    grouped = fps.groupBy("fp").agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    if max_df is not None:
        grouped = grouped.filter(F.size("ids") <= max_df)
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) ->"
                " transform(slice(ids, i + 2, size(ids) - i - 1),"
                " b -> struct(a AS doc_a, b AS doc_b))))"
            )
        ).alias("p")
    )
    return pairs.groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")).agg(
        F.count(F.lit(1)).alias("n_shared")
    )


def cross_source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 12,
    w: int = 8,
    max_df: int | None = 64,
) -> DataFrame:
    """Cross-SOURCE contamination matrix: for every source pair, how many
    distinct winnowing fingerprints the two corpora share — the
    source-granular diagnostic run before mixing corpora into a training
    set (a hot cell means one source embeds another's passages; eval
    suites leak into crawls this way).

    Same scale shape as :func:`winnow_overlap_pairs`: df-capped
    fingerprints, sources grouped per fp, pairs exploded from the (tiny)
    per-fp source list — no self-join, pair volume bounded by
    (sources choose 2) per fingerprint. The md5 fingerprint subtree is
    evaluated ONCE: df and the source set come out of the SAME
    groupBy("fp") pass, with the df cap filtered after (the first cut
    counted df in a separate arm and equi-joined it back on fp — the
    exact re-evaluation shape winnow_overlap_pairs measured at ~4× the
    md5 work and replaced)."""
    fps = winnow_fingerprints(docs, text_col, k, w)
    src_fp = fps.join(docs.select("doc_id", "source"), "doc_id")
    gs = src_fp.groupBy("fp").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(F.collect_set("source")).alias("ss"),
    )
    if max_df is not None:
        gs = gs.filter(F.col("df") <= max_df)
    pairs = gs.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (a, i) ->"
                " transform(slice(ss, i + 2, size(ss) - i - 1),"
                " b -> struct(a AS source_a, b AS source_b))))"
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.source_a").alias("source_a"), F.col("p.source_b").alias("source_b")
    ).agg(F.count(F.lit(1)).alias("n_shared_fps"))


def rare_token_stats(
    docs: DataFrame, text_col: str = "text", min_df: int = 3
) -> DataFrame:
    """Corpus-statistics quality signal: per document, how many of its
    distinct tokens are RARE corpus-wide (document frequency < min_df) —
    the exact-arithmetic stand-in for perplexity filtering (gibberish and
    boilerplate-stripped junk are rare-token-heavy; cross-engine float
    log() is not bit-stable, integer df counts are).

    Two-pass shape: one groupBy builds the (token → df) table, a second
    aggregation scores each doc against it. At 100 TB the df table is the
    big intermediate — it stays distributed (shuffle join on token), never
    driver-side."""
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)")
            )
        ).alias("tok"),
    )
    dfreq = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    return (
        toks.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.sum((F.col("df") < min_df).cast("long")).alias("n_rare"),
        )
        .withColumn(
            "rare_ratio",
            F.col("n_rare").cast("double") / F.col("n_distinct_tokens").cast("double"),
        )
    )


def with_text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    out = docs
    for name, col in quality_cols(text_col).items():
        out = out.withColumn(name, col)
    return out.withColumn("lang_guess", lang_guess_col(text_col)).withColumn(
        "fingerprint", fingerprint_col(text_col)
    )


def dup_ngram_cols(text_col: str = "text", n: int = 2) -> dict[str, Column]:
    """Gopher-style repetition signals over word n-grams: the fraction of
    n-gram OCCURRENCES that are repeats (1 − distinct/total) and the share
    of the single most frequent n-gram. Boilerplate, keyword-stuffed, and
    template-generated text scores high; both are standard pre-training
    filter inputs (Gopher §A1.1 uses exactly these at n=2..4).

    Pure array expressions (regexp tokenize → slice/join n-grams →
    distinct / sorted-run fold) — a narrow map, no shuffle. ``top_frac``
    (max gram multiplicity) is computed as the longest run in the SORTED
    gram array via one ``aggregate`` fold — O(g log g) per document; the
    naive distinct×filter form is O(d·g) and measured 5× slower at sf0.1
    (9.5 s → the fold). The DuckDB oracle keeps the O(d·g) list form
    (same value: max multiplicity), which is fine at oracle SF."""
    # tokenize ONCE: the 1-element transform binds the token array to a
    # lambda variable (SQL has no LET), so the regexp scan isn't inlined
    # into the sequence bound AND the slice source per gram
    tok = f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)"
    grams = F.expr(
        f"element_at(transform(array({tok}),"
        f" t -> transform(sequence(1, greatest(size(t) - {n - 1}, 1)),"
        f" i -> array_join(slice(t, i, {n}), ' '))), 1)"
    )
    n_grams = F.size(grams).cast("long")
    n_distinct = F.size(F.array_distinct(grams)).cast("long")
    dup_frac = F.lit(1.0) - n_distinct.cast("double") / n_grams.cast("double")
    run_init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def run_step(acc, x):
        # null-safe: x == NULL prev is NULL → otherwise branch → run resets
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_count = F.aggregate(
        F.array_sort(grams), run_init, run_step, lambda acc: acc["best"]
    )
    top_frac = top_count.cast("double") / n_grams.cast("double")
    return {
        f"n_{n}grams": n_grams,
        f"dup_frac_{n}": dup_frac,
        f"top_frac_{n}": top_frac,
    }


def gopher_cols(text_col: str = "text") -> dict[str, Column]:
    """Gopher rule-set quality signals (Rae et al. 2021 §A1.1, the
    deterministic subset): word count bounds, mean word length bounds,
    fraction of words containing an alphabetic character, and a minimum
    stopword hit count. ``gopher_keep`` is the AND of the published
    thresholds — the baseline document filter a pre-training pipeline
    applies before dedup."""
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)")
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    safe_words = F.greatest(n_words, F.lit(1)).cast("double")
    mean_word_len = sum_len.cast("double") / safe_words
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("long")
    frac_alpha_words = n_alpha.cast("double") / safe_words
    stop = "|".join(EN_STOPWORDS)
    n_stop = _count_matches(f"lower({text_col})", f"\\\\b({stop})\\\\b")
    keep = (
        (n_words >= 50)
        & (n_words <= 100000)
        & (mean_word_len >= 3.0)
        & (mean_word_len <= 10.0)
        & (frac_alpha_words >= 0.8)
        & (n_stop >= 2)
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "frac_alpha_words": frac_alpha_words,
        "n_stopword_hits": n_stop,
        "gopher_keep": keep,
    }


def _word_ngrams_from_tokens(tokens_expr: str, n: int) -> str:
    """SQL expr: distinct space-joined word n-grams over an ALREADY
    TOKENIZED array expression — lets a multi-stage pipeline tokenize
    once and derive grams from the array (regexp tokenization is the
    dominant per-row cost, measured on corpus_curation)."""
    return (
        f"array_distinct(transform(sequence(1, greatest(size({tokens_expr}) - {n - 1}, 1)),"
        f" i -> array_join(slice({tokens_expr}, i, {n}), ' ')))"
    )


def _word_ngrams_expr(text_col: str, n: int) -> str:
    """SQL expr: distinct space-joined word n-grams of the casefolded
    text (shared by decontamination and the dup-n-gram signals)."""
    toks = f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)"
    return _word_ngrams_from_tokens(toks, n)


def eval_gram_set(
    eval_docs: DataFrame, text_col: str = "text", n: int = 8
) -> DataFrame:
    """The eval suite's distinct n-gram frame (column ``gram``) — build
    it ONCE and pass to :func:`decontamination_hits` via ``eval_grams``
    when decontaminating many batches against the same suite (a long
    ingest stream re-tokenizing the eval side per micro-batch pays the
    dominant regexp cost hundreds of times for a deterministic result).

    The gram column carries ``n`` in its field metadata so downstream
    consumers (``dedup_ingest_batch``) can assert the frame was built
    with the n they decontaminate at — a silent mismatch (train 4-grams
    vs eval 8-grams) almost never collides and under-decontaminates."""
    return eval_docs.select(
        F.explode(F.expr(_word_ngrams_expr(text_col, n))).alias(
            "gram", metadata={"ngram_n": n}
        )
    ).distinct()


def decontamination_hits(
    train: DataFrame,
    eval_docs: DataFrame | None,
    text_col: str = "text",
    n: int = 8,
    tokens_col: str | None = None,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """Benchmark DECONTAMINATION: for every training document, how many
    distinct word n-grams it shares with ANY evaluation document — the
    standard leakage filter (GPT-3 §C / PaLM style: drop train docs with a
    13-gram collision against the eval suite; n is a knob, 8 here because
    the synthetic docs are short). Downstream: ``filter(n_shared == 0)``.

    Scale shape: the eval suite is small by nature (benchmarks, not
    corpora), so its distinct-n-gram set BROADCASTS; the train side stays
    a narrow map + one broadcast semi-join + one groupBy at doc grain.
    100 TB of train text streams through without a shuffle of the grams
    themselves.

    ``tokens_col``: name of a precomputed token-array column on the
    TRAIN side — a composed pipeline that already tokenized upstream
    skips the second regexp pass (the dominant per-row cost)."""
    if eval_docs is None and eval_grams is None:
        raise ValueError(
            "decontamination_hits: provide eval_docs or eval_grams"
        )
    train_grams = (
        _word_ngrams_from_tokens(tokens_col, n)
        if tokens_col is not None
        else _word_ngrams_expr(text_col, n)
    )
    tg = train.select(
        "doc_id", F.explode(F.expr(train_grams)).alias("gram")
    )
    eg = (
        eval_grams
        if eval_grams is not None
        else eval_gram_set(eval_docs, text_col, n)
    )
    return (
        tg.join(F.broadcast(eg), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = 20, overlap: int = 5, text_col: str = "text"
) -> DataFrame:
    """Fixed-size token chunking with overlap — the pre-tokenization
    splitter every context-bounded training/embedding pipeline runs.
    Chunk k covers tokens [k·stride, k·stride + chunk_tokens) with
    stride = chunk_tokens − overlap; the last chunk may be short; every
    document yields ≥ 1 chunk (possibly empty for empty text).

    Pure integer arithmetic (no float ceil — cross-engine exact) and one
    explode; a narrow map otherwise."""
    stride = chunk_tokens - overlap
    toks = f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)"
    n_chunks = (
        f"greatest((size({toks}) - {overlap} + {stride - 1}) div {stride}, 1)"
    )
    chunks = (
        f"transform(sequence(0, {n_chunks} - 1),"
        f" k -> slice({toks}, k * {stride} + 1, {chunk_tokens}))"
    )
    return docs.select(
        "doc_id",
        F.posexplode(F.expr(chunks)).alias("chunk_id", "ctoks"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size("ctoks").cast("long").alias("n_tokens"),
        F.array_join("ctoks", " ").alias("chunk_text"),
    )


def tfidf_top_terms(
    docs: DataFrame, text_col: str = "text", top_n: int = 3
) -> DataFrame:
    """Per-document top tf-idf terms — the classic keyword/topic signal a
    corpus profiler reports per document. Scored with the LOG-FREE exact
    rational ``tf · N / df`` ((tf·N) exact in a double, one IEEE divide —
    bit-identical across engines, unlike ``ln`` whose last ulp is
    library-dependent); ranking is order-equivalent to tf·(N/df) and
    monotone in tf and 1/df like the log form.

    Two-pass shape, same as :func:`rare_token_stats`: the (token → df)
    table stays distributed, joins back on token, and the per-doc top-n
    is a window heap (WindowGroupLimit)."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)")
        ).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.col("tf") * F.col("n")).cast("double") / F.col("df").cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select("doc_id", "tok", "tf", "df", "tfidf", F.col("rank").cast("long").alias("rank"))
    )


# --- PII scrubbing -----------------------------------------------------------
# Patterns restricted to the Java-regex ∩ RE2 common subset (no lookaround,
# no backrefs) so the SAME string runs identically in Spark and DuckDB.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_URL = "https?://[^ \\t\\n]+"
PII_DIGIT_RUN = "[0-9]{7,}"  # phone/SSN/account-number-shaped runs


def pii_cols(text_col: str = "text") -> dict[str, Column]:
    """PII scrub signals for corpus cleaning: per-document counts of
    email / URL / long-digit-run matches plus the redacted text length.
    All narrow maps (regexp over the text column, no shuffle); redaction
    replaces URL→email→digit-run in that fixed order (a URL can contain
    an email-shaped or digit-run-shaped substring, so the coarser pattern
    must fire first for deterministic output)."""
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), PII_URL, "<URL>"),
            PII_EMAIL,
            "<EMAIL>",
        ),
        PII_DIGIT_RUN,
        "<NUM>",
    )
    return {
        "n_emails": _count_matches(text_col, PII_EMAIL.replace("\\", "\\\\")),
        "n_urls": _count_matches(text_col, PII_URL.replace("\\", "\\\\")),
        "n_digit_runs": _count_matches(text_col, PII_DIGIT_RUN),
        "redacted_len": F.length(redacted).cast("long"),
    }


# --- Length-bucketed batching ------------------------------------------------

LENGTH_BUCKETS = [2**p for p in range(4, 18)]  # 16 … 131072 tokens


def length_bucket_col(n_tokens: Column) -> Column:
    """Smallest power-of-two bucket holding ``n_tokens`` — the standard
    batching move for variable-length sequences (pad within a bucket, not
    to the global max). A CASE chain over the fixed boundary list keeps
    it integer-exact in every engine (2^ceil(log2 n) via float log is NOT
    exact across libm implementations at exact-power boundaries)."""
    expr = F.lit(LENGTH_BUCKETS[-1])
    for b in reversed(LENGTH_BUCKETS):
        expr = F.when(n_tokens <= b, F.lit(b)).otherwise(expr)
    return expr.cast("long")


def length_bucket_sql(n_expr: str) -> str:
    """The DuckDB twin of :func:`length_bucket_col` (same CASE chain)."""
    whens = " ".join(
        f"WHEN {n_expr} <= {b} THEN {b}" for b in LENGTH_BUCKETS
    )
    return f"CAST(CASE {whens} ELSE {LENGTH_BUCKETS[-1]} END AS BIGINT)"


# --- Cross-document span dedup ----------------------------------------------

def span_dedup_stats(
    docs: DataFrame,
    span_tokens: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Cross-document span duplication (the MassiveText/C4 inter-document
    repetition filter): split each doc into NON-overlapping ``span_tokens``
    windows, count how many of a doc's spans also appear verbatim in at
    least one OTHER document, and report the duplicated fraction — the
    signal that catches boilerplate (headers, license blocks, templated
    pages) that whole-doc dedup misses.

    Shape: one explode to span grain, one agg at the span-text grain for
    the cross-doc occurrence count (map-side partial combine shrinks it —
    most spans are unique), broadcast-free join back, one agg to doc
    grain. No pairwise doc joins anywhere; cost is O(total tokens).
    Distinct from ``dup_ngram_cols`` (WITHIN-doc repetition) and
    ``decontamination_hits`` (train×eval overlap).

    A span is 'duplicated' when it occurs in >1 DISTINCT doc; duplicate
    occurrences inside one doc are the within-doc signal, not this one.
    The trailing short span (< span_tokens tokens) participates — a
    shared short tail is still shared text."""
    toks = f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)"
    n_spans = f"greatest((size({toks}) + {span_tokens - 1}) div {span_tokens}, 1)"
    spans = (
        f"transform(sequence(0, {n_spans} - 1),"
        f" k -> array_join(slice({toks}, k * {span_tokens} + 1, {span_tokens}), ' '))"
    )
    # The span TEXT never leaves the map side: spans shuffle as a
    # 60-bit md5-derived key (15 hex chars — collision odds ~1e-6 at
    # 100M distinct spans, and the oracle mirrors the exact same hash so
    # any collision is shared), cutting shuffle width ~6× vs raw
    # strings. The explode reduces to (doc, key, occurrence-count) grain
    # FIRST, and that one exchange feeds BOTH downstream arms (AQE
    # ReusedExchange) — the first cut hung a distinct() and a join off
    # the raw explode with different keys, evaluating the scan twice AND
    # shuffling full span strings. occ also makes within-doc repeats
    # count once for "is this span in >1 doc" while n_spans still counts
    # every occurrence.
    doc_spans = docs.select(
        "doc_id", F.explode(F.expr(spans)).alias("span_text")
    ).select(
        "doc_id",
        F.expr(
            "cast(conv(substring(md5(span_text), 1, 15), 16, 10) as bigint)"
        ).alias("span_key"),
    )
    occ = doc_spans.groupBy("doc_id", "span_key").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    span_docs = occ.groupBy("span_key").agg(
        F.count(F.lit(1)).alias("span_doc_count")
    )
    return (
        occ.join(span_docs, "span_key")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("span_doc_count") > 1, F.col("n_occ")).otherwise(0))
            .cast("long")
            .alias("n_shared_spans"),
        )
        .withColumn(
            "shared_fraction",
            F.col("n_shared_spans").cast("double") / F.col("n_spans").cast("double"),
        )
    )


def span_cut_list(
    docs: DataFrame,
    min_tokens: int = 8,
    text_col: str = "text",
    skew_robust: bool = False,
) -> DataFrame:
    """EXACT-SUBSTRING dedup cut list (the suffix-array-style
    training-data dedup of Lee et al. 2022, re-expressed gram-wise for
    a distributed engine): per document, the MAXIMAL token ranges
    covered by at least one ``min_tokens``-gram that also occurs
    verbatim in ANOTHER document — the byte-range-shaped output a
    dedup pipeline actually applies (``span_dedup_stats`` counts
    duplicated spans; this emits the cuts). Output: one row per cut,
    ``(doc_id, start_tok, end_tok, n_tokens)`` with ``start_tok``
    0-based inclusive and ``end_tok`` exclusive, so reassembly is
    ``tokens[:start] ++ tokens[end:]`` per cut in order.

    Semantics: a SLIDING K-gram (every position, not the non-overlapping
    windows of `span_dedup_stats`) is 'duplicated' when it occurs in >1
    DISTINCT document; a token is covered when any duplicated gram
    spans it; cuts are the maximal runs of covered tokens (overlapping
    and ADJACENT gram intervals merge — two cuts are always separated
    by ≥1 uncovered token, which is what makes them maximal). This is
    the standard scalable over-approximation of true suffix-array
    substring dedup: every duplicated substring of ≥K tokens is fully
    covered, and a covered run may stitch together distinct duplicated
    sources (documented contract).

    Shape at 100 TB — no suffix array, no pairwise doc join:
    1. one explode to sliding-gram grain; the gram TEXT dies on the map
       side (rows shuffle as the 60-bit md5 key, the span_dedup_stats
       discipline, hashed at row grain in WHOLE-STAGE CODEGEN — the
       round-8 HOF-lambda lesson);
    2. ONE (gram, doc)-grain agg carrying the doc's position list (map-
       side partial collapses within-doc repeats before the shuffle),
       then the distinct-doc count as a count-only window over the
       aggregated gram grain — the corpus is scanned and exploded
       EXACTLY ONCE (the first cut hung an agg and a join off the
       explode with different shuffle keys, evaluating the
       tokenize+explode subtree twice — the same double-scan the
       span_dedup_stats rewrite removed; measured ×100: 49.1 s two-scan
       vs 43.1 s this shape — the gram-build itself dominates, see
       below);
    3. positions of duplicated grams explode back out of the (gram,
       doc) rows — no join against a key set at all;
    4. the island merge runs per doc over DUPLICATED positions ONLY (a
       sparse subset), one doc-grain window shuffle: ``lag``-gap break
       + running-sum island id + min/max per island — the
       gaps-and-islands fold, O(dup positions), never O(text).

    Cost envelope: sliding grams materialize K× the token volume of
    `span_dedup_stats`' non-overlapping windows (every token sits in up
    to K grams) — that is the price of position-exact cuts and it
    dominates the runtime: ×100 (500k docs) measured 43.1 s vs
    span_dedup's 15.4 s, i.e. 2.8× wall for 8× gram volume, linear in
    total tokens."""
    k = int(min_tokens)
    pos_grams = sliding_pos_grams(docs, k, text_col)
    gd = pos_grams.groupBy("gram_key", "doc_id").agg(
        F.collect_list("pos").alias("ps")
    )
    # distinct-doc count as a COUNT-ONLY WINDOW over the aggregated
    # grain: the window reuses gd's one exchange, so the corpus is
    # scanned exactly once (a gram-grain agg joined back reads the
    # gd subtree twice — measured 2.24 s vs 1.44 s at sf0.1, and at an
    # IO-bound cluster the second corpus read is the whole cost).
    # Skew boundary, stated honestly: a window partition cannot be
    # AQE-split, so ONE pathological boilerplate gram shared by D docs
    # puts D skinny (gram, doc, positions) rows on one task — linear in
    # D and count-only (no pair blowup; 10⁶-doc boilerplate ≈ seconds).
    # For corpora with 10⁸-doc boilerplate, ``skew_robust=True`` turns
    # the documented mitigation into code: the distinct-doc count moves
    # from the un-splittable window to an AQE-SPLITTABLE hash aggregate
    # (map-side partial — a mega-gram's D rows partial-collapse across
    # every map task) + a dup-key pre-filter JOIN, where a skewed probe
    # partition is exactly what AQE's OptimizeSkewedJoin splits. Pure
    # optimization: the emitted cuts are identical either way (the
    # registry twin shares `substring_cut_list`'s oracle and the gate
    # hash-checks the equivalence). The gram table MATERIALIZES once
    # (eager localCheckpoint) because the agg+join's two consumers
    # cannot share one exchange: column pruning strips the position
    # lists from the counts branch, so its exchange canonicalizes
    # differently and Spark would otherwise re-tokenize the corpus for
    # it (measured: 2 FileScans, 0 ReusedExchange) — the materialized
    # gd is the same bytes the stored gram INDEX keeps, paid per run
    # here to stay self-contained. The window form stays the default
    # for healthy corpora (no materialization, one exchange); on the
    # dup-detection stage in isolation — where the 100 TB hazard
    # actually lives — the agg+join wins and widens with the hot gram:
    # 3.0→2.5 s at 2M holders, 8.4→5.9 s at 8M (tools/skew_stress.py
    # --boilerplate). A broadcast pre-mark of the ≥F-doc boiler keys
    # was measured too and rejected: the boiler set rides a broadcast
    # SUBQUERY, whose subtree cannot reuse the main plan's gd exchange,
    # so the corpus gram build ran 3× (4.5 s vs window 1.9 s at a
    # 200k-doc plant).
    if skew_robust:
        gd = gd.localCheckpoint(eager=True)
        return merge_covered_positions(_dup_positions_agg_join(gd), k)
    return merge_covered_positions(_dup_positions_window(gd), k)


def _dup_positions_window(gd: DataFrame) -> DataFrame:
    """Duplicated-gram positions via the count-only window — the
    default: fastest on healthy corpora (one exchange, no join), but a
    window partition cannot be AQE-split, so a mega-boilerplate gram's
    D rows land on ONE task."""
    wk = Window.partitionBy("gram_key")
    return (
        gd.withColumn("gram_doc_count", F.count(F.lit(1)).over(wk))
        .filter(F.col("gram_doc_count") > 1)
        .select("doc_id", F.explode("ps").alias("pos"))
    )


def _dup_positions_agg_join(gd: DataFrame) -> DataFrame:
    """Duplicated-gram positions via hash-aggregate + dup-key join —
    the ``skew_robust=True`` plan: map-side partials collapse a
    mega-boilerplate gram across every task, and the probe-side join
    partition is exactly what AQE's OptimizeSkewedJoin splits."""
    dup_keys = (
        gd.groupBy("gram_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("gram_key")
    )
    return gd.join(dup_keys.hint("shuffle_hash"), "gram_key").select(
        "doc_id", F.explode("ps").alias("pos")
    )


def sliding_pos_grams(
    docs: DataFrame, k: int = 8, text_col: str = "text"
) -> DataFrame:
    """(doc_id, pos, gram_key) — every sliding k-gram as its 60-bit
    md5-derived key, hashed at ROW grain after the posexplode so the
    md5 runs in whole-stage codegen (the round-8 interpreted-HOF
    lesson); the gram text never survives the map side. Shared by the
    self-contained cut list and the stored gram index."""
    toks = f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)"
    grams = (
        f"CASE WHEN size({toks}) >= {k} THEN "
        f"transform(sequence(0, size({toks}) - {k}),"
        f" p -> array_join(slice({toks}, p + 1, {k}), ' '))"
        f" ELSE array() END"
    )
    return docs.select(
        "doc_id", F.posexplode(F.expr(grams)).alias("pos", "gram_text")
    ).select(
        "doc_id",
        "pos",
        F.expr(
            "cast(conv(substring(md5(gram_text), 1, 15), 16, 10) as bigint)"
        ).alias("gram_key"),
    )


def merge_covered_positions(dup_pos: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands fold over (doc_id, pos) rows of duplicated
    grams: lag-gap break + running-sum island id + min/max per island →
    maximal (start_tok, end_tok exclusive, n_tokens) cuts. One doc-grain
    window shuffle over the SPARSE duplicated subset."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull() | (F.col("pos") > F.lag("pos").over(w) + k),
        1,
    ).otherwise(0)
    islands = dup_pos.withColumn("brk", brk).withColumn(
        "island", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("start_tok"),
            (F.max("pos") + k).cast("long").alias("end_tok"),
        )
        .select(
            "doc_id",
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok")).cast("long").alias("n_tokens"),
        )
    )


def apply_cut_list(
    docs: DataFrame,
    min_tokens: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """APPLY the substring-dedup cut list — the execute half of the
    decide→repair pair (:func:`span_cut_list` decides; this removes):
    per document, drop every token covered by a cut and report
    ``(doc_id, n_tokens, n_cut_tokens, n_cuts, kept_text)`` where
    ``kept_text`` is the surviving tokens rejoined — what actually
    lands in the training set.

    Shape: the cut list aggregates to ≤1 row per affected doc (an array
    of (start, end) structs — cuts per doc are few by construction, so
    the array is small), broadcast-joins back onto the corpus, and the
    removal is ONE narrow map: a positional ``filter`` HOF testing each
    token index against the doc's cut array. The lambda is interpreted
    (the round-8 codegen lesson), but its body is integer compares
    against a handful of ranges — O(tokens·cuts_per_doc) arithmetic,
    NOT per-element hashing, which is where the 175× interpreted-HOF
    cliff lived.

    Byte preservation (the Lee et al. 2022 suffix-array dedup keeps
    original bytes outside cut ranges): a doc with NO cuts returns its
    ``text_col`` VERBATIM — original casing, spacing, everything. Only
    CUT docs are token-normalized (lowercased, whitespace-collapsed
    token re-join), because cuts are decided at lowercased-token grain
    and reassembly happens in that space; this residual normalization
    of the cut minority is the documented contract."""
    return apply_cuts(docs, span_cut_list(docs, min_tokens, text_col), text_col)


def apply_cuts(
    docs: DataFrame,
    cuts: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """EXECUTE any cut list against its corpus — the shared apply half
    for every cut-producing decide step (:func:`span_cut_list`,
    :func:`incremental_cut_list`, :func:`contamination_cut_list`,
    :func:`contamination_cut_list_indexed` all emit the same
    ``(doc_id, start_tok, end_tok, n_tokens)`` contract; this removes).
    Join shape, cost argument, and the byte-preservation contract are
    :func:`apply_cut_list`'s (which is now this function composed with
    `span_cut_list`)."""
    per_doc = cuts.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("start_tok", "end_tok"))
        ).alias("cut_arr"),
        F.sum("n_tokens").cast("long").alias("n_cut_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_cuts"),
    )
    toks = f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)"
    kept = (
        f"array_join(filter({toks}, (t, i) -> NOT exists(cut_arr,"
        f" c -> i >= c.start_tok AND i < c.end_tok)), ' ')"
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.expr(f"size({toks})").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_cut_tokens"), F.lit(0)).cast("long").alias(
                "n_cut_tokens"
            ),
            F.coalesce(F.col("n_cuts"), F.lit(0)).cast("long").alias("n_cuts"),
            F.when(F.col("cut_arr").isNull(), F.col(text_col))
            .otherwise(F.expr(kept))
            .alias("kept_text"),
        )
    )


def build_gram_index(
    docs: DataFrame,
    path: str,
    min_tokens: int = 8,
    text_col: str = "text",
    overwrite: bool = False,
) -> DataFrame:
    """Write-once GRAM INDEX for INCREMENTAL substring dedup — the
    stored-index deployment path `build_lsh_index` gives the near-dup
    grain, provided here for the exact-substring grain: one row per
    DISTINCT (gram_key, doc_id) pair, persisted as parquet under the
    versioned-dir + atomic pointer commit every index in this repo
    shares (``sources/store.py``). At 100 TB you tokenize the corpus
    exactly once at build time; every subsequent batch computes ITS OWN
    cut list against the stored pairs (:func:`incremental_cut_list`)
    without re-tokenizing a byte of corpus text.

    Storage honesty: distinct doc-grams ≈ one row of two longs per
    corpus token (minus within-doc repeats) — the index IS the corpus
    at gram grain, the same storage class as the LSH signature table's
    per-doc rows; what it buys is that probes touch only the rows whose
    gram_key matches the batch (a keyed join), never corpus text.

    SINGLE-WRITER, same contract as every pointer-published store."""

    def write(vdir: str) -> None:
        (
            sliding_pos_grams(docs, int(min_tokens), text_col)
            .select("gram_key", "doc_id")
            .distinct()
            .write.mode("overwrite")
            .parquet(vdir)
        )

    return docs.sparkSession.read.parquet(store.build_once(path, write, overwrite))


def read_gram_index(spark, path: str) -> DataFrame:
    """The published (gram_key, doc_id) pairs. Raises FileNotFoundError
    when nothing has been published at ``path``."""
    return spark.read.parquet(store.require(path, "read_gram_index"))


def merge_gram_index(
    batch: DataFrame,
    path: str,
    min_tokens: int = 8,
    text_col: str = "text",
) -> dict:
    """SET-UNION merge of a new batch's doc-gram pairs into the stored
    index: tokenize ONLY the batch, left-anti the stored pairs (the
    store side is pre-filtered to the batch's gram keys, so the
    anti-join never scans unrelated index rows), append only the
    genuinely new pairs INSIDE the published generation (Spark's
    job-commit protocol makes the append all-or-nothing; the pointer is
    untouched, so a crashed merge can never unpublish). Returns
    {"pairs": batch pair count, "new_pairs": appended}; a replayed
    batch reports new_pairs == 0 — the replay-writes-0 fixpoint of the
    idempotent-merge store family (this store's algebra is SET-UNION,
    like the chunk store). SINGLE-WRITER with build/compaction."""
    cur = store.require(path, "merge_gram_index")
    spark = batch.sparkSession
    pairs = (
        sliding_pos_grams(batch, int(min_tokens), text_col)
        .select("gram_key", "doc_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    stored = spark.read.parquet(cur)
    touched = stored.join(
        pairs.select("gram_key").distinct().hint("shuffle_hash"), "gram_key"
    )
    fresh = pairs.join(
        touched, ["gram_key", "doc_id"], "left_anti"
    ).localCheckpoint(eager=True)
    n_new = fresh.count()
    if n_new:
        fresh.write.mode("append").parquet(cur)
    return {"pairs": pairs.count(), "new_pairs": n_new}


def incremental_cut_list(
    batch: DataFrame,
    index: DataFrame,
    min_tokens: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Cut list of a NEW batch against a stored corpus gram index —
    the incremental twin of :func:`span_cut_list`: per batch doc, the
    maximal token ranges covered by grams that are duplicated across
    the UNION of (indexed corpus ∪ batch). Exactly equal to the
    self-contained cut list over the union restricted to batch docs
    (parity-tested), but only the batch is ever tokenized.

    Shape: batch grams → batch-key set → the index is FILTERED to
    matching keys before anything else (a keyed hash join — at 1000-
    executor scale the batch key set is the small side), the union's
    per-gram distinct-doc count is computed over that touched subset
    only, and the island merge runs over the batch's duplicated
    positions. Cost is O(batch tokens + touched index rows), never
    O(corpus)."""
    k = int(min_tokens)
    pos_grams = sliding_pos_grams(batch, k, text_col).localCheckpoint(eager=True)
    batch_pairs = pos_grams.select("gram_key", "doc_id").distinct()
    keys = batch_pairs.select("gram_key").distinct()
    touched = index.join(keys.hint("shuffle_hash"), "gram_key").select(
        "gram_key", "doc_id"
    )
    union_pairs = touched.unionByName(batch_pairs).distinct()
    dup_keys = (
        union_pairs.groupBy("gram_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("gram_key")
    )
    dup_pos = pos_grams.join(dup_keys, "gram_key").select("doc_id", "pos")
    return merge_covered_positions(dup_pos, k)


def compact_gram_index(
    spark,
    path: str,
    tombstones: DataFrame | None = None,
    rows_per_file: int = 4_000_000,
) -> dict:
    """Maintenance pass for the incremental gram index — the
    `compact_lsh_index` discipline applied to the (gram_key, doc_id)
    store a year of :func:`merge_gram_index` appends grows unboundedly
    in files:

    1. drop TOMBSTONED docs (left-anti on ``tombstones.doc_id`` — a doc
       deleted from the corpus must stop counting toward gram
       duplication, or probes over-cut against ghosts);
    2. merge small append files: rewrite at ``ceil(n/rows_per_file)``
       files, hash-partitioned and sorted by gram_key (deterministic
       bytes, and probes join on gram_key so the sort co-locates keys).

    Publish = versioned dir + atomic pointer swap: a crash
    anywhere before the swap leaves the live index readable.
    Replay-idempotent (the surviving set is a pure function of stored
    rows + tombstones). SINGLE-WRITER with build/merge.

    Returns {"rows_before", "rows_after", "files_before",
    "files_after"}."""
    import math
    import os

    cur = store.require(path, "compact_gram_index")
    files_before = sum(1 for f in os.listdir(cur) if f.endswith(".parquet"))
    idx = spark.read.parquet(cur)
    rows_before = idx.count()
    live = idx
    if tombstones is not None:
        live = live.join(
            F.broadcast(tombstones.select("doc_id").distinct()),
            "doc_id",
            "left_anti",
        )
    rows_after = live.count()
    n_files = max(1, math.ceil(rows_after / rows_per_file))
    vdir = store.next_generation(path)
    (
        live.repartition(n_files, "gram_key")
        .sortWithinPartitions("gram_key", "doc_id")
        .write.mode("overwrite")
        .parquet(vdir)
    )
    store.publish(path, vdir)
    files_after = sum(1 for f in os.listdir(vdir) if f.endswith(".parquet"))
    return {
        "rows_before": rows_before,
        "rows_after": rows_after,
        "files_before": files_before,
        "files_after": files_after,
    }


def contamination_cut_list(
    train: DataFrame,
    evalset: DataFrame,
    min_tokens: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Span-level benchmark DECONTAMINATION — the surgical form of the
    doc-rank filter :func:`decontamination_hits`: instead of scoring
    whole training docs by eval collisions, emit the exact token ranges
    a dedup pass should cut (maximal runs covered by any ``min_tokens``-
    gram that occurs ANYWHERE in the eval set) — eval leakage is
    removed, the rest of the document survives into training. Same
    output contract as :func:`span_cut_list` (start inclusive, end
    exclusive, reassembly via :func:`apply_cut_list`'s positional
    filter).

    Shape: eval suites are small by nature, so the eval gram-key set
    BROADCASTS (the `decontamination_hits` precedent); the train side
    is one narrow gram map + broadcast semi-join + the sparse island
    merge — no train-side index, no shuffle wider than the covered
    positions."""
    k = int(min_tokens)
    eval_keys = (
        sliding_pos_grams(evalset, k, text_col).select("gram_key").distinct()
    )
    dup_pos = (
        sliding_pos_grams(train, k, text_col)
        .join(F.broadcast(eval_keys), "gram_key")
        .select("doc_id", "pos")
    )
    return merge_covered_positions(dup_pos, k)


def build_pos_gram_index(
    docs: DataFrame,
    path: str,
    min_tokens: int = 4,
    text_col: str = "text",
    overwrite: bool = False,
) -> DataFrame:
    """Write-once POSITIONED gram index — the decontamination-serving
    twin of :func:`build_gram_index`: one row per (gram_key, doc_id)
    pair CARRYING the pair's token-position list, persisted under the
    shared versioned-dir + atomic pointer commit. The
    plain gram index answers "is this gram duplicated?" (enough for
    batch-side cuts, where the batch re-tokenizes itself); span-level
    DECONTAMINATION needs cuts in the INDEXED corpus's own docs, so the
    probe must recover *where* each colliding gram sits without
    re-tokenizing a byte of corpus text — that is what the stored
    position lists buy. Storage honesty: positions add one int per
    corpus gram occurrence on top of the pair rows — the same storage
    class as the pair index itself (the index is the corpus at gram
    grain either way); rows are hash-partitioned and sorted by
    gram_key so a keyed probe co-locates.

    Default ``min_tokens=4`` — the decontamination gram size
    (`decontamination_hits`' GPT-3 §C convention), not substring
    dedup's 8. SINGLE-WRITER, same contract as every pointer store."""

    def write(vdir: str) -> None:
        (
            sliding_pos_grams(docs, int(min_tokens), text_col)
            .groupBy("gram_key", "doc_id")
            .agg(F.sort_array(F.collect_list("pos")).alias("ps"))
            .repartition(32, "gram_key")
            .sortWithinPartitions("gram_key", "doc_id")
            .write.mode("overwrite")
            .parquet(vdir)
        )

    return docs.sparkSession.read.parquet(store.build_once(path, write, overwrite))


def merge_pos_gram_index(
    batch: DataFrame,
    path: str,
    min_tokens: int = 4,
    text_col: str = "text",
) -> dict:
    """SET-UNION merge of NEW docs' positioned gram rows into the
    stored index — `merge_gram_index`'s discipline at (gram_key,
    doc_id, ps) grain, so a GROWING train corpus keeps its
    decontamination index fresh without ever re-tokenizing old docs:
    tokenize ONLY the batch, drop docs the index already holds (stored
    doc set PRE-FILTERED to the batch's ids before the anti-join),
    append the rest INSIDE the published generation (Spark's job-commit
    protocol makes the append all-or-nothing; the pointer is untouched,
    so a crashed merge can never unpublish). A doc's rows are a pure
    function of the doc, so doc-grain dedup IS set-union here. Returns
    {"batch_docs", "fresh_docs", "new_rows"}; a replay reports
    fresh_docs == 0. SINGLE-WRITER with build."""
    cur = store.require(path, "merge_pos_gram_index")
    spark = batch.sparkSession
    stored = spark.read.parquet(cur)
    batch_ids = batch.select("doc_id").distinct()
    seen = (
        stored.select("doc_id")
        .join(batch_ids.hint("shuffle_hash"), "doc_id", "left_semi")
        .distinct()
    )
    fresh = batch.join(F.broadcast(seen), "doc_id", "left_anti")
    n_fresh = fresh.count()
    n_rows = 0
    if n_fresh:
        rows = (
            sliding_pos_grams(fresh, int(min_tokens), text_col)
            .groupBy("gram_key", "doc_id")
            .agg(F.sort_array(F.collect_list("pos")).alias("ps"))
            .localCheckpoint(eager=True)
        )
        n_rows = rows.count()
        rows.write.mode("append").parquet(cur)
    return {
        "batch_docs": batch_ids.count(),
        "fresh_docs": n_fresh,
        "new_rows": n_rows,
    }


def read_pos_gram_index(spark, path: str) -> DataFrame:
    """The published (gram_key, doc_id, ps) rows. Raises
    FileNotFoundError when nothing has been published at ``path``."""
    return spark.read.parquet(store.require(path, "read_pos_gram_index"))


def contamination_cut_list_indexed(
    index: DataFrame,
    evalset: DataFrame,
    min_tokens: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Span-level decontamination served from the STORED positioned
    gram index — the round-9 verdict's index-backed rung: a NEW eval
    suite costs O(eval grams + touched index rows), never a
    train-corpus re-scan. Exactly :func:`contamination_cut_list` over
    the corpus the index was built from (parity-tested; the registry
    twin shares `decontamination_cut_list`'s oracle).

    Shape: the eval suite is small by nature, so its distinct gram-key
    set BROADCASTS; the stored index is one keyed semi-reduction
    (broadcast hash join — no shuffle of index rows), and the colliding
    pairs' position lists explode straight into the island merge. The
    train corpus's text is never read, never tokenized — the index was
    paid for once at build time and every subsequent eval suite
    (benchmarks are published monthly; corpora are rebuilt rarely)
    probes it for the cost of its own grams."""
    k = int(min_tokens)
    eval_keys = (
        sliding_pos_grams(evalset, k, text_col).select("gram_key").distinct()
    )
    dup_pos = (
        index.join(F.broadcast(eval_keys), "gram_key")
        .select("doc_id", F.explode("ps").alias("pos"))
    )
    return merge_covered_positions(dup_pos, k)


def streaming_gram_index(
    stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    min_tokens: int = 8,
    text_col: str = "text",
):
    """Wire a document stream into the gram index:
    ``streaming_gram_index(...).start()`` + the checkpoint gives
    exactly-once index state (idempotent SET-UNION merge ×
    at-least-once foreachBatch — the chunk-store composition)."""

    def write(batch: DataFrame, batch_id: int) -> None:
        merge_gram_index(batch, path, min_tokens, text_col)

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def unigram_logprob_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc average unigram log-probability under the corpus's OWN
    unigram LM — the CCNet/kenlm-style perplexity proxy for quality
    filtering (low avg logprob ⇒ improbable token stream ⇒ gibberish or
    off-distribution text), computable without any external model.

    Shape at 100 TB: one token-grain shuffle builds the (token, count)
    LM table (map-side combinable), the corpus total rides in as a
    broadcast scalar, and the score join is token→vocab — the vocab
    table is millions of rows against trillions of token instances, so
    Spark broadcasts it (or shuffles on token; either way no doc-pair
    or vocab-pair blowup). Nothing driver-side.

    Float discipline: each token's ln(p) is snapped to a 6-dp grid
    (libm-vs-JVM ln agreement at the rounding boundary is ~1e-10/token
    risk there, vs ~1e-7 at the 9-dp grid the centroid queries use) and
    summed in DECIMAL — exact, associative, order-independent — then
    the average is one double division. Same convention as the
    pricing-summary DECIMAL sums; complements `rare_token_stats`, which
    is the integer-exact stand-in when even grid-snapped logs are
    unwanted."""
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)")
        ).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    lm = counts.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(F.log(F.col("cnt").cast("double") / F.col("total").cast("double")), 6)
        .cast("decimal(20,6)")
        .alias("logp"),
    )
    # The score join is token-instances → vocab. Spark's size estimate
    # for the post-agg lm table routinely lands under the auto-broadcast
    # threshold while the REAL vocab is millions of rows — measured at
    # ×100: auto-broadcast 42-60 s vs 12.9 s shuffled (×300 tipped over
    # the threshold on its own, which is why it ran FASTER than ×100).
    # shuffle_hash pins the strategy that survives vocab growth: hash on
    # token, no sort, no driver-side broadcast build.
    return (
        toks.join(lm.hint("shuffle_hash"), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("logp").alias("sum_lp"),
        )
        .select(
            "doc_id",
            "n_toks",
            F.col("sum_lp").cast("double").alias("sum_logprob"),
            (F.col("sum_lp").cast("double") / F.col("n_toks").cast("double")).alias(
                "avg_logprob"
            ),
        )
    )


def bpe_learn_merges(
    docs: DataFrame,
    n_merges: int = 12,
    text_col: str = "text",
    min_count: int = 1,
    max_vocab: int = 2_000_000,
) -> tuple[list[tuple[str, str]], dict[str, str]]:
    """Train REAL BPE merges on the corpus (Sennrich et al. 2016) —
    closes the README roadmap item ("BPE with a real merges table").

    Classic trainer shape: pair statistics run over the WORD-FREQUENCY
    table, not the corpus — one corpus pass builds (word, count), then
    each merge round is O(|vocab|) driver-side work. The collected vocab
    is the deliberate driver-side state (same contract as k-means
    centroids / every production BPE trainer); the corpus itself is never
    collected.

    Word states use per-token delimiters (``~k~~e~~y~``) so the merge
    rewrite ``~x~~y~ → ~xy~`` is a plain leftmost non-overlapping
    ``replace`` — adjacent pair occurrences never share characters, which
    makes Python str.replace, Spark ``replace`` and DuckDB ``replace``
    agree bit-for-bit AND match canonical left-to-right BPE application
    ("aaa" + merge(a,a) → [aa, a]). '~' is outside the document alphabet
    (validated: corpus chars are [a-z ]); a deployment would map bytes.

    Determinism: best pair = max total count, ties to the
    lexicographically smallest (x, y) — mirrored exactly by the oracle's
    ``ORDER BY total DESC, x, y LIMIT 1``. Exhausted pair space → later
    rounds are no-ops (oracle: LEFT JOIN on an empty best).

    Driver-side state is BOUNDED: the collected word-frequency table is
    pruned distributed-side to the ``max_vocab`` most frequent words
    (ties → lexicographically smallest, so the cut is deterministic)
    with counts ≥ ``min_count`` BEFORE ``.collect()``. On a web-scale
    corpus the raw distinct-"word" count is hundreds of millions — the
    unbounded collect OOMs the driver — while the frequency mass that
    decides merges concentrates in the head; pruning the sub-``min_count``
    tail is standard practice (SentencePiece/HF trainers do the same) and
    on Zipfian text leaves merge choices unchanged, since a pair must
    out-count every head pair to win a round. Contract: results are exact
    w.r.t. the PRUNED vocabulary; the defaults (min_count=1,
    max_vocab=2e6) keep toy/synthetic corpora bit-identical to unpruned
    training while capping driver memory at ~hundreds of MB.

    Returns (merges in application order, word → final state)."""
    from collections import Counter

    words = docs.select(
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)")
        ).alias("w")
    )
    word_counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    if min_count > 1:
        word_counts = word_counts.filter(F.col("cnt") >= min_count)
    # top-K prune renders as TakeOrderedAndProject: partial top-K on every
    # partition, K rows to the driver — never the full distinct-word set.
    vocab = {
        r.w: r.cnt
        for r in word_counts.orderBy(
            F.desc("cnt"), F.asc("w")
        ).limit(max_vocab).collect()
    }
    states = {w: "~" + "~~".join(w) + "~" for w in vocab}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pc: Counter = Counter()
        for w, s in states.items():
            toks = s.strip("~").split("~~")
            for a, b in zip(toks, toks[1:]):
                pc[(a, b)] += vocab[w]
        if not pc:
            break
        (x, y), _n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((x, y))
        pat, rep = f"~{x}~~{y}~", f"~{x}{y}~"
        states = {w: s.replace(pat, rep) for w, s in states.items()}
    return merges, states


def bpe_token_counts(
    docs: DataFrame, n_merges: int = 12, text_col: str = "text"
) -> DataFrame:
    """Per-doc token counts under the TRAINED BPE merges: the merges
    table (word → token count under the final states) broadcasts onto the
    exploded word instances — one narrow explode + broadcast join + one
    doc-grain agg; the driver-side piece is only the vocab-sized trainer.
    Output: (doc_id, n_words, n_bpe_tokens)."""
    spark = docs.sparkSession
    _merges, states = bpe_learn_merges(docs, n_merges, text_col)
    mapping = local_frame(
        spark,
        [(w, len(s.strip("~").split("~~"))) for w, s in states.items()],
        "w string, n_bpe int",
    )
    words = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)")
        ).alias("w"),
    )
    return (
        words.join(F.broadcast(mapping), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
        )
    )


def dsir_logweights(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = 64,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every source
    document by how much more likely its hashed-n-gram stream is under a
    TARGET-domain distribution than under the source distribution —
    log w(x) = Σ_tokens [log p_tgt(bucket) − log p_src(bucket)] — then a
    pipeline resamples source docs ∝ exp(log w). Here features are
    hashed unigram buckets (the paper's hashed n-grams with n=1),
    add-1-smoothed over ``n_buckets``.

    Scale shape: two bucket-grain counts (map-side combinable; the
    bucket table is ``n_buckets`` rows, so both distributions BROADCAST
    back onto the token stream), then one doc-grain re-agg — the same
    token-instance-grain cost envelope as the unigram LM, with a
    64-row model instead of a vocabulary.

    Float discipline: bucket log-ratios are computed once per bucket
    from integer counts (single division + ln each, deterministic),
    snapped to the 6-dp grid, and summed per doc in DECIMAL — exact and
    order-free. Hash = the cross-engine md5 32-bit prefix used by every
    dedup op in this module."""
    tok_h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)")
        ).alias("tok"),
    ).select("doc_id", (tok_h % n_buckets).alias("b"))
    tgt_toks = target.select(
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)")
        ).alias("tok")
    ).select((tok_h % n_buckets).alias("b"))
    src_counts = toks.groupBy("b").agg(F.count(F.lit(1)).alias("src_cnt"))
    tgt_counts = tgt_toks.groupBy("b").agg(F.count(F.lit(1)).alias("tgt_cnt"))
    totals = src_counts.agg(F.sum("src_cnt").alias("src_total")).crossJoin(
        tgt_counts.agg(F.sum("tgt_cnt").alias("tgt_total"))
    )
    nb = float(n_buckets)
    log_ratio = F.round(
        F.log((F.coalesce(F.col("tgt_cnt"), F.lit(0)) + 1.0) / (F.col("tgt_total") + nb))
        - F.log((F.col("src_cnt") + 1.0) / (F.col("src_total") + nb)),
        6,
    ).cast("decimal(20,6)")
    model = (
        src_counts.join(tgt_counts, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select("b", log_ratio.alias("lw"))
    )
    return (
        toks.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("lw").cast("double").alias("dsir_logweight"),
        )
    )


def token_entropy_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc lexical diversity: Shannon entropy of the document's own
    token distribution (H = −Σ p·ln p) plus the type/token ratio — the
    repetitiveness filter complementing `gopher_cols`' duplicate-line
    ratios (a doc that loops a 5-word phrase has high length but low
    entropy; boilerplate/SEO spam screens out on exactly this axis).

    Shape at 100 TB: one (doc, token)-grain count (map-side combinable),
    one doc-grain window for the total, one doc-grain agg — no joins, no
    vocabulary table, strictly narrower than the unigram-LM pass.

    Float discipline: each term p·ln p snaps to the 6-dp grid and sums
    in DECIMAL (order-independent, same convention as
    `unigram_logprob_scores`); the type/token ratio is one int/int
    division, bit-exact unrounded."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)")
        ).alias("tok"),
    )
    tc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    n = F.sum("cnt").over(Window.partitionBy("doc_id"))
    p = F.col("cnt").cast("double") / F.col("n").cast("double")
    term = F.round(p * F.log(p), 6).cast("decimal(20,6)")
    return (
        tc.withColumn("n", n)
        .withColumn("term", term)
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_toks"),
            F.count(F.lit(1)).alias("n_types"),
            (-F.sum("term")).cast("double").alias("entropy"),
            (
                F.count(F.lit(1)).cast("double")
                / F.max("n").cast("double")
            ).alias("ttr"),
        )
    )


def cooccurrence_pmi_top(
    docs: DataFrame, text_col: str = "text", k: int = 50
) -> DataFrame:
    """Top-k adjacent-bigram collocations with their pointwise-mutual-
    information RATIO — the corpus-analysis staple (Church & Hanks 1990)
    for phrase mining / tokenizer-merge candidates: ratio =
    p(x,y) / (p(x)·p(y)) ≫ 1 marks a collocation, ≈ 1 independence.

    Shape at 100 TB: bigram and unigram counts are two map-side-
    combinable token-grain aggs; the top-k cut (by pair count, ties
    lexicographic) happens BEFORE any join, so the unigram table joins
    against a BROADCAST k-row pair list — the vocabulary never joins
    itself, and the full pair table never leaves its aggregation.

    Float discipline: the ratio is evaluated in a FIXED operation order —
    (c_xy/n_big) / ((c_x/n_uni)·(c_y/n_uni)) — every operand an exact
    int, every op a single IEEE division/multiply, mirrored
    parenthesis-for-parenthesis by the oracle: bit-exact unrounded
    (the log is left to the consumer; emitting the ratio keeps the
    cross-engine comparison exact)."""
    arr = docs.select(
        F.expr(f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)").alias("a")
    )
    uni = arr.select(F.explode("a").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    pairs = (
        arr.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(a) - 1, 0)),"
                    " i -> struct(a[i-1] AS x, a[i] AS y))"
                )
            ).alias("p")
        )
        .select("p.x", "p.y")
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    top = pairs.orderBy(F.desc("c_xy"), F.asc("x"), F.asc("y")).limit(k)
    n_uni = uni.agg(F.sum("c").cast("bigint").alias("n_uni"))
    n_big = pairs.agg(F.sum("c_xy").cast("bigint").alias("n_big"))
    cx = uni.select(F.col("tok").alias("x"), F.col("c").alias("c_x"))
    cy = uni.select(F.col("tok").alias("y"), F.col("c").alias("c_y"))
    joined = (
        cx.join(F.broadcast(top), "x")
        .join(cy.hint("shuffle_hash"), "y")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
    )
    ratio = (
        F.col("c_xy").cast("double") / F.col("n_big").cast("double")
    ) / (
        (F.col("c_x").cast("double") / F.col("n_uni").cast("double"))
        * (F.col("c_y").cast("double") / F.col("n_uni").cast("double"))
    )
    return joined.select(
        "x", "y", "c_xy", "c_x", "c_y", ratio.alias("pmi_ratio")
    )


def repetition_char_stats(
    docs: DataFrame,
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3),
    dup_n: int = 5,
) -> DataFrame:
    """Gopher repetition filters in their published CHAR-FRACTION form
    (Rae et al. 2021 §A1.1): per doc, the fraction of normalized-text
    characters covered by the most frequent word n-gram (n ∈ ``top_ns``;
    "covered" = len(gram)·occurrences, the standard over-count on
    overlaps) and by duplicated n-grams (n = ``dup_n``, count > 1).
    Downstream: Gopher drops docs with top-2-gram fraction > 0.20,
    top-3 > 0.18, dup-n > 0.15-ish — the knobs ride this output.

    Scale shape — the LONG-DOC-SAFE twin of ``dup_ngram_cols``: that one
    computes per-row array expressions (fast at tweet length, but a 1 MB
    doc materializes its whole gram list per row in executor memory);
    this one EXPLODES to gram grain and aggregates, so memory per task is
    bounded by the Arrow batch regardless of document length, at the cost
    of one (doc, n, gram)-grain shuffle + one doc-grain agg (the
    top-gram pick is a partial-aggregable struct-min, NOT a window —
    measured 2.0× at ×100). Pick by corpus: short docs → array ops,
    web-scale long docs → this."""
    ns = sorted(set(top_ns) | {dup_n})
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), "\\s+", " ")
    base = docs.select(
        "doc_id", norm.alias("t"), F.length(norm).alias("n_chars_norm")
    )

    # Tokenize ONCE and fan out over the n values with a second explode —
    # the previous 3-way union re-scanned docs and re-ran the \S+
    # tokenizer once per n (r13, guide §1.2: don't compute things twice).
    # grams(n) is the same transform/slice expression with n as a column
    # instead of a baked literal, so the (doc_id, n, gram) row multiset —
    # and everything downstream — is unchanged.
    toked = base.select(
        "doc_id",
        F.expr("regexp_extract_all(t, '\\\\S+', 0)").alias("toks"),
    )
    ns_rows = toked.select(
        "doc_id", "toks", F.explode(F.array(*[F.lit(n) for n in ns])).alias("n")
    )
    stacked = ns_rows.select(
        "doc_id",
        "n",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(toks) - (n - 1), 1)),"
                " i -> array_join(slice(toks, i, n), ' '))"
            )
        ).alias("gram"),
    )
    counts = stacked.groupBy("doc_id", "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # top-gram pick as a PARTIAL-AGGREGABLE struct-min — min((-cnt, gram))
    # is (max cnt, tie → lexicographically smallest gram) — instead of a
    # row_number window: drops a whole repartition+sort stage and lets
    # map-side combine collapse the gram grain before the shuffle
    # (measured ×100: 129 s window → see BASELINE §9)
    top = F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("gram").alias("g")))
    per = counts.groupBy("doc_id", "n").agg(
        top.alias("_top"),
        F.coalesce(
            F.sum(F.when(F.col("cnt") > 1, F.length("gram") * F.col("cnt"))),
            F.lit(0),
        ).alias("dup_chars"),
    ).select(
        "doc_id",
        "n",
        (F.length("_top.g") * -F.col("_top.nc")).alias("top_chars"),
        "dup_chars",
    )
    agg_cols = []
    for n in top_ns:
        agg_cols.append(
            F.max(F.when(F.col("n") == n, F.col("top_chars"))).alias(f"_top{n}")
        )
    agg_cols.append(
        F.max(F.when(F.col("n") == dup_n, F.col("dup_chars"))).alias("_dup")
    )
    wide = per.groupBy("doc_id").agg(*agg_cols)
    out = wide.join(base.select("doc_id", "n_chars_norm"), "doc_id")
    sel = [F.col("doc_id")]
    for n in top_ns:
        sel.append(
            (F.col(f"_top{n}").cast("double") / F.col("n_chars_norm").cast("double"))
            .alias(f"top_{n}gram_char_frac")
        )
    sel.append(
        (F.col("_dup").cast("double") / F.col("n_chars_norm").cast("double"))
        .alias(f"dup_{dup_n}gram_char_frac")
    )
    return out.select(*sel)


def content_chunks(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    divisor: int = 64,
) -> DataFrame:
    """(doc_id, chunks array<string>) — the content-defined chunking of
    each document (see :func:`content_chunk_stats` for the contract):
    cut after position i iff md5(text[i : i+k]) % divisor == 0 over the
    casefolded whitespace-collapsed text.

    Shape: positions EXPLODE so the gram md5 runs inside whole-stage
    codegen, boundary survivors (~1/divisor of positions) regroup at
    doc grain, and the slicing transform runs over the (tiny) edges
    array. The first cut computed the hash inside a higher-order
    ``transform`` lambda — Catalyst interprets lambda bodies, and the
    measured ×100 cost was 2781 s vs 15.9 s for this explode shape (175×): the
    md5-in-interpreted-HOF trap, now pinned by the ×100 probe row."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), "\\s+", " ")
    d = docs.select("doc_id", norm.alias("t")).select(
        "doc_id",
        "t",
        F.length("t").alias("n"),
        F.greatest(F.length("t") - F.lit(k - 1), F.lit(0)).alias("m"),
    )
    # Spark's sequence(1, 0) DESCENDS to [1, 0] — guard the short-text case
    pos = d.select(
        "doc_id",
        "t",
        F.explode(
            F.expr("CASE WHEN m >= 1 THEN sequence(1, m) ELSE array() END")
        ).alias("i"),
    )
    bounds = (
        pos.filter(
            F.expr(
                f"conv(substring(md5(substring(t, i, {k})), 1, 8), 16, 10)"
                f" % {divisor} = 0"
            )
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("i")).alias("bpos"))
    )
    return (
        d.join(bounds, "doc_id", "left")
        .select(
            "doc_id",
            "t",
            F.concat(
                F.array(F.lit(0)),
                F.coalesce(F.col("bpos"), F.expr("array()")),
                F.array(F.col("n")),
            ).alias("edges"),
        )
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, size(edges) - 1),"
                " j -> substring(t, element_at(edges, j) + 1,"
                " element_at(edges, j + 1) - element_at(edges, j)))"
            ).alias("chunks"),
        )
    )


def content_chunk_stats(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    divisor: int = 64,
) -> DataFrame:
    """CONTENT-DEFINED CHUNKING dedup report — the storage-dedup rung of
    the dedup family (rsync / LBFS / FastCDC lineage): cut every
    document at positions where the rolling k-gram hash ≡ 0 (mod
    ``divisor``), fingerprint the chunks, and report how much of the
    corpus is REDUNDANT AT CHUNK GRAIN. Unlike shingle/minhash near-dup
    (which asks "are these documents similar?"), chunk dedup asks "how
    many bytes do I actually need to store/transfer?" — boundaries are
    content-defined, so an insertion early in a document shifts only
    the chunk it lands in, not every downstream boundary (the
    fixed-size-block failure CDC exists to avoid).

    Stateless boundary rule (the parallelizable simplification of
    FastCDC's min/max-gated gear hash): position i is a cut iff
    md5(normalized_text[i : i+k]) % divisor == 0 — per-position
    independent, so chunking is a pure per-row array computation
    (transform + filter + slice; NO explode until the chunk-grain
    dedup agg) and the expected chunk length is ``divisor`` chars.
    md5-derived hashing keeps it bit-reproducible in DuckDB.

    Output (single corpus row): n_docs, n_chunks, n_distinct_chunks,
    chars_total, chars_unique, dedup_ratio (unique/total — the storage
    factor), avg_copies. One corpus-linear map + ONE chunk-grain
    shuffle; chunk text never leaves the fingerprint agg."""
    chunked = content_chunks(docs, text_col, k, divisor)
    ch = chunked.select(F.explode("chunks").alias("chunk")).select(
        F.md5(F.col("chunk")).alias("fp"), F.length("chunk").alias("len")
    )
    per_fp = ch.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.max("len").alias("chunk_len"),  # identical fp => identical len
    )
    # every doc emits >= 1 chunk, so doc count == chunked row count —
    # column pruning drops the whole chunk transform from this arm
    docs_n = chunked.agg(F.count(F.lit(1)).alias("n_docs"))
    return per_fp.agg(
        F.sum("n_copies").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_chunks"),
        F.sum(F.col("n_copies") * F.col("chunk_len")).cast("long").alias("chars_total"),
        F.sum("chunk_len").cast("long").alias("chars_unique"),
    ).crossJoin(F.broadcast(docs_n)).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_chunks",
        "n_distinct_chunks",
        "chars_total",
        "chars_unique",
        (F.col("chars_unique").cast("double") / F.col("chars_total").cast("double")).alias("dedup_ratio"),
        (F.col("n_chunks").cast("double") / F.col("n_distinct_chunks").cast("double")).alias("avg_copies"),
    )
