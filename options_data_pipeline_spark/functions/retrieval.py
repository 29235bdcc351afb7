"""Stored-stats BM25 serving (round-9 verdict item 4): publish the
corpus statistics a BM25 scorer needs — postings (tok, doc_id, tf, dl),
document frequencies (tok, df), and the global (n_docs, total_len)
pair — as ONE versioned artifact, then serve queries from the store in
O(query terms + touched postings) with no corpus-grain work at all.

The in-query form (`bm25_rank`) recomputes tf/dl/df/avgdl from the raw
text on every call — the self-contained registry convention. A search
deployment indexes once and serves many: this store is that shape, under
the versioned-dir + atomic pointer commit every store shares
(``sources/store.py``) — a republish
after corpus growth swaps the pointer atomically, readers see old or new
stats in full (never a torn pair: df from one corpus and avgdl from
another would mis-rank silently), and every build's version string is
returned so tests can pin which stats generation served a score.

Float discipline — identical to `bm25_rank`, bit for bit: avgdl is
derived at SCORE time from the stored exact integers (total_len /
n_docs, one correctly-rounded IEEE division — storing the double would
also work, but ints make the artifact byte-auditable), idf/tf_part in
doubles, each term score snapped to the 6-dp DECIMAL grid before the
order-free per-doc SUM. Parity with the in-query form is therefore
exact, and the indexed registry twins share the self-contained queries'
oracles verbatim.

Scale shape at 100 TB: postings are the corpus at (doc, token) grain —
the storage class of every index in this repo (the gram index, the LSH
signature table); they are hash-partitioned and sorted by ``tok`` so a
query's semi-join touches co-located rows. A 4-term query reads:
4 df rows (broadcast), 1 stats row (broadcast), and the 4 terms'
postings — never the vocabulary, never the corpus.

SINGLE-WRITER per store path, like every pointer-published store.

Reference parity note: the reference (a WebSocket→Sheets options ETL,
`modules/` — no IR code) has no retrieval; this is extension-track
infrastructure for the LLM-training-data pipeline layer (SURVEY.md
§2.10), pinned by the oracle-checked `bm25_rank_indexed` /
`hybrid_rrf_retrieval_indexed` registry twins and the parity tests.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources import store
from ..sources.local import local_frame

K1 = 1.2
B = 0.75
RRF_K = 60.0


def _corpus_stats(docs: DataFrame, text_col: str = "text"):
    """(postings, df, stats) DataFrames from raw text — the one
    corpus-grain pass, shared by build and publish."""
    toks = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # r12 (guide §1.2): dl = Σ tf exactly (same doc set, same long type)
    # — deriving it from tf saves the second corpus-tokenize pass the
    # separate toks->dlen agg forced
    dlen = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    postings = tf.join(dlen, "doc_id").select("tok", "doc_id", "tf", "dl")
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    stats = dlen.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_len"),
    )
    return postings, df, stats


def _write_bm25(docs: DataFrame, text_col: str, vdir: str) -> None:
    """Write postings/ df/ stats/ of ``docs`` together into one
    generation dir (old or new stats in full, never df-from-one-corpus
    with avgdl-from-another)."""
    postings, df, stats = _corpus_stats(docs, text_col)
    (
        postings.repartition(32, "tok")
        .sortWithinPartitions("tok", "doc_id")
        .write.mode("overwrite")
        .parquet(os.path.join(vdir, "postings"))
    )
    df.repartition(4, "tok").sortWithinPartitions("tok").write.mode(
        "overwrite"
    ).parquet(os.path.join(vdir, "df"))
    stats.coalesce(1).write.mode("overwrite").parquet(os.path.join(vdir, "stats"))


def _bm25_report(spark, vdir: str) -> dict:
    s = spark.read.parquet(os.path.join(vdir, "stats")).collect()[0]
    return {
        "version": os.path.basename(vdir),
        "n_docs": s["n_docs"],
        "total_len": s["total_len"],
    }


def publish_bm25_index(
    docs: DataFrame, path: str, text_col: str = "text"
) -> dict:
    """Index (or RE-index after corpus growth) ``docs`` and publish the
    stats as a NEW version with one atomic pointer swap. Returns
    {"version", "n_docs", "total_len"}."""
    vdir = store.next_generation(path)
    _write_bm25(docs, text_col, vdir)
    store.publish(path, vdir)
    return _bm25_report(docs.sparkSession, vdir)


def build_bm25_index(docs: DataFrame, path: str, text_col: str = "text") -> dict:
    """Write-once build: publish only when nothing is published yet
    (a repeated call is a no-op read of the live version). Returns the
    live version's report."""
    gen = store.build_once(path, lambda vdir: _write_bm25(docs, text_col, vdir))
    return _bm25_report(docs.sparkSession, gen)


def merge_bm25_index(batch: DataFrame, path: str, text_col: str = "text") -> dict:
    """Incremental SET-UNION merge of NEW documents into the stored
    index, published as a new version — the `merge_gram_index`
    discipline adapted to a store whose df/stats are DERIVED sums:

    1. the batch alone is tokenized; its doc_ids anti-join the stored
       postings' doc set (stored side PRE-FILTERED to the batch's ids —
       the O(batch)-not-O(store) rule), so a replayed batch contributes
       nothing and an overlapping batch contributes only its new docs;
    2. the fresh docs' postings land as an APPEND inside the new
       version's postings dir (old files HARD-LINKED, not copied — the
       repair_kmeans_index publish trick: at 100 TB the untouched
       posting files must not be rewritten to add a day's docs);
    3. df merges vocab-grain (full outer sum of the stored df with the
       fresh docs' df delta — vocabulary rows, never corpus rows) and
       the 2-int stats row adds the fresh doc count and token mass;
    4. one atomic pointer swap publishes postings+df+stats TOGETHER —
       a crash anywhere leaves the previous version fully consistent.

    Exact ints all the way down, so an incremental merge equals a full
    rebuild over the union BIT FOR BIT (parity-tested). Returns
    {"version", "fresh_docs", "n_docs", "total_len"}; a full replay
    reports fresh_docs == 0 and publishes NO new version."""
    spark = batch.sparkSession
    cur = store.require(path, "merge_bm25_index")
    stored_postings = spark.read.parquet(os.path.join(cur, "postings"))
    batch_ids = batch.select("doc_id").distinct()
    seen = (
        stored_postings.select("doc_id")
        .join(batch_ids.hint("shuffle_hash"), "doc_id", "left_semi")
        .distinct()
    )
    fresh_docs = batch.join(F.broadcast(seen), "doc_id", "left_anti")
    n_fresh = fresh_docs.count()
    s = spark.read.parquet(os.path.join(cur, "stats")).collect()[0]
    if n_fresh == 0:
        return {
            "version": os.path.basename(cur),
            "fresh_docs": 0,
            "n_docs": s["n_docs"],
            "total_len": s["total_len"],
        }
    postings_d, df_d, stats_d = _corpus_stats(fresh_docs, text_col)
    vdir = store.next_generation(path)
    pdir = os.path.join(vdir, "postings")
    store.link_forward(
        os.path.join(cur, "postings"), pdir, lambda fn: fn.endswith(".parquet")
    )
    postings_d.write.mode("append").parquet(pdir)
    stored_df = spark.read.parquet(os.path.join(cur, "df"))
    merged_df = (
        stored_df.withColumnRenamed("df", "df_a")
        .join(df_d.withColumnRenamed("df", "df_b"), "tok", "full_outer")
        .select(
            "tok",
            (
                F.coalesce(F.col("df_a"), F.lit(0))
                + F.coalesce(F.col("df_b"), F.lit(0))
            ).cast("long").alias("df"),
        )
    )
    merged_df.repartition(4, "tok").sortWithinPartitions("tok").write.mode(
        "overwrite"
    ).parquet(os.path.join(vdir, "df"))
    d = stats_d.collect()[0]
    local_frame(
        spark,
        [(s["n_docs"] + d["n_docs"], s["total_len"] + d["total_len"])],
        "n_docs long, total_len long",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(vdir, "stats"))
    store.publish(path, vdir)
    return {
        "version": os.path.basename(vdir),
        "fresh_docs": n_fresh,
        "n_docs": s["n_docs"] + d["n_docs"],
        "total_len": s["total_len"] + d["total_len"],
    }


def streaming_bm25_index(
    stream: DataFrame, path: str, checkpoint_dir: str, text_col: str = "text"
):
    """Wire a document stream into the BM25 store:
    ``streaming_bm25_index(...).start()`` + the checkpoint gives
    exactly-once postings (doc-keyed SET-UNION merge × at-least-once
    foreachBatch) with df/stats republished consistently per batch."""

    def write(batch: DataFrame, batch_id: int) -> None:
        merge_bm25_index(batch, path, text_col)

    return (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def read_bm25_index(spark, path: str):
    """(postings, df, stats, version) at the published pointer. Raises
    FileNotFoundError when nothing has been published."""
    cur = store.require(path, "read_bm25_index")
    return (
        spark.read.parquet(os.path.join(cur, "postings")),
        spark.read.parquet(os.path.join(cur, "df")),
        spark.read.parquet(os.path.join(cur, "stats")),
        os.path.basename(cur),
    )


def bm25_score_indexed(spark, path: str, terms: list[str]) -> DataFrame:
    """(doc_id, n_matched, bm25) for ``terms`` served ENTIRELY from the
    stored index: the query's term set broadcasts into a postings
    semi-reduction, df rows for the terms broadcast, the stats row
    broadcasts, and avgdl is derived from the stored exact ints — the
    same column formulas as `bm25_rank` (k1=1.2, b=0.75, 6-dp DECIMAL
    grid before the per-doc sum), so scores are bit-identical to the
    in-query form for the same corpus (parity-tested)."""
    postings, df, stats, _ = read_bm25_index(spark, path)
    qterms = local_frame(spark, [(t,) for t in terms], "tok string")
    touched = postings.join(F.broadcast(qterms), "tok")
    dfq = df.join(F.broadcast(qterms), "tok")
    st = stats.select(
        F.col("n_docs").alias("n"),
        (
            F.col("total_len").cast("double") / F.col("n_docs").cast("double")
        ).alias("avgdl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tf_part = (F.col("tf").cast("double") * F.lit(K1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(K1)
        * (
            F.lit(1.0 - B)
            + F.lit(B) * F.col("dl").cast("double") / F.col("avgdl")
        )
    )
    scored = (
        touched.join(F.broadcast(dfq), "tok")
        .crossJoin(F.broadcast(st))
        .select(
            "doc_id",
            F.round(idf * tf_part, 6).cast("decimal(20,6)").alias("s"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum("s").cast("double").alias("bm25"),
    )


def top_ranks(scored: DataFrame, score_col: str, k: int = 20) -> DataFrame:
    """(doc_id, r): rank 1..k by (score DESC, doc_id ASC) — the
    orderBy.limit idiom ends in TakeOrderedAndProject (never a global
    single-partition sort of the corpus); the row_number window runs
    over the ≤k survivors only."""
    w = Window.orderBy(F.desc(score_col), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc(score_col), F.asc("doc_id"))
        .limit(k)
        .withColumn("r", F.row_number().over(w))
        .select("doc_id", "r")
    )


def rrf_fuse(sr: DataFrame, dr: DataFrame) -> DataFrame:
    """Reciprocal Rank Fusion of two (doc_id, r) rank lists (Cormack et
    al. 2009): full outer on doc_id, rrf = Σ 1/(60 + rank) with absent
    arms contributing 0 — a ≤k×≤k join, driver-free."""
    srx = sr.select(F.col("doc_id").alias("s_id"), F.col("r").alias("s_r"))
    drx = dr.select(F.col("doc_id").alias("d_id"), F.col("r").alias("d_r"))
    fused = srx.join(drx, srx.s_id == drx.d_id, "full_outer")
    return fused.select(
        F.coalesce(F.col("s_id"), F.col("d_id")).alias("doc_id"),
        F.col("s_r").cast("bigint").alias("bm25_rank"),
        F.col("d_r").cast("bigint").alias("cosine_rank"),
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("s_r").cast("double")),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("d_r").cast("double")),
                F.lit(0.0),
            )
        ).alias("rrf"),
    )
