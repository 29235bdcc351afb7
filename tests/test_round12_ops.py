"""Round-12 hardening (ADVICE r11): the bucketed store's `_BUCKETS`
sidecar (fresh-session registration can't trust caller defaults),
`rebucket` generation swaps, and merge_cluster_map's hash-width
normalization (Murmur3 hashes by type width, so an int-typed batch
against a bigint store pruned the WRONG partitions)."""

import os

import pytest
from pyspark.sql import functions as F

from options_data_pipeline_spark.functions.dedupe import (
    build_cluster_map,
    merge_cluster_map,
    read_cluster_map,
)
from options_data_pipeline_spark.streaming import bucketed_stream as bd
from options_data_pipeline_spark.sources import store


def _li(spark, rows):
    return spark.createDataFrame(rows, "row_id string, k bigint, v double")


def _num_buckets(spark, name):
    row = (
        spark.sql(f"DESCRIBE FORMATTED {name}")
        .filter(F.col("col_name") == "Num Buckets")
        .collect()
    )
    return int(row[0].data_type) if row else None


def test_fresh_session_registers_stored_bucket_count(spark, tmp_path):
    """ADVICE r11 item 1: a store built with buckets=4 must re-register
    as 4 buckets in a session that never saw the build — serving with
    the DEFAULT args (the fresh-session reality) may not fall back to
    16-bucket DDL over 4-bucket files, which silently drops rows from
    bucket-pruned lookups and co-located joins."""
    root = str(tmp_path / "bd_fresh")
    rows = [(f"r{i}", i, float(i)) for i in range(40)]
    bd.build_base(_li(spark, rows), root, "k", buckets=4)
    name = bd._register_base(spark, root, "k", None)
    spark.sql(f"DROP TABLE {name}")  # simulate a fresh session catalog
    assert not spark.catalog.tableExists(name)

    served = bd.serve(spark, root, "k")  # no bucket count supplied
    assert _num_buckets(spark, name) == 4
    assert sorted(map(tuple, served.collect())) == sorted(rows)
    # bucket-pruned point lookup returns the row (the bug's signature was
    # a wrong-bucket scan returning empty)
    for k in (0, 7, 39):
        assert served.filter(F.col("k") == k).count() == 1
    # co-located join parity against a plain shuffle join
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(40)], "dk bigint, tag string"
    )
    j = bd.serve_join(spark, root, "k", dim, "dk")
    assert j.count() == 40


def test_register_base_ignores_conflicting_caller_count(spark, tmp_path):
    """The sidecar is authoritative: an explicit WRONG caller count must
    not override the layout the files were written with."""
    root = str(tmp_path / "bd_conflict")
    bd.build_base(_li(spark, [("a", 1, 1.0)]), root, "k", buckets=4)
    name = bd._register_base(spark, root, "k", None)
    spark.sql(f"DROP TABLE {name}")
    name2 = bd._register_base(spark, root, "k", 16)  # lies about the count
    assert name2 == name
    assert _num_buckets(spark, name) == 4


def test_rebucket_publishes_new_generation_with_parity(spark, tmp_path):
    """VERDICT r11 item 5: rebucket(root, new_buckets) re-sizes the store
    as a new generation — serving parity across the swap, the new layout
    visible to a fresh registration, delta tail folded through, the old
    generation left on disk for GC, and the fact-side join still
    exchange-free on the new count."""
    root = str(tmp_path / "bd_rebucket")
    rows = [(f"r{i}", i % 7, float(i)) for i in range(30)]
    bd.build_base(_li(spark, rows), root, "k", buckets=4)
    bd.ingest_batch(_li(spark, [("n1", 3, 100.0)]), root, "row_id")
    old_gen = store.current(root)
    want = sorted(map(tuple, rows + [("n1", 3, 100.0)]))

    rep = bd.rebucket(spark, root, "k", 8)
    assert rep["rows"] == 31
    new_gen = store.current(root)
    assert new_gen != old_gen and os.path.isdir(old_gen)

    got = sorted(map(tuple, bd.serve(spark, root, "k").collect()))
    assert got == want
    name = bd._register_base(spark, root, "k", None)
    assert _num_buckets(spark, name) == 8
    # tail was folded through: no duplicate n1 from the delta arm
    assert bd.serve(spark, root, "k").filter(F.col("row_id") == "n1").count() == 1

    # exchange-free on the NEW count: the bucketed scan feeds the SMJ
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(7)], "dk bigint, tag string"
    )
    j = spark.table(name).hint("merge").join(dim, F.col("k") == F.col("dk"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and plan.count("Bucketed: true") == 1

    # post-rebucket lifecycle still works: ingest + compact on the new layout
    bd.ingest_batch(_li(spark, [("n2", 5, 200.0)]), root, "row_id")
    rep2 = bd.compact(spark, root, "k")
    assert rep2["rows"] == 32
    assert _num_buckets(spark, bd._register_base(spark, root, "k", None)) == 8


def test_merge_cluster_map_narrow_typed_batch_relabels(spark, tmp_path):
    """ADVICE r11 item 2: an INT-typed batch against a BIGINT store must
    relabel correctly — before the width normalization, pmod(hash(int x))
    != pmod(hash(bigint x)) pruned away the partitions actually holding
    the endpoints and the merge silently skipped relabels."""
    path = str(tmp_path / "cmap_narrow")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "doc_a bigint, doc_b bigint"
    )
    build_cluster_map(pairs, path)

    batch = spark.createDataFrame([(1, 10)], "doc_a int, doc_b int")
    rep = merge_cluster_map(batch, path)
    got = {r.doc_id: r.label for r in read_cluster_map(spark, path).collect()}
    assert got[0] == got[1] == got[10] == got[11] == 0
    assert rep["relabeled"] >= 1
    # untouched clusters keep their labels
    assert got[20] == 20 and got[21] == 20
    assert len(got) == 40


def _template_docs(spark):
    """200 diverse docs + a 30-doc exact-template cluster — the planted
    boilerplate corpus shape from VERDICT r11 item 1 at test scale."""
    rows = [
        (
            i,
            f"unique document number {i} with words {i * 7 % 13} "
            f"{i * 3 % 17} body filler text",
        )
        for i in range(200)
    ]
    rows += [
        (1000 + i, "the same boilerplate template text repeated across docs")
        for i in range(30)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.mark.parametrize(
    "fn_name", ["minhash_lsh_candidates", "simhash_near_pairs", "minhash_jaccard_estimates"]
)
def test_skew_robust_band_join_is_pair_identical(spark, fn_name):
    """VERDICT r11 item 1: the blocked heavy-bucket self-join must return
    the EXACT pair set of the plain band join — heavy_bucket forced low
    so the 30-doc template cluster actually routes through the blocked
    arm (every ordered pair lands on exactly one (g(x), g(y)) block; the
    a<b filter keeps each unordered pair once)."""
    import options_data_pipeline_spark.functions.dedupe as dd

    fn = getattr(dd, fn_name)
    docs = _template_docs(spark)
    plain = sorted(map(tuple, fn(docs).collect()))
    robust = sorted(
        map(tuple, fn(docs, skew_robust=True, heavy_bucket=8, salt=4).collect())
    )
    assert plain == robust and len(plain) > 0


def test_skew_robust_splits_worst_join_key(spark):
    """The escape's point: the worst join key's pair count drops from
    C(B,2) (one task owns the whole template cluster) to ~(B/salt)²."""
    from options_data_pipeline_spark.functions.dedupe import (
        LSH_BANDS,
        band_bucket_cols,
        minhash_signatures_wide,
    )

    docs = _template_docs(spark)
    wide = minhash_signatures_wide(docs)
    stack_args = ", ".join(f"{b}, b{b}" for b in range(LSH_BANDS))
    banded = wide.select("doc_id", *band_bucket_cols()).selectExpr(
        "doc_id", f"stack({LSH_BANDS}, {stack_args}) as (band, bucket)"
    )
    sizes = banded.groupBy("band", "bucket").count()
    worst_plain = sizes.agg(F.max("count")).first()[0]
    assert worst_plain >= 30  # the template bucket
    salt = 4
    worst_block = (
        banded.withColumn("_g", F.pmod(F.hash("doc_id"), F.lit(salt)))
        .groupBy("band", "bucket", "_g")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    # worst block pair volume (c²) ≪ worst bucket pair volume (B²/2)
    assert worst_block**2 < worst_plain * (worst_plain - 1) / 2


def test_merge_cluster_map_rejects_widening_batch(spark, tmp_path):
    """A batch WIDER than the store's id type can hold values the store
    can't represent — must fail loudly, never silently truncate."""
    path = str(tmp_path / "cmap_wide")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 10, 2)], "doc_a int, doc_b int"
    )
    build_cluster_map(pairs, path)
    batch = spark.createDataFrame([(1, 4)], "doc_a bigint, doc_b bigint")
    with pytest.raises(TypeError, match="incompatible"):
        merge_cluster_map(batch, path)


def test_serve_snapshot_is_atomic_across_compaction_swap(spark, tmp_path):
    """Verdict item 4 regression pin: a serve view built BEFORE a
    compaction pointer swap stays exact w.r.t. ITS committed version
    when collected AFTER the swap — `_resolve_snapshot` reads the
    pointer once and that generation's own `_FOLDED_THROUGH`, so base
    arm and tail cutoff can never mix generations (the old two-resolve
    path dropped the rows folded between them)."""
    root = str(tmp_path / "store")
    seed = [(f"s{i}", i % 4, float(i)) for i in range(8)]
    bd.build_base(_li(spark, seed), root, "k", buckets=4)
    batch1 = [(f"b1_{i}", i % 4, float(10 + i)) for i in range(3)]
    assert bd.ingest_batch(_li(spark, batch1), root, "row_id") == 3

    # reader resolves its snapshot (lazy plan) before the swap
    view = bd.serve(spark, root, "k")
    gen_before = store.current(root)

    # writer folds batch1 into a new generation (pointer swap) and
    # ingests MORE rows the old snapshot must not see
    bd.compact(spark, root, "k")
    assert store.current(root) != gen_before
    batch2 = [(f"b2_{i}", i % 4, float(20 + i)) for i in range(3)]
    assert bd.ingest_batch(_li(spark, batch2), root, "row_id") == 3

    got = {r.row_id for r in view.select("row_id").collect()}
    want = {r[0] for r in seed} | {r[0] for r in batch1}
    assert got == want  # exact at the snapshot's version: no loss, no b2

    # a FRESH serve after the swap sees everything, fold point included
    got2 = {r.row_id for r in bd.serve(spark, root, "k").select("row_id").collect()}
    assert got2 == want | {r[0] for r in batch2}


def test_resolve_snapshot_ignores_runahead_root_marker(spark, tmp_path):
    """The root `_COMPACTED_THROUGH` cache can run AHEAD of a resolved
    generation mid-swap; `_resolve_snapshot` must prefer the
    generation's own marker (max()'ing the cache in — the old
    `_compacted_through` semantics — dropped the tail rows folded by
    the newer generation)."""
    root = str(tmp_path / "store")
    seed = [(f"s{i}", i % 4, float(i)) for i in range(4)]
    bd.build_base(_li(spark, seed), root, "k", buckets=4)
    assert bd.ingest_batch(_li(spark, [("b1", 0, 1.0)]), root, "row_id") == 1
    cur, folded = bd._resolve_snapshot(root)
    # simulate the swap window: cache advanced past this generation
    bd._write_compacted_through(root, folded + 7)
    cur2, folded2 = bd._resolve_snapshot(root)
    assert (cur2, folded2) == (cur, folded)
    # and serving still includes the uncompacted tail row
    got = {r.row_id for r in bd.serve(spark, root, "k").select("row_id").collect()}
    assert "b1" in got
