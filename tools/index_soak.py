"""Index-LIFECYCLE soak: drive the two incremental index families
through many maintenance cycles and assert their invariants after every
step — the multi-generation torture the single-shot unit tests can't
give (each publish GCs older generations; dozens of publishes shake out
pointer/GC interactions, append-vs-compact interleavings, and repair
convergence).

Gram index (exact-substring dedup), per cycle:
  merge a fresh doc batch (SET-UNION) → replay the SAME batch (must
  append 0) → probe an overlapping batch and CHECK PARITY against the
  self-contained span_cut_list over everything merged so far → every
  3rd cycle compact with a tombstone for the oldest batch's docs and
  re-check parity against the surviving corpus.

Learned-IVF index (ANN), per cycle:
  append a drifted vector batch (stored centroids, no retrain) → audit
  → if flagged, repair (re-seed + joint Lloyd step + global reassign +
  hard-linked publish) → assert the stored assignment equals a
  one-shot assignment under the PUBLISHED centroids (the build
  invariant), the pointer resolves, and at most 2 generations remain
  (publish GC keeps current + previous).

BM25 stats store (round 10), per cycle:
  merge a fresh doc batch (hard-linked postings publish, vocab-grain df
  merge, int stats add) → replay the SAME batch (must publish nothing)
  → served scores must equal a from-scratch rebuild over everything
  merged so far.

Cluster map + signature index pair (round 10), per cycle:
  ingest a batch whose docs near-dup the previous cycle's (components
  keep merging) → replay (must touch neither store) → the stored map
  must equal a from-scratch CC over the full corpus's candidate graph.

Base+delta fact store (round 11), per cycle:
  ingest a fact micro-batch into the manifest delta → replay (must
  append 0) → serve must equal the running row-set → every 2nd cycle
  compact (new bucketed generation, folded-through committed inside it)
  and re-check serving parity + ≤2 generations live.

Corpus+index PAIR loops (round 12 — streaming/index_ingest.py), per
cycle for BOTH the BM25 pair and the positioned-gram pair:
  ingest a doc batch through the pair loop → replay the SAME batch
  (must append 0 docs and leave the index generation untouched) →
  the served index must equal a from-scratch build over every doc the
  corpus holds (the pair converges as a UNIT).

Usage: python tools/index_soak.py [cycles]           (default 6)
Prints one JSON line {"cycles": N, "gram": {...}, "ivf": {...},
"bm25": {...}, "cluster": {...}, "base_delta": {...},
"bm25_pair": {...}, "pos_gram_pair": {...}, "seconds": s};
exits nonzero on any invariant violation.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from options_data_pipeline_spark.functions.similarity import (  # noqa: E402
    append_kmeans_index,
    audit_kmeans_index,
    build_kmeans_index,
    repair_kmeans_index_until_clean,
    with_cell,
)
from options_data_pipeline_spark.functions.text import (  # noqa: E402
    build_gram_index,
    compact_gram_index,
    incremental_cut_list,
    merge_gram_index,
    read_gram_index,
    span_cut_list,
)
from options_data_pipeline_spark.session import get_spark  # noqa: E402
from options_data_pipeline_spark.sources import store  # noqa: E402


def _docs(spark, ids, texts):
    return spark.createDataFrame(list(zip(ids, texts)), "doc_id long, text string")


def soak_gram(spark, cycles: int, workdir: str) -> dict:
    path = os.path.join(workdir, "gram_idx")
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    corpus_rows: dict[int, str] = {0: shared + " seed tail zero"}
    build_gram_index(_docs(spark, [0], [corpus_rows[0]]), path)
    stats = {"merges": 0, "replays_zero": 0, "parity_checks": 0, "compactions": 0}
    batch_ids: list[list[int]] = [[0]]
    for c in range(1, cycles + 1):
        base = 100 * c
        ids = [base, base + 1]
        texts = [
            shared + f" cycle{c} suffix one",
            f"unique{c} words nobody else uses in cycle {c} ever at all",
        ]
        batch = _docs(spark, ids, texts)
        r1 = merge_gram_index(batch, path)
        assert r1["new_pairs"] > 0, f"cycle {c}: merge appended nothing"
        stats["merges"] += 1
        r2 = merge_gram_index(batch, path)
        assert r2["new_pairs"] == 0, f"cycle {c}: replay appended {r2['new_pairs']}"
        stats["replays_zero"] += 1
        for i, t in zip(ids, texts):
            corpus_rows[i] = t
        batch_ids.append(ids)

        # probe parity: a fresh overlapping probe batch vs the
        # self-contained cut list over (merged corpus ∪ probe)
        probe = _docs(spark, [9000 + c], [shared + f" probe{c} tail"])
        got = sorted(
            map(tuple, incremental_cut_list(probe, read_gram_index(spark, path)).collect())
        )
        everything = _docs(
            spark,
            list(corpus_rows) + [9000 + c],
            list(corpus_rows.values()) + [shared + f" probe{c} tail"],
        )
        want = sorted(
            map(
                tuple,
                span_cut_list(everything).filter(F.col("doc_id") == 9000 + c).collect(),
            )
        )
        assert got == want, f"cycle {c}: parity {got} != {want}"
        stats["parity_checks"] += 1

        if c % 3 == 0 and len(batch_ids) > 1:
            dead = batch_ids.pop(1)  # tombstone the oldest post-seed batch
            tomb = spark.createDataFrame([(i,) for i in dead], "doc_id long")
            compact_gram_index(spark, path, tombstones=tomb)
            for i in dead:
                corpus_rows.pop(i, None)
            idx = read_gram_index(spark, path)
            assert idx.filter(F.col("doc_id").isin(dead)).count() == 0
            stats["compactions"] += 1
        gens = [d for d in os.listdir(path) if d.startswith("v_")]
        assert 1 <= len(gens) <= 2, f"cycle {c}: {len(gens)} generations"
    return stats


def soak_ivf(spark, cycles: int, workdir: str) -> dict:
    path = os.path.join(workdir, "kidx")
    dim = 4

    def vecs(rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    base = [(i, [0.05 * i, 0.0, 0.0, 0.0]) for i in range(6)]
    base += [(10 + i, [10.0 + 0.05 * i, 0.0, 0.0, 0.0]) for i in range(6)]
    build_kmeans_index(vecs(base), path, k=3, iters=1)
    stats = {"appends": 0, "repairs": 0, "noops": 0}
    k_cur = 3
    next_id = 100
    for c in range(1, cycles + 1):
        # drift: a new mass appears far from every current centroid
        center = 20.0 + 7.0 * c
        batch = [(next_id + j, [center + 0.05 * j, 0.0, 0.0, 0.0]) for j in range(8)]
        next_id += 8
        append_kmeans_index(vecs(batch), path)
        stats["appends"] += 1
        verdicts = audit_kmeans_index(spark, path).collect()
        if any(r.needs_recluster for r in verdicts):
            out = repair_kmeans_index_until_clean(spark, path)
            assert out["rounds"], "flagged audit but repair ran 0 rounds"
            stats["repairs"] += len(out["rounds"])
            if out["clean"]:
                stats["converged"] = stats.get("converged", 0) + 1
            else:
                # the documented escalation: residual skew after local
                # repair is DATA — the drift keeps adding separated
                # modes, so k itself is too small. The remedy is a full
                # retrain at a GROWN k (doubled, capped), from the
                # stored corpus; the audit after it must clear.
                cur = store.current(path)
                corpus = spark.read.parquet(os.path.join(cur, "corpus")).select(
                    "vec_id", "embedding"
                ).localCheckpoint(eager=True)
                k_cur = min(12, 2 * k_cur)
                build_kmeans_index(corpus, path, k=k_cur, iters=3, overwrite=True)
                stats["rebuilds"] = stats.get("rebuilds", 0) + 1
                # the grown-k rebuild's first-k-by-id init lands inside
                # one mass, so fresh capacity starts DEAD (empty flags)
                # — the re-seed repair is precisely the cure: rebuild
                # grows capacity, repair places it. The composition is
                # the full remedy and must converge.
                post = repair_kmeans_index_until_clean(spark, path)
                stats["clean_after_rebuild"] = stats.get(
                    "clean_after_rebuild", 0
                ) + int(post["clean"])
        else:
            stats["noops"] += 1
        # build invariant after every cycle: stored assignment equals the
        # one-shot assignment under the PUBLISHED centroid table
        cur = store.current(path)
        stored = spark.read.parquet(os.path.join(cur, "corpus"))
        cents = [
            r.centroid
            for r in sorted(
                spark.read.parquet(os.path.join(cur, "centroids")).collect(),
                key=lambda r: r.cell,
            )
        ]
        ref = with_cell(stored.select("vec_id", "embedding"), cents)
        got = {(r.vec_id, r.cell) for r in stored.select("vec_id", "cell").collect()}
        want = {(r.vec_id, r.cell) for r in ref.select("vec_id", "cell").collect()}
        assert got == want, f"cycle {c}: assignment invariant broken"
        gens = [d for d in os.listdir(path) if d.startswith("v_")]
        assert len(gens) <= 2, f"cycle {c}: {len(gens)} generations survived GC"
    return stats


def hotcell_main() -> int:
    """×100 adversarial repair soak (round-9 verdict item 6): the
    two-mass hot-cell FIXPOINT case — one cell holding two separated
    masses, where a plain joint Lloyd step stalls (the mean moves,
    nothing reassigns) and the recipient-drafting repair must split the
    masses — at 200k vectors. Records rounds-to-clean against the ≤k
    drafting bound, plus the build invariant (stored assignment ==
    one-shot argmin under the published centroids) and the ≤2-generation
    GC invariant, all at scale.

    Usage: python tools/index_soak.py --hotcell [n_base] [n_drift]
    (defaults 200_000 / 60_000). Prints one JSON line."""
    n_base = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    n_drift = int(sys.argv[3]) if len(sys.argv) > 3 else 60_000
    k = 8
    spark = get_spark("index-soak-hotcell")
    workdir = tempfile.mkdtemp(prefix="index_soak_hot_")
    path = os.path.join(workdir, "kidx")
    t0 = time.perf_counter()
    try:
        per = n_base // k
        # base: k tight clusters at x = 10c (deterministic jitter)
        base = spark.range(n_base).selectExpr(
            "id AS vec_id",
            f"array(10.0 * cast(id % {k} as double) + 0.00001 * cast(id div {k} as double),"
            " 0.0d, 0.0d, 0.0d) AS embedding",
        )
        build_kmeans_index(base, path, k=k, iters=2)
        # drift: a SECOND mass lands far beyond cluster k-1, assigned to
        # its cell (nearest centroid) -> one hot cell, two masses, no
        # empty partner anywhere: the drafting fixpoint, at scale
        drift = spark.range(n_drift).selectExpr(
            f"id + {n_base} AS vec_id",
            f"array(95.0 + 0.00001 * cast(id as double), 0.0d, 0.0d, 0.0d) AS embedding",
        )
        append_kmeans_index(drift, path)
        before = audit_kmeans_index(spark, path).collect()
        hot = [int(r.cell) for r in before if r.hot]
        assert hot, "plant failed: no hot cell"
        assert not any(r.empty for r in before), "plant failed: empty partner exists"

        out = repair_kmeans_index_until_clean(spark, path)
        rounds = len(out["rounds"])
        assert out["clean"], f"not clean after {rounds} rounds"
        assert rounds <= k, f"rounds {rounds} exceeded the <=k drafting bound"

        # build invariant at scale, checked distributed (no driver sets)
        cur = store.current(path)
        stored = spark.read.parquet(os.path.join(cur, "corpus"))
        cents = [
            r.centroid
            for r in sorted(
                spark.read.parquet(os.path.join(cur, "centroids")).collect(),
                key=lambda r: r.cell,
            )
        ]
        ref = with_cell(stored.select("vec_id", "embedding"), cents).select(
            "vec_id", F.col("cell").alias("ref_cell")
        )
        mism = (
            stored.select("vec_id", "cell")
            .join(ref, "vec_id")
            .filter(F.col("cell") != F.col("ref_cell"))
            .count()
        )
        assert mism == 0, f"{mism} rows off the one-shot assignment"
        gens = [d for d in os.listdir(path) if d.startswith("v_")]
        assert len(gens) <= 2, f"{len(gens)} generations survived GC"
        after = audit_kmeans_index(spark, path).collect()
        assert not any(r.needs_recluster for r in after)
        print(
            json.dumps(
                {
                    "n_base": n_base,
                    "n_drift": n_drift,
                    "k": k,
                    "hot_cells_before": hot,
                    "rounds_to_clean": rounds,
                    "rounds_bound": k,
                    "rows_moved": sum(r["rows_moved"] for r in out["rounds"]),
                    "assignment_mismatches": 0,
                    "generations": len(gens),
                    "seconds": round(time.perf_counter() - t0, 1),
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


def soak_bm25(spark, cycles: int, workdir: str) -> dict:
    """BM25 store, per cycle: merge a doc batch (hard-linked postings
    publish) → replay (must publish nothing) → PARITY: served scores
    for a live query equal a from-scratch rebuild over everything
    merged so far, across all three store parts."""
    from options_data_pipeline_spark.functions.retrieval import (
        bm25_score_indexed,
        build_bm25_index,
        merge_bm25_index,
    )

    path = os.path.join(workdir, "bm25_idx")
    terms = ["spark", "join", "window", "stream"]
    corpus_rows: dict[int, str] = {
        0: "spark join window stream seed doc",
        1: "unrelated seed text with no query terms",
    }
    build_bm25_index(_docs(spark, list(corpus_rows), list(corpus_rows.values())), path)
    stats = {"merges": 0, "replays_zero": 0, "parity_checks": 0}
    for c in range(1, cycles + 1):
        base = 100 * c
        ids = [base, base + 1]
        texts = [
            f"spark stream cycle{c} words " + "pad " * (c % 3),
            f"filler{c} document with join inside",
        ]
        batch = _docs(spark, ids, texts)
        r1 = merge_bm25_index(batch, path)
        assert r1["fresh_docs"] == 2, f"cycle {c}: merge saw {r1['fresh_docs']}"
        stats["merges"] += 1
        r2 = merge_bm25_index(batch, path)
        assert r2["fresh_docs"] == 0 and r2["version"] == r1["version"]
        stats["replays_zero"] += 1
        for i, t in zip(ids, texts):
            corpus_rows[i] = t
        ref_path = os.path.join(workdir, f"bm25_ref_{c}")
        build_bm25_index(
            _docs(spark, list(corpus_rows), list(corpus_rows.values())), ref_path
        )
        got = sorted(map(tuple, bm25_score_indexed(spark, path, terms).collect()))
        want = sorted(map(tuple, bm25_score_indexed(spark, ref_path, terms).collect()))
        assert got == want, f"cycle {c}: served scores diverged from rebuild"
        stats["parity_checks"] += 1
        gens = [d for d in os.listdir(path) if d.startswith("v_")]
        assert 1 <= len(gens) <= 2, f"cycle {c}: {len(gens)} generations"
    return stats


def soak_cluster(spark, cycles: int, workdir: str) -> dict:
    """Cluster map + signature index pair, per cycle: ingest a batch
    whose docs near-dup the PREVIOUS cycle's (so components keep
    merging across cycles) → replay (must touch neither store) →
    PARITY: the stored map equals a from-scratch CC over the full
    corpus's candidate graph."""
    from options_data_pipeline_spark.functions.dedupe import (
        build_cluster_map,
        build_lsh_index,
        connected_components_star,
        minhash_lsh_candidates,
        read_cluster_map,
    )
    from options_data_pipeline_spark.streaming.cluster_stream import (
        cluster_ingest_batch,
    )

    map_path = os.path.join(workdir, "cmap")
    sig_path = os.path.join(workdir, "csigs")
    block = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    corpus_rows: dict[int, str] = {
        0: block + " seed zero",
        1: "totally different seed words here q1 q2 q3 q4",
    }
    seed = _docs(spark, list(corpus_rows), list(corpus_rows.values()))
    build_lsh_index(seed, sig_path)
    build_cluster_map(minhash_lsh_candidates(seed), map_path)
    stats = {"ingests": 0, "replays_zero": 0, "parity_checks": 0}
    for c in range(1, cycles + 1):
        base = 100 * c
        ids = [base, base + 1]
        texts = [
            block + f" drift{c}",  # near-dups the shared block chain
            f"cycle{c} unique island words w1 w2 w3 w4 w5",
        ]
        batch = _docs(spark, ids, texts)
        r1 = cluster_ingest_batch(batch, map_path, sig_path)
        assert r1["fresh_docs"] == 2, f"cycle {c}: {r1}"
        stats["ingests"] += 1
        r2 = cluster_ingest_batch(batch, map_path, sig_path)
        assert r2["fresh_docs"] == 0, f"cycle {c}: replay ingested {r2}"
        stats["replays_zero"] += 1
        for i, t in zip(ids, texts):
            corpus_rows[i] = t
        everything = _docs(spark, list(corpus_rows), list(corpus_rows.values()))
        got = sorted(map(tuple, read_cluster_map(spark, map_path).collect()))
        want = sorted(
            map(
                tuple,
                connected_components_star(
                    minhash_lsh_candidates(everything)
                ).collect(),
            )
        )
        assert got == want, f"cycle {c}: map diverged from from-scratch CC"
        stats["parity_checks"] += 1
        gens = [d for d in os.listdir(map_path) if d.startswith("v_")]
        assert 1 <= len(gens) <= 2, f"cycle {c}: {len(gens)} map generations"
    return stats


def soak_base_delta(spark, cycles: int, workdir: str) -> dict:
    """Base+delta fact store: ingest → replay-zero → serve parity →
    periodic compaction keeps parity and ≤2 generations."""
    from options_data_pipeline_spark.streaming import bucketed_stream as bd

    root = os.path.join(workdir, "bd")
    rows = [(f"base{i}", i % 4, float(i)) for i in range(8)]
    df = spark.createDataFrame(rows, "row_id string, k bigint, v double")
    bd.build_base(df, root, "k", buckets=4)
    stats = {"ingests": 0, "replays_zero": 0, "parity_checks": 0, "compactions": 0}
    expect = list(rows)
    for c in range(1, cycles + 1):
        batch_rows = [(f"c{c}_{i}", (c + i) % 4, float(100 * c + i)) for i in range(3)]
        batch = spark.createDataFrame(
            batch_rows, "row_id string, k bigint, v double"
        )
        assert bd.ingest_batch(batch, root, "row_id") == 3, f"cycle {c}"
        stats["ingests"] += 1
        assert bd.ingest_batch(batch, root, "row_id") == 0, f"cycle {c}: replay"
        stats["replays_zero"] += 1
        expect += batch_rows
        got = sorted(map(tuple, bd.serve(spark, root, "k", buckets=4).collect()))
        assert got == sorted(expect), f"cycle {c}: serve diverged"
        stats["parity_checks"] += 1
        if c % 2 == 0:
            rep = bd.compact(spark, root, "k", buckets=4)
            assert rep["rows"] == len(expect), f"cycle {c}: {rep}"
            stats["compactions"] += 1
            got = sorted(map(tuple, bd.serve(spark, root, "k", buckets=4).collect()))
            assert got == sorted(expect), f"cycle {c}: post-compact diverged"
            gens = [d for d in os.listdir(root) if d.startswith("v_")]
            assert 1 <= len(gens) <= 2, f"cycle {c}: {len(gens)} generations"
    return stats


def soak_corpus_index_pair(spark, cycles: int, workdir: str, kind: str) -> dict:
    """Corpus + serving-index PAIR loops (streaming/index_ingest.py,
    round 12), per cycle: ingest a doc batch through the pair loop →
    replay (must append 0 docs AND leave the index generation alone) →
    PARITY: the served index equals a from-scratch build over every doc
    the corpus holds. ``kind`` ∈ {"bm25_pair", "pos_gram_pair"}."""
    from options_data_pipeline_spark.streaming import index_ingest as ii

    corpus = os.path.join(workdir, f"{kind}_corpus")
    index = os.path.join(workdir, f"{kind}_index")
    fn = ii.bm25_ingest_batch if kind == "bm25_pair" else ii.pos_gram_ingest_batch
    corpus_rows: dict[int, str] = {}
    stats = {"ingests": 0, "replays_zero": 0, "parity_checks": 0}
    for c in range(1, cycles + 1):
        base = 100 * c
        ids = [base, base + 1]
        texts = [
            f"spark stream cycle{c} join window watermark shuffle " + "pad " * (c % 3),
            f"second doc{c} of the batch with join inside and more words after",
        ]
        batch = _docs(spark, ids, texts)
        assert fn(batch, corpus, index) == 2, f"{kind} cycle {c}: ingest"
        stats["ingests"] += 1
        v = store.current(index)
        assert fn(batch, corpus, index) == 0, f"{kind} cycle {c}: replay"
        assert store.current(index) == v, f"{kind} cycle {c}: replay republished"
        stats["replays_zero"] += 1
        for i, t in zip(ids, texts):
            corpus_rows[i] = t
        held = {r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()}
        assert held == set(corpus_rows), f"{kind} cycle {c}: corpus ids"
        everything = _docs(spark, list(corpus_rows), list(corpus_rows.values()))
        ref = os.path.join(workdir, f"{kind}_ref_{c}")
        if kind == "bm25_pair":
            from options_data_pipeline_spark.functions.retrieval import (
                bm25_score_indexed,
                build_bm25_index,
            )

            build_bm25_index(everything, ref)
            terms = ["spark", "join", "window", f"doc{c}"]
            got = sorted(map(tuple, bm25_score_indexed(spark, index, terms).collect()))
            want = sorted(map(tuple, bm25_score_indexed(spark, ref, terms).collect()))
        else:
            from options_data_pipeline_spark.functions.text import (
                build_pos_gram_index,
                read_pos_gram_index,
            )

            build_pos_gram_index(everything, ref, min_tokens=4)
            got = sorted(
                (r.gram_key, r.doc_id, tuple(r.ps))
                for r in read_pos_gram_index(spark, index).collect()
            )
            want = sorted(
                (r.gram_key, r.doc_id, tuple(r.ps))
                for r in read_pos_gram_index(spark, ref).collect()
            )
        assert got == want and got, f"{kind} cycle {c}: index diverged from rebuild"
        stats["parity_checks"] += 1
        gens = [d for d in os.listdir(index) if d.startswith("v_")]
        assert 1 <= len(gens) <= 2, f"{kind} cycle {c}: {len(gens)} generations"
    return stats


def main() -> int:
    cycles = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    spark = get_spark("index-soak")
    workdir = tempfile.mkdtemp(prefix="index_soak_")
    t0 = time.perf_counter()
    try:
        gram = soak_gram(spark, cycles, workdir)
        ivf = soak_ivf(spark, cycles, workdir)
        bm25 = soak_bm25(spark, cycles, workdir)
        cluster = soak_cluster(spark, cycles, workdir)
        base_delta = soak_base_delta(spark, cycles, workdir)
        bm25_pair = soak_corpus_index_pair(spark, cycles, workdir, "bm25_pair")
        pos_gram_pair = soak_corpus_index_pair(spark, cycles, workdir, "pos_gram_pair")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    out = {
        "cycles": cycles,
        "gram": gram,
        "ivf": ivf,
        "bm25": bm25,
        "cluster": cluster,
        "base_delta": base_delta,
        "bm25_pair": bm25_pair,
        "pos_gram_pair": pos_gram_pair,
        "seconds": round(time.perf_counter() - t0, 1),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--hotcell":
        raise SystemExit(hotcell_main())
    raise SystemExit(main())
