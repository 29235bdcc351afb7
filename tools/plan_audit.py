"""Whole-registry physical-plan audit — the scale-posture sweep.

The per-query plan pins in tests/test_plans.py assert specific claims on
~30 queries; this tool sweeps EVERY registry query's physical plan for
the red flags that would sink a 100 TB run, so a new query can't slip in
with a quietly quadratic or Python-row-at-a-time plan:

 - CartesianProduct                      → hard fail (no allowlist)
 - BatchEvalPython (row-at-a-time UDF)   → hard fail (pandas/Arrow only)
 - BroadcastNestedLoopJoin               → fail unless allowlisted: the
   legitimate uses are broadcast crossJoins of a BOUNDED side (a query
   sample, a scalar total, a centroid table)
 - SortMergeJoin                         → informational count (fact-fact
   joins are expected; a DIM join falling to SMJ shows up in the pins)
 - Exchange count                        → informational; flags growth

Queries that EXECUTE at construction (iterative CC, k-means training,
index builds) run their jobs at the audit SF — keep it small.

Usage: python tools/plan_audit.py [sf_dir]   (default sf0.001)
Prints one JSON line; exit 1 on any hard failure.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from options_data_pipeline_spark import registry  # noqa: E402
from options_data_pipeline_spark.plans.explain import physical_plan  # noqa: E402
from options_data_pipeline_spark.session import get_spark  # noqa: E402

# Bounded-side broadcast crossJoins: query samples (ANN/mining), scalar
# totals (LM normalizers), small model tables (centroids, band tables).
BNLJ_OK = {
    # broadcast query samples (ANN / mining / audit arms)
    "cosine_topk",
    "hard_negatives",
    "ann_recall_report",
    # broadcast scalar normalizers (1-row totals crossJoined in)
    "unigram_logprob",
    "ccnet_buckets",
    "dsir_weights",
    "tfidf_top_terms",
    "temperature_mixture",
    "dormant_high_balance",  # Q22 scalar avg-balance subquery
    "important_part_value",  # Q11 1-row global-total threshold crossJoin
    "cooccurrence_pmi",  # 1-row n_uni/n_big totals + the 50-row top-k list
    "ivf_cell_balance",  # 1-row corpus-total crossJoined onto 8 cell rows
    "dedup_cluster_stats",  # 1-row corpus-count normalizer (registry dedup dashboard)
    # round 11: 4-row threshold scaffold, broadcast non-equi (est >= t)
    "near_dup_threshold_sweep",
    "near_dup_threshold_sweep_indexed",  # same scaffold, store-served
    # round 11: 1-row total/k*/level scaffolds in the waterfill closed form
    "unimax_mixture",
    "ks_drift_sources",  # 1-row reference-total crossJoin onto the CDF grid
    # round 12: the live gate's KS — same two scaffolds as
    # ks_drift_sources (reference grid × per-source scaffold, 1-row
    # reference total), both broadcast and grid/source-bounded
    "drift_gate_routing",
    "rfm_segments",  # 1-row max-orderdate crossJoined onto the customer dim
    "histogram_quantile_sketch",  # 1-row global min/max bin normalizer
    "dau_wau_mau",  # bounded day×bitmap-bucket scaffold (gap_fill family)
    "bm25_rank",  # 1-row corpus avgdl/N stats normalizer
    "bm25_rank_indexed",  # the SAME 1-row stats normalizer, store-served
    "hybrid_rrf_retrieval_indexed",  # same stats row via the sparse arm
    # broadcast 1-ROW bloom filter crossJoined onto the probe side (the
    # whole point: membership testing without a join)
    "bloom_prefilter_stats",
    # bounded sketch scaffolds: 64-register HLL grid / 4-row CMS depth
    # table crossJoined as broadcast (the sketch is fixed-size by design)
    "hll_distinct_sketch",
    "cms_heavy_hitters",
    # broadcast 1-row min/max normalizer for the 16-bit key scaling
    "zorder_span_audit",
    # broadcast 1-row node-count normalizer in the PageRank base term
    "item_pagerank",
    # + the per-round broadcast 1-row dangling-mass total
    "pagerank_dangling",
    # composed portable sketch: 1-row histogram min/max normalizer + the
    # 64-register HLL scaffold (both bounded by construction)
    "approx_sketch_stats",
    # broadcast 1-row total-orders normalizer onto ≤9 digit rows
    "benford_audit",
    # power-iteration PCA: broadcast 1-row n/norm/trace normalizers onto
    # the 4096-cell covariance / 64-row vector frames (all bounded by
    # dimension², never corpus-sized)
    "embedding_top_pc",
    # broadcast 1-row bootstrap band crossJoined onto the 1-row point
    # estimate (both bounded by the replicate count)
    "bootstrap_mean_ci",
    # broadcast 1-row basket-total normalizer onto the rule table
    "association_rules",
    # broadcast 1-row per-dimension min/max arrays onto the vector scan
    "embedding_int8_quantize",
    # broadcast 1-row corpus weight total onto the document scan
    "weighted_bernoulli_sample",
    # broadcast 1-row global value min/max onto the event scan
    "chi2_drift",
    # broadcast 64-row register scaffold onto the per-symbol register table
    "hll_segment_rollup",
    # |types|-row probability-array table self-joined on < (range, not equi)
    "tv_distance_matrix",
    # broadcast 1-row max-day anchor onto the event scan
    "half_life_engagement",
    # broadcast 1-row allocation denominator onto the 5-row rate table
    "neyman_stratified_sample",
    # round 8: broadcast 1-row (tb, tn) totals onto the 8-cell scaffold
    "ivf_recluster_audit",
    # broadcast 1-row train-unigram total N onto the held-out score join
    "backoff_heldout_logprob",
    # broadcast 1-row doc-count arm onto the 1-row chunk-dedup report
    "content_chunk_dedup",
    # round 9: broadcast 1-row total-tokens normalizer onto the 20-row
    # domain diagnostics (the k-row weight scaffold is also broadcast)
    "doremi_mixture_weights",
    # broadcast 1-row query vector onto the dense-arm corpus scan (and
    # the 1-row corpus stats onto the BM25 term rows) — both bounded
    "hybrid_rrf_retrieval",
}


def _nodes(plan: str, node: str) -> int:
    """Count REAL plan nodes by their formatted-explain detail header
    ``(N) NodeName`` — a plain substring count doubles every node (tree
    line + detail header), which inflated round-5's "max 50 exchanges"
    headline to ~2× the true node count."""
    import re

    return len(re.findall(rf"^\(\d+\) {node}\b", plan, re.MULTILINE))


def package_digest(repo_root: str) -> str:
    """sha256 over the sorted relative paths and bytes of every package
    ``.py`` file. A commit cannot stamp its own git hash, but it can carry
    this; tools/round_close.py recomputes it to prove the audit ran
    against the committed code."""
    import glob
    import hashlib

    h = hashlib.sha256()
    pattern = os.path.join(repo_root, "options_data_pipeline_spark", "**", "*.py")
    for p in sorted(glob.glob(pattern, recursive=True)):
        with open(p, "rb") as f:
            data = f.read()
        rel = os.path.relpath(p, repo_root).replace(os.sep, "/")
        h.update(f"{rel}\0{len(data)}\0".encode())
        h.update(data)
    return h.hexdigest()


def audit_one(name: str, plan: str) -> dict:
    return {
        "cartesian": plan.count("CartesianProduct"),
        "py_udf": plan.count("BatchEvalPython"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "smj": _nodes(plan, "SortMergeJoin"),
        # shuffle exchanges only; broadcasts tracked separately (they are
        # dim-sized by construction, not a scale concern)
        "exchanges": _nodes(plan, "Exchange"),
        "broadcast_exchanges": _nodes(plan, "BroadcastExchange"),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-audit")
    failures: list[str] = []
    stats: dict[str, dict] = {}
    for name, fn in registry.queries().items():
        try:
            plan = physical_plan(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: plan build error: {e}")
            continue
        s = audit_one(name, plan)
        stats[name] = s
        if s["cartesian"]:
            failures.append(f"{name}: CartesianProduct in plan")
        if s["py_udf"]:
            failures.append(f"{name}: row-at-a-time Python UDF (BatchEvalPython)")
        if s["bnlj"] and name not in BNLJ_OK:
            failures.append(f"{name}: unexpected BroadcastNestedLoopJoin")
    summary = {
        "queries": len(stats),
        "hard_failures": failures,
        "bnlj_allowlisted_hits": sorted(
            n for n, s in stats.items() if s["bnlj"] and n in BNLJ_OK
        ),
        "max_exchanges": max(
            ((s["exchanges"], n) for n, s in stats.items()), default=(0, "")
        ),
        "smj_total": sum(s["smj"] for s in stats.values()),
        # per-query SMJ attribution: every non-zero entry must be a
        # fact-fact join (both sides at data grain); a dim join appearing
        # here means a broadcast was missed — see BASELINE.md SMJ table
        "smj_queries": {n: s["smj"] for n, s in sorted(stats.items()) if s["smj"]},
    }
    print(json.dumps(summary))
    # Round-close artifact: persist the audit result stamped with the tree
    # state it ran against, so a query landing AFTER the last audit run is
    # detectable (the round-10 slip: dedup_cluster_stats shipped in the
    # final commit, after the last audit, leaving the committed "0 hard
    # failures" claim stale). git_head is the commit the audit ran ON,
    # never the one that commits the artifact; package_sha256 is what a
    # clean close-out checks (tools/round_close.py recomputes it), plus
    # query count == registry size.
    import subprocess

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            cwd=repo_root,
        ).stdout.strip()
        dirty = bool(
            subprocess.run(
                ["git", "status", "--porcelain"], capture_output=True,
                text=True, cwd=repo_root,
            ).stdout.strip()
        )
    except Exception:  # noqa: BLE001
        head, dirty = "unknown", True
    artifact = dict(
        summary, git_head=head, git_dirty=dirty,
        package_sha256=package_digest(repo_root),
    )
    with open(os.path.join(repo_root, "PLAN_AUDIT.json"), "w") as fh:
        json.dump(artifact, fh, indent=2, sort_keys=True)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
