"""Physical-plan assertions — the 100 TB posture checks (SURVEY.md §4).

These tests fail if a future change regresses a plan: a dimension join
falling back to sort-merge, a filter no longer reaching the parquet scan,
an extra shuffle appearing in the OHLC pipeline.
"""

from __future__ import annotations

import pytest

from options_data_pipeline_spark import registry
from options_data_pipeline_spark.plans.explain import (
    count_exchanges,
    has_broadcast_join,
    has_sort_merge_join,
    has_window_group_limit,
    pushed_filters,
    read_schemas,
    physical_plan,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return registry.queries()


def test_pricing_summary_pushes_filter_and_prunes_columns(spark, qs):
    df = qs["pricing_summary"](spark, SF)
    assert "l_shipdate" in pushed_filters(df)
    [schema] = read_schemas(df)
    assert "l_orderkey" not in schema  # unused columns pruned from the scan
    assert "l_quantity" in schema


def test_revenue_by_nation_broadcasts_dims(spark, qs):
    df = qs["revenue_by_nation"](spark, SF)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)  # fact side must never shuffle for the join


def test_ohlc_single_shuffle_hash_agg(spark, qs):
    """OHLC groups by (symbol, window) — exactly one hash shuffle, at the
    result grain, executed as partial+final HASH aggregate. A SortAggregate
    here means the min_by ordering key regressed to a struct (non-fixed-
    width buffer) — the scale bug this test pins down."""
    df = qs["ohlc_5m"](spark, SF)
    assert count_exchanges(df) == 1
    plan = physical_plan(df)
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_ohlc_filters_push_to_scan(spark, qs):
    df = qs["ohlc_5m"](spark, SF)
    pf = pushed_filters(df)
    assert "IsNotNull" in pf  # null-drop predicates reach the parquet reader


def test_true_range_reuses_ohlc_partitioning(spark, qs):
    """TR adds a window function partitioned by symbol on top of the OHLC
    agg: one extra exchange (symbol) beyond the agg's — no more."""
    df = qs["ohlc_true_range"](spark, SF)
    assert count_exchanges(df) <= 2


def test_top_k_uses_window_group_limit(spark, qs):
    """rank<=3 must push into the sort (WindowGroupLimit) — no global sort
    of the full table."""
    df = qs["top_parts_per_brand"](spark, SF)
    assert has_window_group_limit(df)


def test_cosine_topk_broadcasts_queries(spark, qs):
    df = qs["cosine_topk"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_minhash_is_single_agg_no_row_explosion(spark, qs):
    """The wide minhash plan computes 16 MIN aggregates in ONE hash
    aggregate — no explode-by-param (×16 shuffle rows) anywhere."""
    df = qs["minhash_lsh"](spark, SF)
    plan = physical_plan(df)
    assert "HashAggregate" in plan and "SortAggregate" not in plan
    # only the shingle explode + band stack appear (≤2 per join side),
    # never a 16-way per-param explode
    import re
    n_generates = len(re.findall(r"^\(\d+\) Generate", plan, re.MULTILINE))
    assert n_generates <= 4


def test_dedup_delta_is_anti_join(spark, qs):
    plan = physical_plan(qs["dedup_delta"](spark, SF))
    assert "LeftAnti" in plan


def test_session_hours_gate_broadcasts_calendar(spark, qs):
    """The per-date calendar dims must broadcast — the tick fact side
    never shuffles for the session-hours join."""
    df = qs["session_hours_gate"](spark, SF)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


def test_salted_ohlc_is_two_hash_aggs(spark, qs):
    """The skew rewrite is partial (symbol, window, salt) + merge
    (symbol, window): both phases HASH aggregates, and only the two
    aggregation exchanges — no sort, no extra shuffle."""
    df = qs["salted_ohlc_5m"](spark, SF)
    plan = physical_plan(df)
    assert "HashAggregate" in plan and "SortAggregate" not in plan
    assert count_exchanges(df) <= 2


def test_winnow_fingerprints_no_shuffle(spark, qs):
    """Fingerprinting is a narrow map + explode — no exchange beyond the
    single deliberate small-file spread repartition (load_table.spread)."""
    df = qs["winnow_fingerprints"](spark, SF)
    assert count_exchanges(df) <= 1


def test_simhash_pairs_no_cartesian(spark, qs):
    """The banded pairing must stay a (band, bval) equi-join — any
    cartesian/nested-loop fallback would be the quadratic plan the
    banding exists to avoid."""
    plan = physical_plan(qs["simhash_near_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_array_or_map_columns_in_query_outputs(spark, qs):
    """The driver's correctness canonicalizer sorts rows on every output
    column and cannot hash list/dict cells (the round-1
    approx_sketch_stats err). Guard the whole registry: result schemas
    must be flat scalar columns only."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = {}
    for name, fn in qs.items():
        schema = fn(spark, SF).schema
        offenders = [
            f.name for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if offenders:
            bad[name] = offenders
    assert not bad, f"non-scalar output columns: {bad}"


def test_sliding_ohlc_single_shuffle_hash_agg(spark, qs):
    """The hopping-window twin keeps the tumbling plan shape: window
    expansion (Expand/explode) happens map-side BEFORE the one hash
    shuffle at the (symbol, window) result grain."""
    df = qs["ohlc_sliding"](spark, SF)
    plan = physical_plan(df)
    assert count_exchanges(df) == 1
    assert "HashAggregate" in plan and "SortAggregate" not in plan


def test_narrow_map_queries_have_no_shuffle(spark, qs):
    """dup_ngram_stats / gopher_quality / pq_quantize are per-row column
    expressions — any Exchange beyond the test-SF spread repartition means
    an accidental aggregation or join crept in."""
    for name in ("dup_ngram_stats", "gopher_quality", "pq_quantize"):
        df = qs[name](spark, SF)
        plan = physical_plan(df)
        assert "Join" not in plan, name
        assert "HashAggregate" not in plan and "SortAggregate" not in plan, name
        # the only allowed exchange is load_table's small-file spread
        assert count_exchanges(df) <= 1, name


def test_decontamination_broadcasts_eval_grams(spark, qs):
    """The eval suite must stay the broadcast side — a sort-merge join
    here would shuffle 100 TB of train grams."""
    df = qs["decontamination"](spark, SF)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


def test_stratified_sample_uses_group_limit(spark, qs):
    """The per-stratum rank bound must push into a WindowGroupLimit heap
    (not a full sort of every stratum)."""
    df = qs["stratified_sample"](spark, SF)
    assert has_window_group_limit(df)


def test_pq_adc_broadcasts_queries(spark, qs):
    """ADC candidates join on the cell with the query side broadcast —
    the corpus (codes) side must never shuffle for the join."""
    df = qs["pq_adc_topk"](spark, SF)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


def test_q5_broadcasts_dims_no_cartesian(spark, qs):
    """local_supplier_volume: every dim (supplier/nation/region) joins by
    broadcast; the only allowed shuffle joins are fact-fact (lineitem ⋈
    orders ⋈ customer). No BroadcastNestedLoop/Cartesian may appear —
    the nation residual must ride the equi-joins as a filter."""
    df = qs["local_supplier_volume"](spark, SF)
    plan = physical_plan(df)
    assert has_broadcast_join(df)
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "PushedFilters" in plan  # the date range reaches the orders scan
    assert "r_name" in plan  # region filter exists pre-join


def test_q18_single_fact_shuffle(spark, qs):
    """large_order_quantities: the fact must shuffle exactly once (the
    HAVING pre-agg) — the textbook semi-join-then-reaggregate form scans
    and shuffles lineitem twice for the same answer. One HashAggregate
    pair over lineitem, then joins only."""
    df = qs["large_order_quantities"](spark, SF)
    plan = physical_plan(df)
    # lineitem's file location appears in exactly ONE scan node's detail
    assert plan.count("lineitem.parquet") == 1
    assert "LeftSemi" not in plan


def test_source_overlap_no_self_join(spark, qs):
    """source_overlap_matrix: source pairs are exploded from per-fp
    grouped lists — a fingerprint self-join (two scans of the fp side
    joined on fp) or a cartesian would be the quadratic regression."""
    df = qs["source_overlap_matrix"](spark, SF)
    plan = physical_plan(df)
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "explode(flatten(transform(ss" in plan  # pairs from the array explode


def test_dedup_canonical_keep_rule_windows_on_label(spark, qs):
    """dedup_canonical: the keep rule runs as label-partitioned windows
    (one shuffle at the label grain) — an unpartitioned window here would
    serialize the whole corpus through one task."""
    df = qs["dedup_canonical"](spark, SF)
    plan = physical_plan(df)
    assert "Window" in plan
    # the window spec's partition list must name the label key (an empty
    # partition list would render as `], []` with no label reference)
    assert "label#" in plan


def test_kmeans_indexed_search_reads_clustered_corpus(spark, qs):
    """The indexed learned-IVF search must read the cell-clustered index
    table (no Lloyd's re-train, no assignment re-join): its plan scans
    kmeans_index and joins ONLY the broadcast probe side."""
    df = qs["ivf_kmeans_multiprobe_indexed"](spark, SF)
    plan = physical_plan(df)
    assert "kmeans_index" in plan
    # no Lloyd's re-train in the search plan: training shows up as the
    # per-dimension avg() re-estimation aggregates
    assert "avg(" not in plan
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


def test_pq_adc_indexed_reads_stored_codes(spark, qs):
    """The indexed search must NOT re-encode the corpus: its plan scans
    the persisted pq_index parquet (cell-partitioned), and the only
    embedding scan left is the broadcast query side. The encode fold
    (zip_with per codebook centroid) would show up as aggregate(zip_with
    expressions over the full corpus — 32 of them in pq_adc_topk's plan."""
    df = qs["pq_adc_topk_indexed"](spark, SF)
    plan = physical_plan(df)
    assert "pq_index" in plan  # the stored index is the scanned source
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)
    # corpus-side re-encode gone: the distance lookup references stored
    # code_j columns instead of computing them
    assert "code_0#" in plan


def test_q6_full_pushdown_single_scan_no_join(spark, qs):
    """forecast_revenue (Q6 shape): the whole predicate set — date range,
    discount band, quantity cap — must reach the parquet reader, the scan
    must read only the 4 referenced columns, and the plan is one
    partial+final agg (single 1-row exchange, no join of any kind)."""
    df = qs["forecast_revenue"](spark, SF)
    pf = pushed_filters(df)
    for frag in ("l_shipdate", "l_discount,0.05", "l_discount,0.07", "l_quantity,24"):
        assert frag in pf, frag
    [schema] = read_schemas(df)
    assert "l_orderkey" not in schema and "l_extendedprice" in schema
    assert count_exchanges(df) == 1
    assert "Join" not in physical_plan(df)


def test_q7_nation_constraint_derived_to_scans(spark, qs):
    """volume_shipping (Q7 shape): the disjunctive pair predicate stays a
    residual, but its derived In(n_name, [NATION_1,NATION_2]) constraint
    must be pushed into BOTH nation scans; dims broadcast, exactly one
    fact-grain shuffle pair feeds the final agg."""
    df = qs["volume_shipping"](spark, SF)
    pf = pushed_filters(df)
    assert pf.count("In(n_name") == 2
    assert has_broadcast_join(df)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan


def test_q15_reuses_fact_exchange_at_runtime(spark, qs):
    """top_supplier (Q15 shape): the per-supplier revenue agg feeds both
    the scalar max and the equality join — AQE must dedupe the identical
    exchange subtree (ReusedExchange) so the quarter's fact scan happens
    ONCE. Runtime pin: the static plan can't show reuse decisions."""
    df = qs["top_supplier"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_q22_anti_join_with_pruned_recency_scan(spark, qs):
    """dormant_high_balance (Q22 shape): the recency probe must run as a
    LEFT ANTI against an orders scan with the date bound pushed down, and
    the 1-row stats side must broadcast (nested-loop on 1 row is fine;
    a shuffled cross join is not)."""
    df = qs["dormant_high_balance"](spark, SF)
    plan = physical_plan(df)
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate,2000-01-01" in pushed_filters(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "ShuffledHashJoin" not in plan.split("LeftAnti")[0]


def test_q8_and_q14_broadcast_all_dims(spark, qs):
    """market_share (Q8) / promo_revenue (Q14): every dim side broadcasts;
    the only sort-merge candidate is the fact-fact orderkey join."""
    for name in ("market_share", "promo_revenue"):
        df = qs[name](spark, SF)
        assert has_broadcast_join(df), name
        assert "CartesianProduct" not in physical_plan(df), name


def test_knn_join_is_cell_equi_join_with_partial_agg(spark, qs):
    """knn_join: the pair generation must be an equi-join on the cell
    (never a cartesian), and top-1 must be a struct-max HASH AGGREGATE —
    a window here would shuffle the full |cell|-per-vector pair stream to
    sort it, where the agg's map-side partial combine sends one row per
    vector (×100: 45.8 s window form vs 23.6 s agg form)."""
    df = qs["knn_join"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # struct-typed max buffers lower to SortAggregate (not fixed-width),
    # but the partial_max BEFORE the exchange is the property that counts:
    # one row per vector reaches the shuffle
    assert "partial_max" in plan
    assert "Window" not in plan


def test_pii_and_length_buckets_stay_narrow(spark, qs):
    """pii_scrub_stats is a pure narrow map — its ONLY exchange is the
    deliberate round-robin small-file spread, never a hash shuffle;
    length_buckets adds exactly one hash shuffle, at the bucket grain."""
    assert physical_plan(qs["pii_scrub_stats"](spark, SF)).count("hashpartitioning") == 0
    assert physical_plan(qs["length_buckets"](spark, SF)).count("hashpartitioning") == 1


def test_domain_quality_filter_windows_on_source(spark, qs):
    """domain_quality_filter: one hash shuffle at the source grain; the
    rank and group-size windows must share it (no second exchange)."""
    plan = physical_plan(qs["domain_quality_filter"](spark, SF))
    assert plan.count("hashpartitioning") == 1
    assert "Window" in plan


def test_temperature_mixture_broadcasts_normalizer(spark, qs):
    """temperature_mixture: the Σp^α normalizer is a 1-row broadcast —
    the per-source counts never re-shuffle against it. Two hash exchanges
    (one per count-agg arm; the scan feeds both), one single-partition
    collapse for the normalizer, and a broadcast join back."""
    df = qs["temperature_mixture"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("hashpartitioning") <= 2
    assert plan.count("SinglePartition") == 1


def test_q4_semi_join_no_double_count(spark, qs):
    """priority_order_check (Q4 shape): EXISTS must run as a LEFT SEMI
    (first-match short-circuit, no distinct, no row blow-up), with the
    quarter filter pushed to the orders scan."""
    df = qs["priority_order_check"](spark, SF)
    plan = physical_plan(df)
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate,1997-01-01" in pushed_filters(df)


def test_q13_left_join_keeps_zero_order_customers(spark, qs):
    """customer_order_distribution (Q13 shape): the customer→orders join
    must stay LEFT OUTER — bucket 0 exists iff some customer has no
    orders in the window; an inner join silently drops the bucket."""
    plan = physical_plan(qs["customer_order_distribution"](spark, SF))
    assert "LeftOuter" in plan


def test_event_funnel_single_user_shuffle(spark, qs):
    """event_funnel: three chained conditional window mins + the final
    agg must share ONE user-grain hash exchange (same partition spec
    throughout) — a second shuffle means a pass lost the partitioning."""
    df = qs["event_funnel"](spark, SF)
    plan = physical_plan(df)
    assert count_exchanges(df) == 1  # the canonical exchange counter
    assert plan.count("hashpartitioning") == 1
    assert plan.count(") Window") == 3


def test_incremental_lsh_probe_reads_index_not_corpus_text(spark, qs, tmp_path):
    """The incremental probe's corpus side must come from the stored
    index parquet — exactly one documents scan (the batch side), and the
    index scan reads only the signature/bucket columns."""
    from options_data_pipeline_spark import registry as reg

    # ensure the index exists so the query plan is the warm probe path
    qs["lsh_index_build"](spark, SF).count()
    df = qs["minhash_lsh_incremental"](spark, SF)
    plan = physical_plan(df)
    assert plan.count("documents.parquet") == 1  # batch side only
    assert "lsh_index" in plan  # corpus side is the stored index
    schemas = read_schemas(df)
    idx_schema = next(s for s in schemas if "mh0" in s)
    assert "text" not in idx_schema  # index scan never touches doc text


def test_unigram_logprob_two_token_shuffles_no_doc_pairs(spark, qs):
    """Unigram scoring is token-grain: LM build (groupBy tok) + doc
    re-agg; the corpus-total scalar rides in as a broadcast — no
    doc×doc or vocab×vocab join anywhere."""
    df = qs["unigram_logprob"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or has_broadcast_join(df)  # the 1-row total
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_q17_probe_side_never_shuffles(spark, qs):
    """Q17 shape: both the part dim and the part-grain qty-limit
    aggregate broadcast onto the fact — the probe-side fact is scanned,
    not exchanged; the only hash exchange is the aggregate's own, fed by
    map-side partial agg."""
    df = qs["small_quantity_revenue"](spark, SF)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert not has_sort_merge_join(df)
    # exactly one hash exchange (the avg-qty aggregate); the rest are the
    # single-partition final agg + broadcasts
    import re

    assert len(re.findall(r"hashpartitioning\(l_partkey", plan)) == 1
    fact_schema = max(read_schemas(df), key=len)
    assert "l_extendedprice" in fact_schema and "l_shipdate" not in fact_schema


def test_simhash_wide_pairs_no_cartesian(spark, qs):
    """124-bit banding must pair via the (band, fragment) equi-join —
    never a cross join — and the exact Hamming filter runs post-join."""
    df = qs["simhash_wide_pairs"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_waiting_supplier_single_orderkey_exchange_family(spark, qs):
    """Q21 rewrite: both correlated subqueries collapse into ONE
    order-grain aggregate, so every hash exchange in the plan is on the
    orderkey family — no extra fact self-shuffles — and the
    nation-filtered supplier dim broadcasts."""
    import re

    df = qs["waiting_supplier"](spark, SF)
    plan = physical_plan(df)
    assert has_broadcast_join(df)
    # every key of every fact-side hash exchange is in the orderkey family
    # (plus the pre-agg's supplier sub-key) — capture FULL key lists, not
    # just the first column, so an extra fact shuffle on a foreign key
    # can't hide behind an allowed leading column
    key_lists = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    fact_lists = [kl for kl in key_lists if kl.lstrip().startswith(("l_", "o_"))]
    assert fact_lists
    for kl in fact_lists:
        keys = [k.strip().split("#")[0] for k in kl.split(",") if k.strip()]
        keys = [k for k in keys if not k.isdigit()]  # trailing partition count
        assert keys[0] in ("l_orderkey", "o_orderkey")
        assert all(k in ("l_orderkey", "o_orderkey", "l_suppkey") for k in keys)
    assert "CartesianProduct" not in plan


def test_discounted_band_revenue_derives_pushdowns_from_or(spark, qs):
    """Q19 shape: Catalyst must derive the per-table implications of the
    three-arm OR and push them to BOTH scans; the part dim broadcasts so
    the fact never shuffles for the join."""
    df = qs["discounted_band_revenue"](spark, SF)
    pf = pushed_filters(df)
    assert "l_quantity" in pf  # derived quantity envelope on the fact scan
    assert "p_brand" in pf or "p_size" in pf  # derived dim constraints
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


def test_profit_by_nation_year_dims_broadcast_before_fact_join(spark, qs):
    """Q9 shape: part/supplier/nation all broadcast (semi-reducing the
    fact before the orderkey join); only orderkey + final-agg exchanges
    remain."""
    df = qs["profit_by_nation_year"](spark, SF)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert not has_sort_merge_join(df)
    pf = pushed_filters(df)
    assert "p_name" in pf  # LIKE pushed as StringContains to the part scan


def test_hard_negatives_broadcasts_query_side(spark, qs):
    """Contrastive mining scans the corpus once with the query sample
    broadcast; the label inequality is a per-pair residual, never a
    shuffle key."""
    df = qs["hard_negatives"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert has_window_group_limit(df)  # top-k pruned per query


def test_cluster_prototypes_no_window_no_collect_shape(spark, qs):
    """Centroid build is (label, dim)-grain hash agg + a 64-row gather;
    the scoring pass re-joins via broadcast and reduces with struct
    min/max aggregates — no window over the corpus, no cartesian."""
    df = qs["cluster_prototypes"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan  # prototype/outlier picked by agg, not rank
    assert "HashAggregate" in plan


def test_token_entropy_joinless_doc_grain(spark, qs):
    """Entropy is (doc, token)-count + doc-grain window/agg — strictly
    narrower than the unigram LM pass: NO join of any kind (a vocab
    table creeping in would add one), no cartesian."""
    df = qs["token_entropy"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_cooccurrence_pmi_topk_cut_before_join(spark, qs):
    """The 50-row pair list must be cut by a top-k heap BEFORE joining
    the unigram table, and then ride as the broadcast side — the pair
    table and the vocabulary must never sort-merge against each other."""
    df = qs["cooccurrence_pmi"](spark, SF)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


def test_new_indicators_single_symbol_window_pass(spark, qs):
    """stochastic_14 / obv are window enrichments over the shared
    symbol-grain partitioning: no joins, exchanges bounded by the candle
    build + one symbol-grain window family."""
    for name in ("stochastic_14", "obv"):
        df = qs[name](spark, SF)
        plan = physical_plan(df)
        assert "Join" not in plan, name
        assert plan.count("Window") >= 1, name


def test_recursive_indicator_islands_single_symbol_shuffle(spark, qs):
    """keltner_channels / heikin_ashi / adx_14 are sequential
    recursions: one per-symbol fold (operators/fold.py — a collect_list
    aggregate and a Generate, no pandas island), no joins, no extra
    exchanges beyond the candle build + the group shuffle."""
    for name in ("keltner_channels", "heikin_ashi", "adx_14"):
        df = qs[name](spark, SF)
        plan = physical_plan(df)
        assert "FlatMapGroupsInPandas" not in plan, name
        assert "ObjectHashAggregate" in plan and "Generate" in plan, name
        assert "Join" not in plan, name
        # candle agg + symbol-group shuffle (+ load_table's file spread)
        assert count_exchanges(df) <= 3, name


def test_zipf_slope_topk_heap_then_tiny_regression(spark, qs):
    """The rank cut must be a TakeOrderedAndProject over the token
    counts (never a full sort of the vocabulary); the regression runs on
    the 100-row remainder — no joins."""
    df = qs["zipf_slope"](spark, SF)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_embedding_audit_queries_shapes(spark, qs):
    """ivf_cell_balance: one assignment map + cell agg + a broadcast
    1-row total — no sort-merge join. mrl_truncation_audit: union of
    narrow norm maps + one agg — no join at all."""
    df = qs["ivf_cell_balance"](spark, SF)
    assert not has_sort_merge_join(df)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    df2 = qs["mrl_truncation_audit"](spark, SF)
    p2 = physical_plan(df2)
    assert "Join" not in p2
    assert "Union" in p2


def test_asof_nearest_single_shuffle_no_join(spark, qs):
    """The nearest as-of must stay the union-window construction: no
    join operator anywhere (a join back to combine directions would add
    an avoidable shuffle), both direction sorts under one symbol
    partitioning."""
    df = qs["asof_nearest_close"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert "Union" in plan


def test_filter_agreement_no_sort_no_join(spark, qs):
    """The calibration cross-tab must stay fixed-width buckets: a narrow
    map + one bucket agg — no global Sort (an ntile decile version would
    sort the corpus), no join."""
    df = qs["filter_agreement"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert "Window" not in plan  # no ntile/rank


def test_pivot_single_hash_agg_unpivot_no_shuffle(spark, qs):
    """pivot with an explicit values list must compile to one hash agg
    (no extra distinct job, no join); unpivot must be a map-side Expand
    over the candle agg — no exchange beyond the candle build."""
    df = qs["event_type_pivot"](spark, SF)
    plan = physical_plan(df)
    assert "HashAggregate" in plan and "Join" not in plan
    # load_table's small-file spread + the one group-grain agg shuffle
    assert count_exchanges(df) <= 2
    df2 = qs["ohlc_unpivot"](spark, SF)
    p2 = physical_plan(df2)
    assert "Expand" in p2 and "Join" not in p2
    assert count_exchanges(df2) <= 1


def test_close_rank_analytics_one_window_family(spark, qs):
    """percent_rank/cume_dist/ntile must share ONE symbol-grain window
    pass — no joins, no second sort family."""
    df = qs["close_rank_analytics"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert count_exchanges(df) <= 2  # candle agg + the window partitioning


def test_item_cooccurrence_broadcasts_item_dims(spark, qs):
    """The per-item count table (|catalog| rows) must broadcast onto the
    pair table; only the user-keyed basket self-join may shuffle."""
    df = qs["item_cooccurrence"](spark, SF)
    assert has_broadcast_join(df)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan


def test_weighted_sample_heap_no_shuffle(spark, qs):
    """A-ES sampling must stay a narrow map + TakeOrderedAndProject —
    a global Sort or any shuffle of the corpus defeats the one-pass
    design."""
    df = qs["weighted_sample"](spark, SF)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert count_exchanges(df) <= 1  # load_table's small-file spread only


def test_return_correlation_no_cartesian(spark, qs):
    """The pair stage must stay a window_start equi-join (cross-
    sectional confinement) — never a cartesian/BNLJ over the candle
    set."""
    df = qs["symbol_return_correlation"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_incremental_recall_runtime_exchange_reuse(spark, qs):
    """The registry's exchange-count maximum: 19 shuffle exchanges
    pre-AQE because the PPJoin truth arm re-derives its shingle stream
    per consumer. The pin asserts AQE collapses the identical subtrees
    at runtime (ReusedExchange ≥ 4 measured; ≥ 2 pinned for slack) and
    the pre-AQE count doesn't silently grow past its attributed bound."""
    from options_data_pipeline_spark.plans.explain import count_exchanges

    df = qs["lsh_incremental_recall"](spark, SF)
    assert count_exchanges(df) <= 21  # attributed: 19 (see registry docstring)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 2


def test_min_cost_supplier_broadcasts_dims_and_reuses_fact_exchange(spark, qs):
    """Q2 shape: all dims broadcast (never SMJ a dim), and AQE dedupes
    the part-grain fact exchange that feeds both the min aggregate and
    the join-back (the decorrelated correlated-subquery plan)."""
    df = qs["min_cost_supplier"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert has_broadcast_join(df)
    df.collect()
    rplan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in rplan


def test_repetition_char_stats_bounded_shuffles_no_python(spark, qs):
    """Long-doc-safe repetition stats: explode+aggregate shape — pure
    JVM expressions (no Python UDF), no cartesian, and the shuffle count
    stays at the (doc,n,gram) agg + doc-grain window + final join."""
    from options_data_pipeline_spark.plans.explain import count_exchanges

    df = qs["repetition_char_stats"](spark, SF)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert count_exchanges(df) <= 8


def test_bloom_probe_is_joinless_for_the_verdict(spark, qs):
    """The Bloom prefilter's value claim, pinned: the membership verdict
    itself requires NO shuffle join — the 1-row filter arrives by
    broadcast (nested-loop on one row) and the verdict is pure Column
    arithmetic; the only equi-join in the plan is the exact-membership
    AUDIT the query adds on top."""
    from options_data_pipeline_spark.functions.bloom import (
        bloom_build,
        bloom_might_contain,
    )
    from options_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, "documents", SF)
    d = docs.selectExpr("doc_id", "md5(text) AS fingerprint")
    bloom = bloom_build(d.select("fingerprint"))
    probed = bloom_might_contain(d, bloom)
    plan = physical_plan(probed)
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row filter
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_item_pagerank_materialized_and_broadcast(spark, qs):
    """Iterative-plan hygiene, pinned: pagerank materializes the edge
    build once (lazy unrolling planned 105 exchanges / 9 SMJs) and
    broadcasts the node-grain sides (dimension-sized graph) — the final
    plan is a short chain of broadcast joins, no SortMergeJoin."""
    from options_data_pipeline_spark.plans.explain import count_exchanges

    df = qs["item_pagerank"](spark, SF)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert count_exchanges(df) <= 10


def test_part_triangle_counts_plan(spark, qs):
    """Triangle-count plan hygiene, pinned (r12 adjacency-intersection
    form): the shared edge/oriented subtrees are materialized (lazy
    unrolling planned 69 exchanges / 9 SMJs), the degree dims
    broadcast, and the Σ outdeg² term stays INSIDE array_intersect —
    no wedge-grain rows cross an exchange (the old wedge+closing-probe
    form shuffled Σ outdeg² rows: 395 s of task time vs 22 s for the
    heaviest stage at sf0.1)."""
    df = qs["part_triangle_counts"](spark, SF)
    plan = physical_plan(df)
    assert "array_intersect" in plan
    assert "CartesianProduct" not in plan
    assert count_exchanges(df) <= 8


def test_part_kcore_converged_and_flat(spark, qs):
    """The k-core query returns an actual fixpoint (every member's
    in-core degree ≥ k — the defining invariant) and the post-loop
    plan is flat (checkpointed rounds, no unrolled lineage)."""
    df = qs["part_kcore"](spark, SF)
    assert count_exchanges(df) <= 3
    rows = df.collect()
    assert rows, "sf0.001 2-core should be non-empty"
    assert all(r.core_deg >= 2 for r in rows)


def test_histogram_sketch_single_fact_pass_per_side(spark, qs):
    """The sketch path reads the fact once into a 1-row min/max
    broadcast + one (symbol, bin) aggregate; no CartesianProduct (the
    normalizer rides a broadcast nested loop join over 1 row)."""
    df = qs["histogram_quantile_sketch"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    import re

    assert len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)) == 1


def test_cdc_apply_single_shuffle_no_window(spark, qs):
    """CDC apply must stay ONE key-grain aggregate: no window (the
    oracle's row_number formulation would sort every raw change by
    (key, seq)), no join, a single exchange. The struct-max plans as a
    partial+final SortAggregate pair — sorted by group key only, still
    map-side combining."""
    df = qs["cdc_apply"](spark, SF)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert "Join" not in plan
    assert count_exchanges(df) == 1


def test_pareto_frontier_one_window_sort(spark, qs):
    """The skyline must keep its linear shape: exactly one window node
    (both RANGE frames share partition+order) over one exchange — the
    quadratic NOT-EXISTS join formulation must never appear."""
    import re

    df = qs["pareto_frontier"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert len(re.findall(r"^\(\d+\) Window\b", plan, re.M)) == 1
    assert count_exchanges(df) == 1


def test_kmv_assembly_stays_bounded(spark, qs):
    """Post-sketch assembly runs on checkpointed ≤ keys×k tables: no
    cartesian products, no BNLJ in the lazy plan (the pair dim is
    materialized), and the whole DAG stays in the low-exchange band
    (lazy subtree reuse planned 44 exchanges before materialization)."""
    df = qs["kmv_overlap_estimate"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert count_exchanges(df) <= 15


def test_attribution_last_touch_one_window(spark, qs):
    """Attribution must stay window-carried (one user-grain window sort
    feeding a channel aggregate), never a purchases×touches self-join."""
    import re

    df = qs["attribution_last_touch"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert len(re.findall(r"^\(\d+\) Window\b", plan, re.M)) == 1
    assert count_exchanges(df) == 2  # window shuffle + channel agg


def test_snapshot_diff_single_full_outer(spark, qs):
    """The diff is ONE key-partitioned full-outer join (structural SMJ —
    Spark cannot broadcast either side of a full outer); unchanged rows
    are filtered before the result surfaces."""
    df = qs["snapshot_diff"](spark, SF)
    plan = physical_plan(df)
    assert plan.count("SortMergeJoin") <= 2  # 1 node (tree + detail dedup-safe)
    assert "Join type: FullOuter" in plan
    assert count_exchanges(df) == 2  # one per side of the join


def test_kmv_assembly_all_broadcast(spark, qs):
    """Post-sketch kmv assembly joins run on ≤|pairs| rows — all must
    broadcast (stats-less aggregates default to SMJ without the hint)."""
    df = qs["kmv_overlap_estimate"](spark, SF)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan


def test_fk_integrity_audit_broadcasts_dims(spark, qs):
    """Every FK edge is a LEFT JOIN + aggregate; at the gate SF all
    seven parents broadcast and no edge falls to a cartesian."""
    df = qs["fk_integrity_audit"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 7


def test_bitmap_rollup_no_expand_no_raw_recount(spark, qs):
    """The bitmap rollup must compute total_users from OR-ed segment
    bitmaps, never via count_distinct over raw rows — no Expand node
    (the multi-distinct trap) anywhere in the plan."""
    df = qs["bitmap_distinct_rollup"](spark, SF)
    plan = physical_plan(df)
    assert "Expand" not in plan
    assert count_exchanges(df) <= 7


def test_sequence_gap_audit_block_parallel(spark, qs):
    """The islands window must partition by the id block — a global
    (unpartitioned) sort would serialize the audit at scale. The ONLY
    single-partition stage allowed is the 1-row global min/max bounds
    aggregate feeding the bucket scaffold."""
    import re

    df = qs["sequence_gap_audit"](spark, SF)
    plan = physical_plan(df)
    assert len(re.findall(r"^\(\d+\) Window\b", plan, re.M)) == 1
    assert plan.count("SinglePartition") <= 1  # the bounds reduce only
    assert "hashpartitioning" in plan          # the islands window shuffle
    assert count_exchanges(df) <= 4


def test_watermark_lateness_single_pass(spark, qs):
    """Lateness audit: one per-key window pass, aggregate reuses the
    window's partitioning (one exchange total)."""
    import re

    df = qs["watermark_lateness_audit"](spark, SF)
    plan = physical_plan(df)
    assert len(re.findall(r"^\(\d+\) Window\b", plan, re.M)) == 1
    assert "SinglePartition" not in plan
    assert count_exchanges(df) <= 2


def test_dau_wau_mau_bitmap_rolling(spark, qs):
    """Active-user rollups must come from OR-ed daily bitmaps under ONE
    range-window pass — no Expand (multi-distinct) and no join of days
    against raw events (the oracle's 28x read-amplification shape)."""
    import re

    df = qs["dau_wau_mau"](spark, SF)
    plan = physical_plan(df)
    assert "Expand" not in plan
    assert len(re.findall(r"^\(\d+\) Window\b", plan, re.M)) == 1
    assert count_exchanges(df) <= 5


def test_name_edit_near_dup_dictionary_grain(spark, qs):
    """The quadratic edit-distance stage must run on the collapsed
    name dictionary (broadcast self-join on the blocking key), with the
    corpus touched only by the name-grain aggregate."""
    df = qs["name_edit_near_dup"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert count_exchanges(df) <= 3


def test_conversion_lag_single_user_sort(spark, qs):
    """Both funnel windows share the user partitioning; the cohort agg
    adds the only other exchange."""
    df = qs["conversion_lag_stats"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert "SinglePartition" not in plan
    assert count_exchanges(df) <= 2


def test_event_session_window_merging_sessions_node(spark, qs):
    """Batch sessionization must use the native MergingSessions
    operator (map-side candidate sessions, one shuffle on the user key)
    — never the lag/cumsum double-window fallback."""
    df = qs["event_session_window"](spark, SF)
    plan = physical_plan(df)
    assert "MergingSessions" in plan
    assert count_exchanges(df) == 1


def test_orders_grouping_sets_one_expand(spark, qs):
    """All three aggregation levels come from ONE Expand pass over one
    scan — never a union of per-level aggregates."""
    import re

    df = qs["orders_grouping_sets"](spark, SF)
    plan = physical_plan(df)
    assert len(re.findall(r"^\(\d+\) Expand\b", plan, re.M)) == 1
    assert "Union" not in plan
    assert count_exchanges(df) == 1


def test_part_communities_lpa_flat_post_loop(spark, qs):
    """LPA rounds checkpoint their labels: the returned frame's plan is
    flat (reads the final checkpoint, no unrolled round lineage)."""
    df = qs["part_communities_lpa"](spark, SF)
    assert count_exchanges(df) == 0  # final labels are a checkpointed RDD
    rows = df.collect()
    assert rows and all(r.label is not None for r in rows)


def test_inverted_index_posting_cap_and_order(spark, qs):
    """Postings must be impact-ordered (tf desc, doc_id asc) and capped
    at 5 per token; df/cf still count the FULL posting list."""
    rows = qs["inverted_index_build"](spark, SF).collect()
    assert rows
    for r in rows:
        ids = r.top_postings.split(",") if r.top_postings else []
        assert len(ids) == min(5, r.df)
        assert r.cf >= r.df


def test_bm25_query_side_broadcast(spark, qs):
    """The 4-term query dim and the post-agg stats sides broadcast; the
    only data-sized exchanges are the token aggregates."""
    import re

    df = qs["bm25_rank"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the only BNLJ is the 1-row avgdl/N stats normalizer
    assert len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)) == 1


# ---------------------------------------------------------------- round 7


def test_join_skew_audit_one_scan_unpivot(spark, qs):
    """Three key profiles from ONE fact scan (stack unpivot), one
    (key,value)-grain shuffle + a 3-row rollup — never three scans."""
    df = qs["join_skew_audit"](spark, SF)
    plan = physical_plan(df)
    assert len(read_schemas(df)) == 1
    assert count_exchanges(df) <= 2
    assert "SinglePartition" not in plan


def test_embedding_int8_quantize_no_vector_shuffle(spark, qs):
    """The quantize pass is a narrow map over the vector scan: the only
    exchanges belong to the 64-row dim-stats aggregate; vectors
    themselves never shuffle and nothing sort-merges."""
    df = qs["embedding_int8_quantize"](spark, SF)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stats broadcast
    assert count_exchanges(df) <= 4


def test_weighted_bernoulli_sample_scan_and_total_only(spark, qs):
    df = qs["weighted_bernoulli_sample"](spark, SF)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row weight total
    assert count_exchanges(df) <= 3


def test_containment_winnowed_never_fp_self_join(spark, qs):
    """Candidate pairs explode from the df-capped posting LISTS (a
    Generate over grouped postings) — no fingerprint self-join, no
    cartesian anywhere; verification joins stay hash joins."""
    df = qs["containment_winnowed"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "Generate" in plan
    assert "SortMergeJoin" not in plan
    assert count_exchanges(df) <= 12


def test_abc_classification_no_global_sort_funnel(spark, qs):
    """The part-grain cumulative sum must run bucket-partitioned; the
    only single-partition frames allowed are the report-sized bucket
    offset windows."""
    df = qs["abc_classification"](spark, SF)
    plan = physical_plan(df)
    assert "hashpartitioning" in plan  # the in-bucket prefix window
    assert plan.count("SinglePartition") <= 2
    assert "BroadcastHashJoin" in plan  # offsets broadcast back


def test_mad_outlier_audit_broadcast_passes(spark, qs):
    """Exact median/MAD is three type-grain aggs with 5-row broadcasts
    back onto the scan — never a sort-merge of events against stats."""
    df = qs["mad_outlier_audit"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert count_exchanges(df) <= 3


def test_hll_segment_rollup_no_multi_distinct_expand(spark, qs):
    """n_days/n_exact come from two pre-aggregated distincts joined at
    symbol grain — a multi-countDistinct Expand would double the rows
    through the shuffle (the waiting_supplier lesson)."""
    df = qs["hll_segment_rollup"](spark, SF)
    assert "Expand" not in physical_plan(df)


def test_tv_distance_matrix_checkpointed_cells(spark, qs):
    """The cell table feeds three consumers through ONE localCheckpoint
    — without it the event scan re-derives 12 times (measured); the
    pairwise join runs on the |types|-row array table."""
    df = qs["tv_distance_matrix"](spark, SF)
    plan = physical_plan(df)
    assert count_exchanges(df) <= 5
    assert "CartesianProduct" not in plan


def test_half_life_engagement_fold_not_window(spark, qs):
    """The decay sum is an array fold over per-user cells — no window
    pass over raw events."""
    import re

    df = qs["half_life_engagement"](spark, SF)
    plan = physical_plan(df)
    assert len(re.findall(r"^\(\d+\) Window\b", plan, re.M)) == 0
    assert count_exchanges(df) <= 3


def test_wilson_ctr_bands_single_pass(spark, qs):
    df = qs["wilson_ctr_bands"](spark, SF)
    assert count_exchanges(df) == 1
    assert len(read_schemas(df)) == 1


def test_winsorized_stats_two_pass_broadcast(spark, qs):
    df = qs["winsorized_stats"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert count_exchanges(df) <= 2


def test_chi2_drift_one_conditional_pass(spark, qs):
    """Contingency cells from ONE conditional aggregate (no early/late
    join, no Expand); totals via a window on the ≤8-row-per-type cell
    table."""
    import re

    df = qs["chi2_drift"](spark, SF)
    plan = physical_plan(df)
    assert "Expand" not in plan
    assert len(re.findall(r"^\(\d+\) Window\b", plan, re.M)) == 1
    assert count_exchanges(df) <= 3


def test_feature_correlations_single_scan_single_agg(spark, qs):
    """One scan, one agg shuffle, plus exactly the spread() round-robin
    exchange that parallelizes the single-row-group scan's decimal
    moment chains (bench-SF input skew, guide §2.5; a no-op at
    production scale where the scan splits on its own). Pinned == 2
    with the round-robin asserted specifically (ADVICE r12: the <= 2
    re-base would also have masked an unrelated third exchange; the
    old == 1 pin was simply stale, predating the spread() commit)."""
    df = qs["feature_correlations"](spark, SF)
    plan = physical_plan(df)
    assert count_exchanges(df) == 2
    assert "roundrobin" in plan.lower()
    assert len(read_schemas(df)) == 1


def test_discount_elasticity_broadcast_dim_one_shuffle(spark, qs):
    """25 regressions in one pass: part dim broadcasts onto the fact
    scan, ONE brand-grain agg shuffle, plus exactly the spread()
    round-robin exchange (see test_feature_correlations pin — same
    ADVICE r12 tightening from <= 2 back to == 2)."""
    df = qs["discount_elasticity"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert count_exchanges(df) == 2
    assert "roundrobin" in plan.lower()


def test_part_entity_resolution_two_tier_bounded(spark, qs):
    """Round-8 two-tier ER: rep candidates explode from df-capped
    posting LISTS (a Generate over grouped postings, like
    containment_winnowed) — no posting self-join, no cartesian; the
    identity tier is a window + filter, never a within-class pairing.
    (The query executes the CC loop at construction, so the plan here
    is the final label join — assert the anti-patterns globally.)"""
    df = qs["part_entity_resolution"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_entity_blocking_audit_report_sized(spark, qs):
    """The ER audit is two grain-collapsing aggs + a 25-row join —
    no part-level pairing anywhere."""
    df = qs["entity_blocking_audit"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_containment_recall_audit_dual_arm_exchange_ceiling(spark, qs):
    """The recall audit runs BOTH containment arms by design (exact
    verify-only + winnowed production) to measure the gap between
    them — its exchange count is the registry maximum and is the SUM
    of the two arms' plans, not a regression. This pin attributes the
    ceiling: the audit stays a bench-excluded verify-only query
    (bench.py HEADLINE comment), and its plan may not grow past the
    two arms it composes."""
    df = qs["containment_recall_audit"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert count_exchanges(df) <= 22  # both arms, attributed — see docstring


def test_url_canonical_dedup_one_shuffle_codegen(spark, qs):
    """The canonicalizer is pure string arithmetic inside codegen; dedup
    is ONE hash-agg shuffle at canonical-URL grain (+ load_table's
    documents spread repartition) — exact_dedup's posture on a
    different key. No joins at all; runtime subexpression elimination
    collapses the repeated URL chain inside the single codegen'd
    Project."""
    df = qs["url_canonical_dedup"](spark, SF)
    plan = physical_plan(df)
    assert count_exchanges(df) <= 2
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_quality_train_score_inference_is_narrow_map(spark, qs):
    """After the eager GD loop (32 driver-collected 1-row aggs at
    construction), the returned INFERENCE plan is one narrow projection
    over the checkpointed feature table — no join, no shuffle, no
    Python."""
    df = qs["quality_train_score"](spark, SF)
    plan = physical_plan(df)
    assert count_exchanges(df) == 0
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_ivf_recluster_audit_report_sized(spark, qs):
    """One assignment map + one (is_new, cell) agg + k-row scaffold:
    the only nested-loop is the broadcast 1-row totals crossJoin."""
    df = qs["ivf_recluster_audit"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_content_chunk_dedup_single_chunk_shuffle(spark, qs):
    """Chunking is a per-row array computation; the only data-sized
    exchanges are the boundary-survivor regroup (the md5 runs in
    whole-stage codegen BEFORE it — the interpreted-HOF shape measured
    2781 s at ×100 vs 15.9 s for this one), the doc-grain bounds join
    (broadcast at this SF; co-partitioned SMJ at scale is structural),
    the chunk-fingerprint agg, and the pruned doc-count arm."""
    df = qs["content_chunk_dedup"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the gram hash must sit in a codegen'd Filter, not a HOF lambda
    assert "transform(sequence(1, m)" not in plan
    assert count_exchanges(df) <= 7


def test_substring_cut_list_single_corpus_scan(spark, qs):
    """The cut list reads the corpus EXACTLY ONCE: positions ride the
    (gram, doc)-grain agg and the distinct-doc count is a count-only
    window over the aggregated grain — a second FileScan here means the
    explode subtree regressed to the two-consumer shape (49.1 s vs
    43.1 s at ×100). Exchange ceiling: gram agg, gram-key window
    repartition, doc-grain island window, island agg."""
    df = qs["substring_cut_list"](spark, SF)
    plan = physical_plan(df)
    assert len(read_schemas(df)) == 1  # one corpus scan, ever
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert count_exchanges(df) <= 4


def test_ivf_recluster_repair_report_sized(spark, qs):
    """The movement report is two cell-grain aggs over constant-folded
    argmin maps plus a k-row broadcast scaffold — no sort-merge join,
    no cartesian, no Python, and the corpus is scanned at most twice
    (once per movement arm)."""
    df = qs["ivf_recluster_repair"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert len(read_schemas(df)) <= 2
    assert count_exchanges(df) <= 4


def test_doremi_report_is_model_sized(spark, qs):
    """The returned frame is domain diagnostics + the broadcast k-row
    weight scaffold; the only nested loop is the broadcast 1-row
    total-tokens normalizer. (The optimization itself ran at
    construction over the localCheckpointed vocab-grain model — never
    re-reads the corpus at report time beyond the diagnostics scans.)"""
    df = qs["doremi_mixture_weights"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert has_broadcast_join(df)  # the k-row scaffold join
    assert len(read_schemas(df)) <= 2
    assert count_exchanges(df) <= 5


def test_round9_execution_rungs_stay_clean(spark, qs):
    """Apply / incremental / decon / sample: no cartesian, no Python,
    no sort-merge join anywhere (the sample's ≤k-row kept agg is
    broadcast-hinted — unhinted it regressed to SMJ against the 20-row
    scaffold), and the cut-applying join is broadcast at gate SF."""
    for name, max_ex in [
        ("substring_dedup_apply", 5),
        ("substring_cut_list_incremental", 6),
        ("decontamination_cut_list", 4),
        ("doremi_mixture_sample", 3),
    ]:
        df = qs[name](spark, SF)
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "SortMergeJoin" not in plan, name
        assert count_exchanges(df) <= max_ex, name


def test_backoff_heldout_broadcasts_lm(spark, qs):
    """Both model tables (bigram LM, unigram counts) broadcast onto the
    held-out bigram stream; the only nested loop is the 1-row total-N
    crossJoin — the fact side never shuffles for a join."""
    df = qs["backoff_heldout_logprob"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_indexed_serves_from_store_no_corpus_tokenize(spark, qs):
    """The store-served BM25 plan reads the bm25_index artifact and
    NEVER the documents table: a documents.parquet scan here means the
    serve path regressed to corpus recompute. The only nested loop is
    the 1-row stats broadcast (the bm25_rank-allowlisted normalizer)."""
    df = qs["bm25_rank_indexed"](spark, SF)
    plan = physical_plan(df)
    assert "bm25_index" in plan
    assert "documents.parquet" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_decontamination_indexed_scans_docs_once_for_eval_only(spark, qs):
    """Index-backed decontamination reads documents.parquet exactly
    ONCE (the eval arm's gram build); the train side comes from the
    positioned index artifact. Two scans would mean the train re-scan
    the index exists to remove."""
    df = qs["decontamination_cut_list_indexed"](spark, SF)
    plan = physical_plan(df)
    assert "pos_gram_index" in plan
    assert plan.count("documents.parquet") == 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_round10_rungs_stay_clean(spark, qs):
    """Round-10 additions: no cartesian, no row-at-a-time Python, and
    the cut-apply / fusion joins stay broadcast at gate SF (the
    hybrid's ≤20×≤20 full outer may legitimately sort-merge, like the
    self-contained form — excluded from the SMJ pin)."""
    for name, max_ex in [
        ("substring_cut_list_skew_robust", 5),
        ("decontamination_apply", 5),
    ]:
        df = qs[name](spark, SF)
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "SortMergeJoin" not in plan, name
        assert count_exchanges(df) <= max_ex, name
    df = qs["hybrid_rrf_retrieval_indexed"](spark, SF)
    plan = physical_plan(df)
    assert "bm25_index" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
