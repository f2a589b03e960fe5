"""Golden-plan assertions — the engine's analogue of the reference's optimizer
plan snapshot tests (183 XML files under flink-table-planner-blink/src/test/
resources/.../plan/). Instead of brittle full-plan snapshots we assert the
load-bearing physical-plan properties: filter pushdown, column pruning,
broadcast strategy, partial aggregation, top-k selection.
"""

from __future__ import annotations

import re

import pytest

from flink_1_12_2_spark.registry import QUERIES, load_all_query_modules

load_all_query_modules()


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    # predicate reaches the parquet scan
    assert "PushedFilters:" in plan and "LessThanOrEqual(l_shipdate" in plan
    # column pruning: untouched columns never read
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    # partial aggregation (map-side combine) before the shuffle
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_star_broadcast")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan  # fact table must not shuffle for dims


def test_semi_anti_join_strategy(spark, sf_dir):
    semi = _plan(spark, sf_dir, "join_semi")
    anti = _plan(spark, sf_dir, "join_anti")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_sort_limit_is_topk(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sort_limit")
    # two-phase top-k, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_rollup_uses_expand(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_rollup")
    assert "Expand" in plan


def test_topn_filter_pushed_into_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topn_per_group")
    # rank-limit pushdown: Spark turns rn <= 3 into a WindowGroupLimit
    assert "WindowGroupLimit" in plan or "Window" in plan


def test_interval_join_has_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "interval_join")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_no_cross_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_ngram_jaccard")
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name", ["q1_pricing_summary", "join_star_broadcast", "over_running_sum"]
)
def test_whole_stage_codegen_active(spark, sf_dir, name):
    # AQE finalizes the physical plan at runtime — execute first, then check
    # the executed plan for whole-stage-codegen stages ("*(n)" markers)
    df = QUERIES[name].fn(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "WholeStageCodegen" in executed or "*(" in executed


def test_ann_ivf_no_corpus_shuffle_for_assignment(spark, sf_dir):
    """IVF cell assignment is a literal-centroid projection: the corpus is
    never expanded k× and never hash-exchanged on its own id. The only hash
    exchange in the whole query is the final top-k window on query_id."""
    plan = _plan(spark, sf_dir, "ann_ivf_topk")
    assert "CartesianProduct" not in plan
    # candidate join broadcasts the probe set against corpus cells
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
    # assignment must not window/exchange per corpus id (the r2 flag)
    assert "hashpartitioning(vec_id" not in plan


def test_cosine_pairs_no_all_pairs_join(spark, sf_dir):
    """Embedding near-dup pairs route through the banded-LSH bucket equijoin:
    no corpus×corpus BroadcastNestedLoopJoin / cartesian survives (the
    r1/r2 O(n²) flag); the candidate join is a hash join on (band, bv)."""
    plan = _plan(spark, sf_dir, "dedup_embedding_cosine")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_session_dynamic_gap_single_shuffle(spark, sf_dir):
    """Dynamic-gap session agg: one exchange on the grouping key before the
    session merge (plus the final presentation sort)."""
    plan = _plan(spark, sf_dir, "window_session_dynamic_gap")
    assert "session_window" in plan.lower() or "SessionWindow" in plan
    # exactly one hash-partition exchange (user_id) + one range (orderBy);
    # formatted mode lists exchange args as "hashpartitioning(...)" details
    hashex = plan.count("hashpartitioning(")
    assert hashex == 1, f"expected 1 hash exchange, plan has {hashex}"


def test_corpus_clean_single_hash_shuffle(spark, sf_dir):
    """The composed cleaning pipeline must stay one pass: exactly one
    hash-partitioning Exchange (the dedup window), everything else
    scan-local; the final ORDER BY adds only a range exchange."""
    plan = _plan(spark, sf_dir, "pipeline_corpus_clean")
    assert plan.count("hashpartitioning") == 1
    assert "Filter" in plan


def test_bucketed_tables_cover_agg_distribution(spark, sf_dir):
    """graph CC / delta iteration leaves no exponential plan: the final
    solution is a localCheckpoint leaf (bounded plan text)."""
    from flink_1_12_2_spark.graph import Graph
    import pyspark.sql.functions as F

    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"
    )
    comp = Graph.from_edges(edges).run_connected_components()
    assert len(comp._jdf.queryExecution().logical().toString()) < 2000


def test_ds_q3_broadcasts_part_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ds_q3_brand_year")
    # item dim broadcast + its predicate pushed into the parquet scan
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(p_type,PROMO)" in plan


def test_ds_q67_rollup_then_rank(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ds_q67_rollup_topk")
    # ROLLUP expands AFTER the broadcast join, rank is a Window over the agg
    assert "Expand" in plan and "Window" in plan


def test_ds_q88_scalar_battery_broadcasts_singletons(spark, sf_dir):
    # six 1-row aggregates cross-joined: every join must be a broadcast
    # nested-loop of singletons — never a shuffle join
    plan = _plan(spark, sf_dir, "ds_q88_time_slots")
    # formatted explain prints each node in the tree AND the detail section
    assert plan.count("BroadcastNestedLoopJoin") >= 5
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_ds_q23_broadcast_semi_joins(spark, sf_dir):
    """Both qualifying IN-lists (frequent items, best customers) must reach
    the fact scan as BROADCAST left-semi joins -- never a shuffle of the
    fact table on a filter key."""
    plan = _plan(spark, sf_dir, "ds_q23_frequent_best")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_ds_q10_exists_battery_shape(spark, sf_dir):
    """The mandatory EXISTS lowers to a semi join; the OR-of-EXISTS flag
    frames must broadcast (distinct custkey sets are tiny)."""
    plan = _plan(spark, sf_dir, "ds_q10_exists_battery")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cdc_decoder_is_pure_projection(spark, sf_dir):
    """CDC decode must stay a scan-local generate/project (no exchange
    before the normalize window): the only hash exchange in the debezium
    end-to-end query is the normalize's PK window."""
    plan = _plan(spark, sf_dir, "cdc_debezium_json")
    assert "Generate" in plan  # explode of per-op struct array
    assert plan.count("hashpartitioning") == 1


def test_ds_q5_union_single_rollup_exchange(spark, sf_dir):
    """q5 shape: the sales/returns UNION concatenates without a shuffle;
    the only hash exchange is the rollup's (Expand feeds partial aggs)."""
    plan = _plan(spark, sf_dir, "ds_q5_channel_rollup")
    assert "Union" in plan and "Expand" in plan
    assert plan.count("hashpartitioning") == 1


def test_ds_q80_broadcast_dim_then_line_grain_join(spark, sf_dir):
    """q80 shape: promo part dimension broadcasts; the sales↔returns
    LEFT join runs at line grain on the composite key (a real shuffle
    join, not a cartesian)."""
    plan = _plan(spark, sf_dir, "ds_q80_promo_returns_rollup")
    assert "BroadcastHashJoin" in plan
    # the line-grain sales<->returns join is a real equi-join (LeftOuter);
    # at test SF the returns side broadcasts, at scale AQE shuffles it —
    # either way no cartesian/NL join may appear
    assert "LeftOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Expand" in plan  # the rollup


def test_ds_q61_q90_singleton_ratio_no_shuffle_join(spark, sf_dir):
    """q61/q90 shape: both ratio numerator and denominator reduce to ONE
    row before the cross join — BroadcastNestedLoopJoin of singletons."""
    for name in ("ds_q61_promo_ratio", "ds_q90_am_pm_ratio"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" in plan
        # complete aggregates on both sides (partial+final over 1 group)
        assert "HashAggregate" in plan


def test_ds_q66_single_pass_pivot(spark, sf_dir):
    """q66 shape: the 12-month CASE battery is ONE aggregation pass per
    carrier half (24 sum exprs in two HashAggregates), not 12 scans."""
    plan = _plan(spark, sf_dir, "ds_q66_monthly_pivot")
    # two scans (one per half) + union + re-agg; no join at all
    assert "Join" not in plan
    import re as _re

    scans = len(_re.findall(r"Scan parquet\s*\(\d+\)", plan))
    assert scans == 2, f"expected 2 lineitem scans, plan has {scans}"


def test_ds_q31_one_pass_conditional_agg(spark, sf_dir):
    """q31's four-alias self-join collapses to ONE conditional-aggregation
    pass: a single hash exchange for the series (not 4 re-aggregations),
    no fact self-joins."""
    plan = _plan(spark, sf_dir, "ds_q31_share_growth_compare")
    assert plan.count("hashpartitioning") <= 2  # series agg (+ sort exchange)
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_late_tagging_no_global_window(spark, sf_dir):
    """tag_late_rows must not sort the whole stream through one task: no
    Exchange SinglePartition may feed the running-max window (the r4
    global-window form did exactly that). The per-partition window keys on
    __pid so every Window has a partition spec."""
    plan = _plan(spark, sf_dir, "late_data_side_output")
    assert "SinglePartition" not in plan


def test_stratified_exact_two_phase_window(spark, sf_dir):
    """stratified_sample_exact: two Window nodes (salted local top-k, then
    exact rank over <= quota*buckets survivors) and no single-task stage —
    a lone Window.partitionBy(strata) would funnel each stratum through one
    task's sort."""
    plan = _plan(spark, sf_dir, "sample_stratified_exact")
    assert "SinglePartition" not in plan
    assert plan.count("Window") >= 2
    assert "__bkt" in plan  # the salted phase-1 partition key


def test_ds_q4_one_pass_no_self_join(spark, sf_dir):
    """q4/q11 shape collapses the 4-alias year_total self-join to ONE
    conditional-aggregation pass: a single hash exchange for the customer
    agg (plus the order join), and NO join between aggregated subtrees."""
    plan = _plan(spark, sf_dir, "ds_q4_one_pass_growth")
    # join count: exactly the lineitem<->orders fact join (SMJ or SHJ),
    # never a join above a HashAggregate
    agg_zone = plan.split("HashAggregate")[0]
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert "Join" not in agg_zone.split("Exchange")[0]  # no join above the final agg


def test_ds_q64_broadcasts_all_dims(spark, sf_dir):
    """q64 wide chain: customer/nation/region/part/supplier all broadcast —
    the fact shuffles only for the orders join and the final group-by."""
    plan = _plan(spark, sf_dir, "ds_q64_wide_join_chain")
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan


def test_ds_q9_q28_single_pass(spark, sf_dir):
    """q9/q28 shapes: the per-band scalar batteries fold into ONE
    aggregation over ONE lineitem scan — no cross joins of single-row
    subqueries (the reference plan's shape), no repeated scans."""
    import re as _re

    for name in ("ds_q9_case_over_bands", "ds_q28_distinct_band_battery"):
        plan = _plan(spark, sf_dir, name)
        scans = len(_re.findall(r"Scan parquet\s*\(\d+\)", plan))
        assert scans == 1, f"{name}: expected 1 scan, got {scans}"
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_ds_q44_rank_over_aggregated_series_only(spark, sf_dir):
    """q44: the asc/desc rank windows run over the per-part AGGREGATE
    (thousands of rows), never the fact — the single-partition window
    exchanges must sit above a HashAggregate."""
    plan = _plan(spark, sf_dir, "ds_q44_best_worst_rank")
    assert "Window" in plan and "HashAggregate" in plan
    # tree prints parents first: Window sits ABOVE the aggregate, i.e. the
    # aggregate's output (not the fact) feeds the rank windows
    assert plan.index("Window") < plan.index("HashAggregate")


def test_contamination_probe_broadcasts_no_corpus_shuffle(spark, sf_dir):
    """Contamination check: the probe n-gram set broadcasts; the corpus
    side must NOT shuffle for the join (only the final per-doc count may
    exchange)."""
    plan = _plan(spark, sf_dir, "contamination_ngram_overlap")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ds_q7_broadcasts_all_dims_one_agg_shuffle(spark, sf_dir):
    """q7 star: part/supplier/nation broadcast; the only SMJ-eligible join
    is lineitem⨝orders; the avg battery is one aggregation pass."""
    plan = _plan(spark, sf_dir, "ds_q7_multi_dim_star_avgs")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_ds_q18_dual_role_dim_single_expand(spark, sf_dir):
    """q18: nation joins twice (bill/ship roles) — both broadcast — and the
    ROLLUP runs as ONE Expand over one joined stream."""
    import re as _re

    plan = _plan(spark, sf_dir, "ds_q18_dual_role_dim_rollup")
    assert plan.count("BroadcastHashJoin") >= 4
    # exactly one Expand node (formatted mode prints each node twice:
    # once in the tree, once in the numbered detail section)
    assert len(_re.findall(r"\(\d+\) Expand", plan)) == 1


def test_ds_q50_histogram_single_agg_after_join(spark, sf_dir):
    """q50: the five delay buckets are conditional sums in ONE aggregate
    after the fact-fact join — no per-bucket scans of lineitem."""
    import re as _re

    plan = _plan(spark, sf_dir, "ds_q50_fact_fact_delay_histogram")
    # 4 tables → exactly 4 scans: lineitem is read once, every bucket is a
    # conditional sum inside one aggregate
    scans = len(_re.findall(r"Scan parquet\s*\(\d+\)", plan))
    assert scans == 4, f"expected 4 scans, got {scans}"
    assert "PushedFilters:" in plan  # shipdate filter reaches the scan


def test_ds_q70_rank_subquery_on_preagg_only(spark, sf_dir):
    """q70: the restricting rank window runs over the nation-level
    PRE-AGGREGATE (≤ nations·regions rows), never the fact; the kept-set
    semi join broadcasts."""
    plan = _plan(spark, sf_dir, "ds_q70_rank_restricted_rollup")
    assert "LeftSemi" in plan
    assert "Expand" in plan  # the rollup
    # structural, not positional: in the formatted tree section (lines
    # before the numbered "(1) ..." detail dump), the first Window node's
    # subtree must reach a HashAggregate BEFORE any parquet scan — i.e.
    # the rank runs over the pre-aggregate, never the raw fact
    tree = []
    for ln in plan.splitlines():
        if re.match(r"^\(\d+\)", ln.strip()):
            break
        tree.append(ln)
    w = next(i for i, ln in enumerate(tree) if "Window" in ln)
    below = next(
        ln for ln in tree[w + 1 :]
        if "HashAggregate" in ln or "Scan parquet" in ln
    )
    assert "HashAggregate" in below, f"Window sits on: {below.strip()}"


def test_ds_q71_union_no_extra_shuffle(spark, sf_dir):
    """q71: three filtered branches union append-only; customer broadcasts;
    the only exchange is the final group-by."""
    plan = _plan(spark, sf_dir, "ds_q71_channel_union_time_breakdown")
    assert "Union" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ds_q84_fact_never_shuffles(spark, sf_dir):
    """q84 lookup chain: every dimension broadcasts — the orders fact must
    reach the top-k projection without a single exchange for joins."""
    plan = _plan(spark, sf_dir, "ds_q84_banded_lookup_chain")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # ORDER BY + LIMIT as top-k


def test_ds_q24_shared_cte_computed_once(spark, sf_dir):
    """q24: both consumers (brand re-agg and the scalar threshold) must
    read the PERSISTED pre-aggregate — the fact join appears once; the
    second consumer is an InMemoryTableScan, not a second scan chain."""
    plan = _plan(spark, sf_dir, "ds_q24_shared_cte_scalar_threshold")
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan  # scalar joins via broadcast


def test_repetition_filter_one_pass_no_cartesian(spark, sf_dir):
    """Repetition filter: tokens and bigrams share ONE exploded stream —
    the gram count aggregates map-side (partial) and nothing degenerates
    into a cartesian or per-kind rescan of documents."""
    plan = _plan(spark, sf_dir, "text_repetition_filter")
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()
    assert "Union" in plan  # tok + bigram branches feed one count


def test_quantile_gate_broadcasts_stats_no_window(spark, sf_dir):
    """Quality quantile gate: the per-source stats broadcast back for the
    threshold count — no Window operator (a per-source window would funnel
    each source through one task at scale)."""
    plan = _plan(spark, sf_dir, "text_quality_quantile_gate")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "partial" in plan.lower()


def test_match_recognize_pregate_below_nfa(spark, sf_dir):
    """The CEP candidate pre-gate: the row-level any-DEFINE-upper-bound
    disjunction reaches the parquet scan as PushedFilters, BELOW the
    MapInPandas NFA stage, and the NFA's exchange is a pinned
    user-specified repartition (REPARTITION_BY_NUM) that AQE's byte-based
    coalescing cannot fold down — the Python stage keeps full
    parallelism."""
    plan = _plan(spark, sf_dir, "match_recognize_agg_measures")
    # r14: the batch NFA runs as a key-clustered MapInPandas (see
    # streaming/cep._keyed_apply) instead of grouped-map — same keyed
    # exchange, same pregate, per-group machinery removed
    assert "MapInPandas" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(
        "Or(" in ln
        and "EqualTo(event_type,click)" in ln
        and "EqualTo(event_type,purchase)" in ln
        for ln in pushed
    ), pushed
    assert "REPARTITION_BY_NUM" in plan
    # the measures read the NFA output once, through one explode-join:
    # nothing cached, one NFA stage
    assert "InMemoryTableScan" not in plan
    assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 1, plan


def test_match_recognize_prev_nav_one_keyed_exchange(spark, sf_dir):
    """PREV navigation: the lag window and the NFA group on the same
    pinned key partitioning — the nav precompute adds NO extra exchange
    beyond the single keyed repartition (plus the gate window's reuse)."""
    import re as _re

    plan = _plan(spark, sf_dir, "match_recognize_prev_nav")
    assert "MapInPandas" in plan  # r14 _keyed_apply, see above
    # nav lag column materialized JVM-side
    assert "__nav_prev1_value" in plan
    # the detail section names every Exchange; the NFA input subtree must
    # hold exactly one shuffle by user_id before the pandas stage — count
    # exchanges in the numbered detail dump that hash on user_id only
    ex_args = _re.findall(
        r"\(\d+\) Exchange[^\n]*\nInput.*?\nArguments: hashpartitioning\("
        r"user_id#\d+L?, \d+\), REPARTITION_BY_NUM",
        plan,
    )
    assert len(ex_args) >= 1


def test_exact_substring_bucketed_no_cross_join(spark, sf_dir):
    """Exact-substring dedup must stay a bucketed equi-join on the window
    hash — no all-pairs comparison survives the plan."""
    plan = _plan(spark, sf_dir, "dedup_exact_substring")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_broadcast_stats_no_window(spark, sf_dir):
    """DSIR importance weights: the O(n_buckets) micronat term table is
    literal driver-computed metadata that BROADCASTS onto the token
    stream (r8: the IVF-centroid pattern — the stats collect is bounded
    at n_buckets rows and happens before this plan); the per-doc weight
    carries doc attributes through the groupBy instead of joining back
    against the corpus — no SortMergeJoin, no Window; the top-k is a
    TakeOrderedAndProject, never a global sort."""
    plan = _plan(spark, sf_dir, "sample_dsir_weights")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan


def test_pq_code_stream_broadcast_lut(spark, sf_dir):
    """PQ ANN: the corpus moves only as unpivoted codes; the per-query ADC
    lookup table broadcasts (no SortMergeJoin, no cartesian product); the
    one shuffle is the (query, neighbor) partial-sum aggregate."""
    plan = _plan(spark, sf_dir, "ann_pq_topk")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()


def test_literal_q64_broadcast_chain_no_cartesian(spark, sf_dir):
    """The 17-relation literal q64: every dimension joins as a broadcast
    hash join (the CROSS tier's fact is the only large input besides the
    returns and cs_ui aggregates, which sort-merge on their keys); no
    cartesian product appears, and the only nested-loop joins are the
    singleton scalar-count broadcasts inside the adapter views (the
    CROSS-tier store_sales and the two address residues each carry a
    COUNT(customer) scalar — all single-row inputs)."""
    plan = _plan(spark, sf_dir, "tpcds_literal_q64")
    assert plan.count("BroadcastHashJoin") >= 10
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 5


def test_literal_q14a_intersect_rollup_shape(spark, sf_dir):
    """Literal q14a: the three-channel INTERSECT + ROLLUP apex keeps the
    rollup's single Expand and never degenerates into a cartesian
    product; dimensions broadcast."""
    plan = _plan(spark, sf_dir, "tpcds_literal_q14a")
    assert "Expand" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_graph_triangle_enum_no_cartesian(spark, sf_dir):
    """The oriented triangle enumeration must close candidates with
    equi-joins only — a cartesian/BNLJ here is the classic triad-listing
    blow-up the Schank-Wagner orientation exists to avoid."""
    plan = _plan(spark, sf_dir, "graph_triangle_enum")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_graph_similarity_no_cartesian_and_partial_agg(spark, sf_dir):
    """Jaccard/Adamic-Adar pair generation is a shared-neighbor equi-join
    (volume sum(deg²)), never an all-pairs product, and the per-pair
    aggregations combine map-side."""
    for name in ("graph_jaccard_index", "graph_adamic_adar"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "partial" in plan.lower(), name


def test_incremental_dedup_index_side_aggregated_before_join(spark, sf_dir):
    """The anti-join's build side must be the DISTINCT fingerprint index
    (HashAggregate before the join), not the raw corpus — the property
    that keeps the recurring-ingest shape linear in the batch."""
    plan = _plan(spark, sf_dir, "dedup_incremental_snapshot")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # keep-first collapse is a partial (map-side) min/count
    assert "partial_min" in plan or "partial" in plan.lower()


def test_directed_clustering_no_cartesian(spark, sf_dir):
    """The directed listing re-attaches EdgeOrder masks with three
    equi-joins on the pair table — a cartesian/BNLJ here would be the
    all-pairs blow-up the oriented enumerator exists to avoid."""
    for name in ("graph_directed_clustering", "graph_directed_triadic_census"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_r10_rows_rotation_ready_output_shapes(spark):
    """r10 additions pass the same spark-side shape sweep as the r9
    rows (the oracle side is covered by tests/test_oracle_types.py)."""
    allowed = {"bigint", "int", "smallint", "tinyint", "string", "date"}
    bad = {}
    for name in (
        "graph_directed_clustering",
        "graph_directed_triadic_census",
        "graph_metrics",
        "bpe_encode_docs",
        "env_probe_canon_int128",
    ):
        df = QUERIES[name].fn(spark, "/root/testdata/sf0.001")
        offending = [(c, t) for c, t in df.dtypes if t not in allowed]
        if offending:
            bad[name] = offending
    assert not bad, f"rotation-unsafe output types: {bad}"


def test_chunk_dedup_shuffles_hash_key_not_text(spark, sf_dir):
    """The CCNet chunk dedup's first-occurrence aggregate and join-back
    must key on xxhash64(chunk) — 8 bytes on the exchange — never on the
    chunk TEXT (the r9 verdict's perf-weak finding: at 100 TB a raw-text
    shuffle key carries the full corpus twice)."""
    plan = _plan(spark, sf_dir, "text_chunk_dedup")
    assert "hashpartitioning(__chunk_h" in plan
    assert "hashpartitioning(chunk" not in plan
    assert "xxhash64" in plan.lower()
    assert "CartesianProduct" not in plan


def test_r9_rows_rotation_ready_output_shapes(spark):
    """Gate-rotation readiness (the r8 verdict's discipline: only rows
    whose output shape passed the type sweep may enter GATE_ORDER): every
    query added in r9 emits integer/string columns — or whitelisted
    EXACT doubles (community detection's dyadic attenuation scores,
    sssp-style sums would not qualify) — so a future rotation cannot
    reopen the canonicalization-divergence class."""
    r9_rows = [
        "graph_label_propagation", "graph_triangle_enum",
        "graph_jaccard_index", "graph_adamic_adar",
        "graph_clustering_coefficient", "graph_hits",
        "graph_triadic_census", "graph_summarization",
        "graph_community_detection", "dedup_incremental_snapshot",
        "dsir_term_table", "text_chunk_dedup",
    ]
    exact_double_ok = {"graph_community_detection": {"score"}}
    allowed = {"bigint", "int", "smallint", "tinyint", "string", "date"}
    bad = {}
    for name in r9_rows:
        df = QUERIES[name].fn(spark, "/root/testdata/sf0.001")
        ok_doubles = exact_double_ok.get(name, set())
        offending = [
            (c, t)
            for c, t in df.dtypes
            if t not in allowed and not (t == "double" and c in ok_doubles)
        ]
        if offending:
            bad[name] = offending
    assert not bad, f"rotation-unsafe output types: {bad}"


def test_r11_rows_rotation_ready_output_shapes(spark):
    """r11 additions keep the rotation discipline: the state-processor
    round-trip and the registry-Avro round-trip emit only gate-portable
    integer/string columns."""
    allowed = {
        "bigint", "int", "smallint", "tinyint", "string", "date", "boolean"
    }
    bad = {}
    for name in (
        "state_read_bootstrap",
        "avro_registry_roundtrip",
        "dedup_semantic_semdedup",
        "kafka_ddl_avro_scan",
        "upsert_kafka_roundtrip",
    ):
        df = QUERIES[name].fn(spark, "/root/testdata/sf0.001")
        offending = [(c, t) for c, t in df.dtypes if t not in allowed]
        if offending:
            bad[name] = offending
    assert not bad, f"rotation-unsafe output types: {bad}"


def test_semdedup_no_cartesian_and_cell_bounded_join(spark, sf_dir):
    """SemDeDup (r11): centroid assignment is a scan-stage projection
    (broadcast literal coefficients — no corpus k-fold expansion), the
    pair join is an equi-join on the cell id, and nothing in the plan is
    a cartesian — candidate volume is Σ|cell|², the paper's own bound."""
    df = QUERIES["dedup_semantic_semdedup"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "cell#" in plan  # the join key is the cell id
    spark.catalog.clearCache()


def test_hbase_scan_partial_aggregated_no_cartesian(spark, sf_dir):
    """hbase_scan (r10): both the latest-version resolve and the struct
    assembly are map-combinable hash aggregates (partial before the
    exchange), and nothing in the plan is a cartesian — the scan cost is
    2 keyed aggregations over the cell store, linear in cells."""
    plan = _plan(spark, sf_dir, "hbase_scan_wide_row")
    assert "CartesianProduct" not in plan
    # 2 aggregations x (partial + final); max_by plans as SortAggregate
    agg_ops = plan.lower().count("sortaggregate") + plan.lower().count(
        "hashaggregate"
    )
    assert agg_ops >= 4, plan
    assert "partial_" in plan.lower()


def test_es_upsert_state_only_touches_buckets(spark, sf_dir, tmp_path):
    """es sink (r10): the index store is hash-bucketed; a small second
    batch must rewrite only its touched buckets, not the whole index
    (per-batch I/O is O(delta), the upsert sink's 100-TB property)."""
    import os

    import pyspark.sql.functions as F

    from flink_1_12_2_spark.operators.changelog import ROW_KIND
    from flink_1_12_2_spark.sources.elasticsearch_emu import es_upsert_batch

    idx = str(tmp_path / "idx")
    big = spark.range(200).select(
        F.lit("+I").alias(ROW_KIND),
        F.col("id").alias("k"),
        F.lit("v").alias("p"),
        F.lit(0).alias("seq"),
    )
    es_upsert_batch(big, idx, pk_cols=["k"], order_cols=["seq"], num_buckets=16)
    mtimes = {
        d: os.path.getmtime(os.path.join(idx, d))
        for d in os.listdir(idx)
        if d.startswith("__bucket=")
    }
    assert len(mtimes) == 16
    import time

    time.sleep(1.1)
    one = spark.createDataFrame(
        [("+U", 7, "v2", 1)], f"{ROW_KIND} string, k bigint, p string, seq int"
    )
    es_upsert_batch(one, idx, pk_cols=["k"], order_cols=["seq"], num_buckets=16)
    touched = [
        d
        for d in mtimes
        if os.path.getmtime(os.path.join(idx, d)) != mtimes[d]
    ]
    assert len(touched) == 1, touched
