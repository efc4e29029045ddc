"""Physical-plan regression tests: the optimizations the engine's scale
story depends on must actually appear in the executed plan — predicate
pushdown into the parquet scan, column pruning, broadcast joins for
fixed-size dims, and partial (map-side) aggregation. A refactor that
silently trades one of these away fails here, not in a 100 TB run.
"""

from __future__ import annotations

from minispark_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def _plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Once a memoized plan has actually executed (e.g. the parity tests
    # ran first), AQE's string carries BOTH "== Final Plan ==" and
    # "== Initial Plan ==" sections — keep only the final one so
    # occurrence counts don't double.
    return plan.partition("== Initial Plan ==")[0]


def _optimized(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    # q1 needs 7 of lineitem's 11 columns; the scan schema must exclude
    # the rest (keys + linenumber + linestatus).
    read_schema = next(line for line in plan.splitlines() if "ReadSchema" in line)
    for unused in ("l_orderkey", "l_partkey", "l_suppkey", "l_linestatus"):
        assert unused not in read_schema


def test_q1_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_q5_broadcasts_fixed_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan


def test_q6_scan_prunes_to_needed_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    read_schema = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_returnflag" not in read_schema
    assert "l_extendedprice" in read_schema


def test_join_semi_stays_semi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_semi")
    assert "LeftSemi" in plan


def test_q18_single_lineitem_scan(spark, sf_dir):
    """q18's rewrite (one per-order aggregate feeds both the threshold
    filter and the output) must keep lineitem scanned ONCE — the
    classic semi-join shape scans it twice and re-aggregates. The
    former LeftSemi pin is superseded: there is no semi join left to
    degrade."""
    plan = _plan(spark, sf_dir, "q18_large_orders")
    assert plan.count("lineitem.parquet") == 1, plan


def test_no_cartesian_products_anywhere(spark, sf_dir):
    """Nothing in the registry may plan a cartesian product — the
    IVF/LSH candidate generators must stay broadcast nested loop (tiny
    broadcast side) or equi-join."""
    for name in sorted(REGISTRY):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path_factory):
    """Hive-style partitioned layout + a partition-column filter must
    prune at planning time (PartitionFilters, not a data filter)."""
    from minispark_spark.dataframe import DataFrame as VeneerDF
    from minispark_spark.sources.tables import load_table

    out = str(tmp_path_factory.mktemp("pp") / "events_by_type")
    VeneerDF(load_table(spark, sf_dir, "events")).write_parquet(
        out, partition_by=["event_type"]
    )
    from pyspark.sql import functions as F

    scan = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan
    n_total = spark.read.parquet(out).count()
    n_purchase = scan.count()
    assert 0 < n_purchase < n_total


def test_decontaminate_broadcasts_eval_set(spark, sf_dir):
    # The training side must probe a broadcast of the small eval-shingle
    # set — a shuffle of the big side here would be a 100 TB bottleneck.
    plan = _plan(spark, sf_dir, "docs_decontaminate")
    assert "BroadcastHashJoin" in plan


def test_correlated_subquery_decorrelates(spark, sf_dir):
    # Catalyst must rewrite both correlated scalar subqueries into
    # aggregate+join — never a per-row nested-loop re-execution.
    plan = _plan(spark, sf_dir, "correlated_scalar_subquery")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_gapfill_spine_broadcasts(spark, sf_dir):
    # The generated date spine is tiny; the daily aggregate must join it
    # via broadcast, not a shuffle.
    plan = _plan(spark, sf_dir, "orders_daily_gapfill")
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan


def test_salted_join_spreads_key(spark, sf_dir):
    # The salted join's condition must include the salt column so the
    # hot key's rows hash to distinct partitions.
    opt = _optimized(spark, sf_dir, "join_skew_salted")
    assert "__salt" in opt


def test_decontaminate_source_filters_reach_scan(spark, sf_dir):
    # Each side shingles only its own rows: the source predicates must
    # appear as parquet PushedFilters (they cannot push through the
    # shingling window, so the query filters before shingling).
    plan = _plan(spark, sf_dir, "docs_decontaminate")
    assert "PushedFilters: [IsNotNull(source), EqualTo(source,src0)]" in plan
    assert "PushedFilters: [IsNotNull(source), Not(EqualTo(source,src0))]" in plan


def test_scd2_event_type_filter_pushed_to_scan(spark, sf_dir):
    # The purchase-only filter precedes the validity-interval window and
    # must reach the parquet scan, not run post-window.
    plan = _plan(spark, sf_dir, "events_scd2_intervals")
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]" in plan


def test_bigram_counting_is_partial_then_final(spark, sf_dir):
    # Bigram counts must combine map-side before the (w1, w2) exchange —
    # the Zipf head compresses pre-shuffle. The per-w1 normalization
    # window adds exactly one more exchange over aggregated rows.
    plan = _plan(spark, sf_dir, "docs_bigram_stats")
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning") == 3  # doc_id, (w1,w2), w1


def test_profile_is_single_scan(spark, sf_dir):
    # The 4-column profile must be ONE wide aggregate over ONE scan
    # (Catalyst expand handles the multi-column COUNT DISTINCT) — not a
    # union of per-column scans.
    plan = _plan(spark, sf_dir, "lineitem_profile")
    assert plan.count("FileScan parquet") == 1
    assert "Expand" in plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    # 100 TB feature: a selective dim-side predicate must become a bloom
    # filter applied to the fact side's rows BEFORE the join shuffle
    # (spark.sql.optimizer.runtime.bloomFilter). Local data is far below
    # the production thresholds, so lower them for the assertion; the
    # plan shape is what ships.
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "l_returnflag"
        ).count()
        opt = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt  # row-level runtime filter injected
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_weighted_sample_is_shuffle_free(spark, sf_dir):
    # Hash-thresholded sampling is a pure per-row filter — any exchange
    # in this plan means the scale story (embarrassingly parallel scan)
    # regressed.
    plan = _plan(spark, sf_dir, "docs_weighted_sample")
    assert "Exchange" not in plan


def test_linear_fit_is_one_partial_final_aggregate(spark, sf_dir):
    # Sufficient statistics must combine map-side: one exchange of five
    # longs per group, however many rows feed the fit.
    plan = _plan(spark, sf_dir, "stats_linear_fit")
    assert "partial_sum" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_distributed_ranking_has_no_global_sort(spark, sf_dir):
    """Ranking/prefix-sum queries must use distributed ranking (bucket
    offsets + partition-local windows), never an unpartitioned window —
    `X OVER (ORDER BY ...)` plans Exchange SinglePartition + global
    Sort, a single-task funnel at 100 TB. A Sort node with global=true
    (rendered as `Sort [...], true, 0`) fails this."""
    for name in (
        "customers_rfm_segments",
        "window_ntile_deciles",
        "docs_sequence_packing",
        "docs_dsir_select",
    ):
        plan = _plan(spark, sf_dir, name)
        for line in plan.splitlines():
            assert not (
                "Sort [" in line and "], true," in line
            ), f"{name} global sort: {line}"
        assert "ntile" not in plan, name


def test_zorder_scan_pushes_both_range_filters(spark, sf_dir):
    """The clustered copy's scan must receive BOTH range predicates as
    parquet PushedFilters — that is what turns the z-order layout into
    actual row-group skipping."""
    from minispark_spark import registry

    # Untruncate PushedFilters — and rebuild the plan from scratch:
    # FileSourceScanExec caches its metadata string on first render, so
    # a memoized plan already rendered elsewhere keeps the 100-char cut.
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    registry.clear_plan_cache()
    try:
        plan = _plan(spark, sf_dir, "zorder_pruned_scan")
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
        registry.clear_plan_cache()
    assert "GreaterThanOrEqual(user_id,100)" in plan
    assert "LessThanOrEqual(user_id,199)" in plan
    assert "GreaterThanOrEqual(value,10" in plan
    assert "LessThanOrEqual(value,60" in plan


def test_curation_pipeline_shape(spark, sf_dir):
    """The composed curation plan must stay scale-safe: no cartesian
    product, no single-partition exchange, the dedup keep-set and the
    eval-shingle probe broadcast, and the fingerprint aggregation
    partial-then-final."""
    plan = _plan(spark, sf_dir, "docs_corpus_curation")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_min" in plan  # map-side combine of the keep-set agg
    assert "LeftAnti" in plan  # decontamination drop stays anti, not inner


def test_neardup_probe_shape(spark, sf_dir):
    """The streaming near-dup batch twin: stateless joins only — no
    cartesian, no single-partition exchange; the incoming side is tiny
    so its band join broadcasts."""
    plan = _plan(spark, sf_dir, "neardup_incoming_probe")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_repetition_filter_shape(spark, sf_dir):
    """Gram aggregations must map-side combine and never degrade to a
    cartesian or single-partition stage."""
    plan = _plan(spark, sf_dir, "docs_repetition_filter")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "partial_max" in plan or "partial_sum" in plan


def test_skew_profile_topk_is_take_ordered(spark, sf_dir):
    """Top-10 heavy keys must be TakeOrderedAndProject (per-partition
    heaps + driver merge), never a global sort."""
    plan = _plan(spark, sf_dir, "skew_key_profile")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_incremental_rollup_merges_partials(spark, sf_dir):
    """Both slices partially aggregate before the union-merge; the slice
    predicates reach the scan."""
    plan = _plan(spark, sf_dir, "events_incremental_rollup")
    assert "partial_sum" in plan
    assert "Union" in plan
    assert "PushedFilters" in plan and "ts" in plan


def test_chunk_overlap_is_shuffle_free(spark, sf_dir):
    """Chunk fan-out is a narrow generate: no exchange anywhere."""
    plan = _plan(spark, sf_dir, "docs_chunk_overlap")
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode over chunk starts


def test_hard_negatives_broadcasts_anchors(spark, sf_dir):
    """The anchor set broadcasts; the candidate scan never shuffles."""
    plan = _plan(spark, sf_dir, "ann_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange hashpartitioning" not in plan.partition("Window")[0]


def test_shuffle_rank_has_no_global_sort(spark, sf_dir):
    """The training-order shuffle must rank via bucket-local sorts."""
    plan = _plan(spark, sf_dir, "docs_shuffle_rank")
    assert "Exchange SinglePartition" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_new_curation_ops_stay_partitioned(spark, sf_dir):
    """Round-2 curation additions must never funnel through one task:
    span scrub's windows partition by doc_id, the token-budget prefix
    sum by source, and SemDeDup's pair join shuffles on the cluster
    key — no single-partition exchange anywhere."""
    for name in (
        "docs_span_scrub",
        "docs_token_budget_mixture",
        "semantic_dedup",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange SinglePartition" not in plan, name
        for line in plan.splitlines():
            assert not (
                "Sort [" in line and "], true," in line
            ), f"{name} global sort: {line}"


def test_ivfpq_single_narrow_pass(spark, sf_dir):
    """The IVF-PQ composite must stay one narrow Arrow pass over the
    vectors: the only exchange is the final per-query top-k window's
    hash partitioning — the corpus itself never shuffles."""
    plan = _plan(spark, sf_dir, "ann_ivfpq_topk")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_quality_audit_single_scan(spark, sf_dir):
    """The six-constraint audit claims ONE scan of lineitem: exactly
    one FileScan in the plan (the COUNT DISTINCT becomes an expand +
    two-stage aggregate over the same scan, never a rescan)."""
    plan = _plan(spark, sf_dir, "lineitem_quality_audit")
    assert plan.count("FileScan parquet") == 1, plan


def test_counting_median_partial_agg_before_window(spark, sf_dir):
    """The counting median's only full-data pass must be a partial+final
    count aggregate; the window then runs over the compressed
    (group, value) frame, not the raw table."""
    plan = _plan(spark, sf_dir, "events_median_by_type")
    assert "partial_count" in plan, plan
    # The window must consume the counting aggregate's output, i.e.
    # appear ABOVE it in the tree (earlier in the plan string).
    assert plan.index("Window") < plan.index("partial_count"), plan


def test_hhi_broadcasts_supplier_dim(spark, sf_dir):
    """The concentration query must probe a BROADCAST of the supplier
    dim — shuffling 60M lineitem rows against a dim table would be the
    100 TB bottleneck."""
    plan = _plan(spark, sf_dir, "suppliers_market_concentration")
    assert "BroadcastHashJoin" in plan, plan


def test_twap_single_scan_window_then_agg(spark, sf_dir):
    """TWAP: one events scan, the lead window feeding the aggregate
    (no second scan for the interval ends)."""
    plan = _plan(spark, sf_dir, "events_twap_by_type")
    assert plan.count("FileScan parquet") == 1, plan
    assert "Window" in plan and "partial_" in plan, plan


def test_c4_line_dedup_has_no_window(spark, sf_dir):
    """The first-occurrence pick must be min(struct) under a map-side-
    combined groupBy — a row_number window on the sentence key would
    funnel a 10M-copy boilerplate line into one window partition."""
    plan = _plan(spark, sf_dir, "docs_c4_line_dedup")
    assert "Window" not in plan
    assert "partial_min" in plan


def test_label_propagation_round_broadcasts_labels(spark, sf_dir):
    """Each LP round must probe the cached edges with a BROADCAST label
    vector (zero edge-bytes reshuffled per round, the PageRank pattern)
    and pick the argmax label via aggregation, not a window. The
    query's returned frame is a localCheckpoint scan that hides the
    per-round plan, so pin the exposed round builder directly."""
    from pyspark.sql import functions as F

    from minispark_spark.operators.graph import _edges, lp_round

    e = _edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    df = lp_round(sym, labels)
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.partition("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "partial_max" in plan  # argmax combines map-side


def _operators(df) -> list[str]:
    """Operator names of ``df``'s physical plan (AQE's current plan,
    query stages opened). A cached frame is one InMemoryTableScan leaf
    here, whereas the plan TEXT reprints the plan that built the cache,
    exchanges and all, and its nested "== Initial Plan ==" header cuts
    :func:`_plan` short."""
    names, stack = [], [df._jdf.queryExecution().executedPlan().executedPlan()]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        if node.nodeName().endswith("QueryStage"):
            stack.append(node.plan())
        else:
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_bfs_level_is_broadcast_and_shuffle_free(spark, sf_dir):
    """A BFS level probes the cached dst-partitioned steps with the
    BROADCAST reached set and min-folds per dst partition-locally: no
    Exchange, so the next level's broadcast build is its only job. The
    kernel returns a localCheckpoint scan that hides the per-level plan,
    so pin the exposed level builder directly."""
    from pyspark.sql import functions as F

    from minispark_spark.operators.graph import BFS_SOURCE, _edges, bfs_level, bfs_steps

    steps = bfs_steps(_edges(spark, sf_dir), BFS_SOURCE)
    # The kernel's level 1 (a filter) materializes the cache before any
    # broadcast level plans; the dst layout is known from then on.
    steps.count()
    reached = steps.select(F.col("dst").alias("node"), F.col("w").alias("h")).distinct()
    ops = _operators(bfs_level(steps, reached))
    assert "BroadcastHashJoin" in ops
    assert "Exchange" not in ops  # BroadcastExchange is its own name


def test_pq_recall_scans_corpus_once(spark, sf_dir):
    """ann_pq_recall answers the exact and the ADC top-k from ONE Arrow
    pass over the corpus, ranked by one window."""
    ops = _operators(REGISTRY["ann_pq_recall"].fn(spark, sf_dir))
    assert ops.count("MapInPandas") == 1
    assert ops.count("Exchange") == 1


def test_gopher_quality_is_shuffle_free(spark, sf_dir):
    """docs_gopher_quality is a pure row-local projection: all seven
    rule evaluations are array-lambda expressions over one scan — any
    Exchange appearing means someone broke the zero-shuffle contract."""
    plan = _plan(spark, sf_dir, "docs_gopher_quality")
    assert "Exchange" not in plan
    read_schema = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "lang" not in read_schema  # column pruning: only doc_id+text read


def test_scene_cuts_window_is_partitioned_by_asset(spark, sf_dir):
    """The LAG window runs PARTITION BY asset_id — a global-sort window
    (Exchange SinglePartition) would serialize all frames of a 100 TB
    video corpus through one task."""
    plan = _plan(spark, sf_dir, "multimodal_scene_cuts")
    assert "Exchange SinglePartition" not in plan


def test_cusum_window_is_partitioned_by_type(spark, sf_dir):
    """CUSUM's running sum is per event_type over the domain-compressed
    hourly frame; no global sort may appear."""
    plan = _plan(spark, sf_dir, "events_cusum_changepoint")
    assert "Exchange SinglePartition" not in plan


def test_link_prediction_uses_grouped_pair_expansion(spark, sf_dir):
    """graph_link_prediction must expand candidate pairs from grouped
    neighbor arrays (one shuffle on the middle node), not a sym-table
    self-join; the left-anti against existing edges must survive."""
    plan = _plan(spark, sf_dir, "graph_link_prediction")
    assert "LeftAnti" in plan
    # grouped expansion: collect_set feeds the pair lambda
    assert "collect_set" in plan


def _materialized_plan(spark, sf_dir, name: str) -> str:
    """Execute first so cached subtrees print as InMemoryTableScan
    instead of re-printing their full parquet lineage per reference."""
    df = REGISTRY[name].fn(spark, sf_dir)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString().partition(
        "== Initial Plan =="
    )[0]


def test_pca_scatter_is_one_narrow_pass(spark, sf_dir):
    """embedding_pca_covariance: ONE parquet scan of embeddings feeding
    the Arrow scatter pass; the (i,j) reduce is the only real shuffle;
    the sums/count consumers reuse the cached statistics frame and the
    joins are broadcasts, never sort-merge."""
    plan = _materialized_plan(spark, sf_dir, "embedding_pca_covariance")
    assert plan.count("Scan parquet") == 1
    assert "InMemoryTableScan" in plan
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan


def test_acf_joins_run_over_compressed_hours(spark, sf_dir):
    """events_acf_hourly: the lag self-join must consume the CACHED
    hourly frame (domain compression), not re-scan raw events per lag,
    and the tiny lag/series sides broadcast."""
    plan = _materialized_plan(spark, sf_dir, "events_acf_hourly")
    assert plan.count("Scan parquet") == 1
    assert "InMemoryTableScan" in plan
    assert "SortMergeJoin" not in plan


def test_chi_square_totals_reaggregate_cells(spark, sf_dir):
    """events_chi_square_independence: row/column totals re-aggregate
    the cached contingency cells; raw events are scanned once and all
    joins broadcast."""
    plan = _materialized_plan(spark, sf_dir, "events_chi_square_independence")
    assert plan.count("Scan parquet") == 1
    assert "InMemoryTableScan" in plan
    assert "SortMergeJoin" not in plan


def test_filtered_ann_broadcasts_queries(spark, sf_dir):
    """ann_filtered_topk: the query set broadcasts; the label predicate
    sits in the broadcast-join condition so non-matching candidates
    never reach the cosine scoring."""
    plan = _plan(spark, sf_dir, "ann_filtered_topk")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_modularity_has_no_cartesian_blowup(spark, sf_dir):
    """graph_modularity: the only nested-loop join is the 1-row total-
    edge-count broadcast; community joins are hash joins on node."""
    plan = _plan(spark, sf_dir, "graph_modularity")
    assert "CartesianProduct" not in plan


def test_abc_classification_has_no_single_partition_exchange(spark, sf_dir):
    """parts_abc_classification's cumulative revenue sum is the two-pass
    distributed prefix sum (bucket on -cents, bounded offset collect,
    bucket-local window) — the part dimension is catalog-sized, which at
    100 TB is hundreds of millions of SKUs, so an unpartitioned
    `SUM OVER (ORDER BY ...)` (Exchange SinglePartition + global Sort)
    would funnel them all through one task."""
    plan = _plan(spark, sf_dir, "parts_abc_classification")
    assert "Exchange SinglePartition" not in plan
    for line in plan.splitlines():
        assert not (
            "Sort [" in line and "], true," in line
        ), f"global sort: {line}"


def test_events_pruned_scan_lists_only_matching_partitions(spark, sf_dir):
    """events_hourly_stats_pruned reads the date-partitioned layout with
    a one-week predicate: the whole date bound must land in the scan's
    PartitionFilters (applied to the file index at PLANNING — matching
    directories are the only ones listed/opened) with DataFilters left
    empty (zero row-level work) — the 100 TB contract that bounded-date
    queries scan days, not the archive."""
    import re

    from pyspark.sql import functions as F

    from minispark_spark.plans.events import PRUNE_DATE_HI, PRUNE_DATE_LO

    plan = _plan(spark, sf_dir, "events_hourly_stats_pruned")
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan_lines, plan
    (scan,) = scan_lines
    pf = re.search(r"PartitionFilters: \[(.*?)\], PushedFilters", scan).group(1)
    assert "event_date" in pf
    assert f">= {PRUNE_DATE_LO}" in pf and f"<= {PRUNE_DATE_HI}" in pf, pf
    # the predicate must NOT degrade to a row filter over all files
    assert "DataFilters: []" in scan, scan
    # and the result really spans only the bounded week
    dates = {
        r["d"]
        for r in REGISTRY["events_hourly_stats_pruned"]
        .fn(spark, sf_dir)
        .select(F.to_date("hour").alias("d"))
        .distinct()
        .collect()
    }
    assert all(PRUNE_DATE_LO <= str(d) <= PRUNE_DATE_HI for d in dates), dates


def test_campaign_rollup_plans_dynamic_partition_pruning(spark, sf_dir):
    """events_campaign_dpp_rollup's partition filter is only knowable at
    RUNTIME (it comes from the calendar dimension scan), so the fact
    scan must carry a dynamicpruningexpression in PartitionFilters —
    Catalyst's DPP — rather than scanning every date directory and
    filtering rows after the join."""
    from pyspark.sql import functions as F

    plan = _plan(spark, sf_dir, "events_campaign_dpp_rollup")
    fact_lines = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "dynamicpruning" in ln.lower()
    ]
    assert fact_lines, plan
    # The fact side does zero row-level date filtering.
    assert "DataFilters: []" in fact_lines[0], fact_lines[0]
    # And the result really is campaign days only.
    days = {
        r["dn"]
        for r in REGISTRY["events_campaign_dpp_rollup"]
        .fn(spark, sf_dir)
        .select(F.col("campaign"))
        .distinct()
        .withColumnRenamed("campaign", "dn")
        .collect()
    }
    assert days <= {"launch", "promo", "retarget"}


def test_nested_schema_pruning_reads_single_leaf(spark, tmp_path):
    """Catalyst prunes STRUCT leaves like top-level columns when
    spark.sql.optimizer.nestedSchemaPruning.enabled (default on):
    selecting one leaf of a 3-leaf struct must put ONLY that leaf in
    the scan's ReadSchema — at 100 TB a wide-profile struct column
    otherwise drags every leaf through the scan."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "nested")
    spark.range(100).select(
        F.col("id"),
        F.struct(
            F.col("id").alias("a"),
            (F.col("id") * 2).alias("b"),
            F.lit("x").alias("c"),
        ).alias("profile"),
    ).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p).select(F.col("profile.b").alias("b"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    rs = scan.split("ReadSchema:")[1]
    assert "b:" in rs.replace(" ", ""), rs
    assert "a:" not in rs.replace(" ", "") and "c:" not in rs.replace(" ", ""), rs
    assert df.agg(F.sum("b")).collect()[0][0] == 9900
