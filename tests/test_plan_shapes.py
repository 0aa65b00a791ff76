"""Physical-plan regression tests: pin the plan shapes the engine is
designed around, so a refactor that silently introduces an extra shuffle, a
sort-merge join against a dimension table, or a global sort fails here —
these properties are invisible to result-correctness tests but dominate cost
at scale."""

from __future__ import annotations

from multi_source_financial_data_pipeline_spark.plans.registry import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(spark, sf_dir, name: str) -> str:
    """Run the query so AQE finalizes its runtime re-plan, then dump it.

    The AQE toString includes an "== Initial Plan ==" section after the
    final plan; keep only the final section so assertions see what actually
    executed."""
    df = QUERIES[name].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_q5_join_tree_is_all_broadcast(spark, sf_dir):
    # customer carries no hint, but at bench scale AQE's runtime re-plan
    # promotes every join (customer included) to broadcast
    plan = _final_plan(spark, sf_dir, "q5_region_revenue")
    assert "isFinalPlan=true" in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_customer_joins_carry_no_forced_broadcast(spark, sf_dir):
    """customer is scale-proportional (150k × SF rows): the five
    customer-joining TPC-H queries must NOT pin it into executor memory
    with an explicit broadcast hint. With auto-broadcast disabled, a hinted
    table still shows up as a BroadcastHashJoin, so the customer join
    degrading to a shuffle join proves the hint is absent — while the
    fixed-size dims (region, nation) and the q18 HAVING-survivor set stay
    broadcast because they ARE hinted."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        for name, hinted_broadcasts in [
            ("q3_top_revenue", 0),  # no fixed-size dim in the plan
            ("q5_region_revenue", 2),  # region, nation
            ("q7_shipping_volume", 2),  # nation ×2 (supp/cust legs)
            ("q10_returned_revenue", 1),  # nation
            ("q18_large_orders", 1),  # HAVING survivors
        ]:
            plan = _plan(spark, sf_dir, name)
            # the customer join fell back to a shuffle join...
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
            # ...while exactly the explicitly-hinted sides remain broadcast
            # (== so a stray hint reintroduced on q3's 0 count also fails)
            assert plan.count("BroadcastHashJoin") == hinted_broadcasts, name
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_q3_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_top_revenue")
    assert "TakeOrderedAndProject" in plan
    assert "GlobalSort" not in plan


def test_q2_topk_and_single_fact_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q2_min_cost_supplier")
    # correlated min is a window over the cost aggregate, top-100 bounded
    assert "TakeOrderedAndProject" in plan
    assert "GlobalSort" not in plan
    # lineitem is scanned exactly once (cost relation); part twice (semi
    # filter + attribute join) is fine — it's the small side
    assert plan.count("lineitem.parquet") == 1


def test_q11_reused_exchange_no_supplier_hint(spark, sf_dir):
    """The grand total aggregates the SAME per-part frame the output reads:
    Spark must deduplicate that shuffle (ReusedExchange), never re-scan
    lineitem, and never single-partition a whole-frame window over the
    scale-proportional per-part frame. The nation-filtered supplier slice
    is scale-proportional so it must NOT be pinned broadcast."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _final_plan(spark, sf_dir, "q11_important_stock")
        assert "ReusedExchange" in plan or plan.count("lineitem.parquet") == 1
        assert "Window" not in plan
        # the 1-row totals ride a broadcast cross join (no equi-key)
        assert "BroadcastNestedLoopJoin" in plan
        # only the 25-row nation dim is hash-join-hinted; the supplier semi
        # join degrades to a shuffle join when auto-broadcast is off
        assert plan.count("BroadcastHashJoin") == 1
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_ts_features_single_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ts_features")
    # one shuffle by ticker key feeds every window frame
    assert plan.count("Exchange hashpartitioning") == 1


def test_dup_span_stats_no_span_window(spark, sf_dir):
    """r08: corpus span counts are a mergeable per-span hash aggregate
    joined back (AQE-skew-splittable) — a mega-frequent span no longer
    buffers in one window task. The count branch re-derives the span
    stream (second row-local tokenize pass: the documented trade)."""
    import re

    plan = _plan(spark, sf_dir, "dup_span_stats")
    assert not re.search(r"Window \[[^\n]*\bs\b", plan)
    assert "partial_count" in plan
    assert plan.count("documents.parquet") == 2


def test_unigram_prob_single_scan(spark, sf_dir):
    # the corpus total is a 1-row aggregate over the SAME doc-level frame
    # the output reads (broadcast cross join): AQE's exchange reuse must
    # execute the LM 'training' subtree once — never a second corpus scan,
    # and never the partition-less Window this replaced (r06 weak item),
    # which funneled every doc row through one task
    plan = _final_plan(spark, sf_dir, "unigram_prob")
    assert "ReusedExchange" in plan
    assert plan.count("documents.parquet") == 1
    # the tok-partitioned LM window stays; no window may ride a
    # single-partition exchange (that was the r06 weak shape)
    import re

    assert not re.search(
        r"Window .*\n(?:[\s+:|-]*Sort .*\n)?[\s+:|-]*Exchange SinglePartition",
        plan,
    )
    assert "BroadcastNestedLoopJoin" in plan


def test_no_whole_frame_window_over_unbounded_rows(spark, sf_dir):
    """Registry-wide pin: no query may push an UNBOUNDED relation through a
    partition-less Window (all rows → ONE task — the r06 unigram_prob weak
    item). Queries where a whole-frame window IS safe are enumerated with
    the reason their windowed relation is bounded."""
    bounded_ok = {
        # window runs over the distinct-length histogram (≤ |distinct lengths|)
        "doc_length_quantiles",
        # window runs over the |sources|-row aggregate (≤ ~10 rows)
        "mixture_weights",
        "mixture_resample",
        # rank window runs after per-group limit k
        "vocab_topk",
        # window over per-(series) aggregate of fixed macro registry
        "connector_macro_summary",
        # percent_rank over the 1-row-per-(type) percentile aggregate
        "value_percentiles_by_type",
        # index-return lag window runs over the per-day aggregate
        # (≤ |calendar days| rows — bounded by the calendar, not the corpus)
        "rolling_beta",
        # cutoff windows run over the log-prob-grid histogram (≤
        # PPLX_LOG_SCALE·ln(corpus tokens) rows — logarithmic in corpus)
        "perplexity_buckets",
        # picked-width min window runs over the |LRW_WIDTHS|-row (=7)
        # per-width aggregate — bounded by the candidate grid, not the
        # corpus or the vocabulary
        "lr_width_pick",
    }
    import re

    # a Window whose (possibly Sort-interposed) child is a SinglePartition
    # exchange routes EVERY input row through one task
    single_part_window = re.compile(
        r"Window .*\n(?:[\s+:|-]*Sort .*\n)?[\s+:|-]*Exchange SinglePartition"
    )
    flagged = []
    for name in QUERIES:
        df = QUERIES[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if single_part_window.search(plan) and name not in bounded_ok:
            flagged.append(name)
    assert flagged == [], f"partition-less Window in: {flagged}"


def test_atr_obv_single_user_exchange(spark, sf_dir):
    # the explicit repartition(user_id) must be the ONLY shuffle: bar
    # tagging (user_id, day), the bar groupBy, and every per-user window
    # all ride the same user-hash exchange (subset-clustering satisfaction)
    for name in ("atr_14", "obv"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("Exchange") == 1, f"{name}: expected 1 exchange"
        assert "REPARTITION_BY_COL" in plan


def test_rolling_beta_one_fact_scan(spark, sf_dir):
    # the index side re-derives daily bars from the same events subtree;
    # AQE exchange reuse must collapse that to ONE fact scan — the only
    # other exchanges run over the bounded per-(user,day) bar / per-day
    # index aggregates, and the index joins back as a broadcast
    plan = _final_plan(spark, sf_dir, "rolling_beta")
    assert plan.count("events.parquet") == 1
    assert "ReusedExchange" in plan
    assert "BroadcastExchange" in plan


def test_weekly_bars_single_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "weekly_bars")
    # the OHLC groupBy reuses the window's (user_id, week) partitioning —
    # projecting the bar key before the window is what makes the attributes
    # identical; a second exchange here means that projection regressed
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Scan parquet") == 1


def test_bars_4h_single_exchange_pruned_scan(spark, sf_dir):
    """The generic `resample_bars` (N-second flavor) keeps weekly_bars'
    contract: both row_number windows and the OHLC groupBy share ONE
    (user_id, bar_ts) exchange, the whole plan stays JVM-side (zero
    Python nodes), and column pruning reaches the scan — the operator
    projects the bar key FIRST, so unused event columns (event_type,
    props) never leave the parquet reader."""
    plan = _plan(spark, sf_dir, "bars_4h")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange") == 1  # no round-robin/range sneaking in
    assert plan.count("Scan parquet") == 1
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "value" in read_schema
    assert "props" not in read_schema and "event_type" not in read_schema


def test_rsi_bars_4h_two_exchanges_one_fold(spark, sf_dir):
    """The fold-family escape hatch composes exactly two exchanges: the
    resample's (user_id, bar_ts) shuffle and the fold's explicit
    REPARTITION_BY_NUM on user_id (the AQE-coalescing pin —
    `grouped._fold_partitions`); exactly ONE grouped-map node; one fact
    scan. A third exchange means the fold stopped reusing the
    repartition's clustering; a missing REPARTITION_BY_NUM means the
    pin regressed to AQE byte-coalescing."""
    plan = _plan(spark, sf_dir, "rsi_bars_4h")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "REPARTITION_BY_NUM" in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert plan.count("Scan parquet") == 1


def test_media_vorbis_id_map_only(spark, sf_dir):
    """The Vorbis id-header query is a pure map pipeline: synthetic
    generator -> feature extraction, each a MapInPandas, with NO exchange
    anywhere — per-blob byte parsing must never induce a shuffle."""
    plan = _plan(spark, sf_dir, "media_vorbis_id")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 2
    assert "CartesianProduct" not in plan


def test_media_aac_id_map_only(spark, sf_dir):
    """The MP4/AAC AudioSpecificConfig query has the same contract as its
    OGG/Vorbis twin: two MapInPandas, zero exchanges."""
    plan = _plan(spark, sf_dir, "media_aac_id")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 2
    assert "CartesianProduct" not in plan


def test_media_h264_sps_map_only(spark, sf_dir):
    """The H.264 SPS query: same map-only contract as the other codec
    id-header queries."""
    plan = _plan(spark, sf_dir, "media_h264_sps")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 2
    assert "CartesianProduct" not in plan


def test_media_opus_id_map_only(spark, sf_dir):
    """The OpusHead query: same map-only contract as the other codec
    id-header queries."""
    plan = _plan(spark, sf_dir, "media_opus_id")
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 2
    assert "CartesianProduct" not in plan


def test_max_drawdown_single_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "max_drawdown")
    # running-peak window and the per-user min share one user_id exchange
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Scan parquet") == 1


def test_q1_aggregation_is_map_side_combined(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "partial_sum" in plan  # partial agg precedes the exchange


def test_scans_push_filters_and_prune_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    # projection reaches the scan: only the needed lineitem columns are read
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema


def test_q4_semi_join_never_inner_duplicates(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q4_order_priority")
    assert "LeftSemi" in plan
    # the returnflag predicate reaches the lineitem scan
    assert "EqualTo(l_returnflag,R)" in plan


def test_q18_preaggregates_before_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q18_large_orders")
    # the HAVING reduction must run on lineitem alone, upstream of any join:
    # the aggregate appears on the build side of the orders join
    agg_pos = plan.index("HashAggregate")
    join_pos = plan.index("BroadcastHashJoin")
    assert agg_pos is not None and join_pos is not None
    assert "SortMergeJoin" not in plan


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "range_join_nearby")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the |Δt| predicate rides the hash join as a residual condition
    assert "HashJoin" in plan


def test_rollup_is_single_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "event_rollup_day")
    # grouping sets expand in one Expand + one agg pipeline, not one scan
    # per grouping level
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_mixture_weights_single_scan_broadcast_scalar(spark, sf_dir):
    plan = _plan(spark, sf_dir, "mixture_weights")
    # one scan feeds the per-source agg; the corpus totals come from a
    # whole-frame window over that tiny aggregate (one row per source),
    # never a second scan+tokenize of documents and never a driver collect
    assert plan.count("Scan parquet") == 1
    assert "Window" in plan
    assert "CollectLimit" not in plan


def test_cohort_retention_no_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cohort_retention")
    # cohort assignment joins back on user_id as an equi hash join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_user_setops_single_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "user_setops")
    # same-table set algebra: one scan + membership flags, not one
    # scan per INTERSECT/EXCEPT leg (the literal formulation reads 8x)
    assert plan.count("Scan parquet") == 1


def test_cube_is_single_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "event_cube")
    # all 4 grouping sets from one Expand + one agg pipeline — never one
    # scan per lattice level
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_topn_per_group_no_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topn_orders_per_customer")
    # rank window: one hash exchange on the group key + per-partition sort;
    # a global sort would show as Exchange rangepartitioning
    assert "rangepartitioning" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "WindowGroupLimit" in plan  # rank<=3 pushed below the window sort


def test_trailing_range_sum_single_window_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "trailing_7d_sum")
    # the RANGE frame is one window operator over one exchange — no
    # self-join, no spine
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_sequence_packing_single_window_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sequence_packing")
    # prefix-sum placement: one exchange on the shard key, no joins, no
    # Python (packing math stays in codegen)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "Python" not in plan and "FlatMap" not in plan


def test_gap_fill_spine_join_is_hash(spark, sf_dir):
    plan = _plan(spark, sf_dir, "gap_fill_ffill")
    # spine ⋈ daily is an equi hash join (never nested-loop), and the fill
    # is a window pass — no collect anywhere in the plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_doc_repetition_shuffle_free_map_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "doc_repetition")
    # every metric is doc-local (gram counts never cross documents), so the
    # plan must be ONE map-only pass: one scan, ZERO exchanges (the r11
    # rewrite retired a tagged-gram explode that shuffled O(corpus grams)
    # of string keys twice), no join, no Python
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_cosine_neardup_is_distributed_block_pair(spark, sf_dir):
    plan = _plan(spark, sf_dir, "embedding_neardup")
    # the exact all-pairs score runs as a cogrouped Arrow block-matmul over
    # hash-blocked tiles — fully distributed, nothing collected to the
    # driver, no nested-loop join materializing the pair space row-by-row
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # both replication joins are broadcast joins against the tiny tile table
    assert plan.count("BroadcastHashJoin") >= 2


def test_lsh_pairs_scan_documents_once(spark, sf_dir):
    # one-pass bucket pair generation: the md5-shingle signature pipeline
    # (and thus the documents scan) is evaluated exactly once — a band
    # self-join would scan twice
    plan = _plan(spark, sf_dir, "minhash_lsh_pairs")
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan


def test_ngram_block_join_is_equi(spark, sf_dir):
    # the MinHash block key keeps the pair join an equi join — a
    # low-cardinality block would still be equi, but a missing/constant key
    # degenerates to a nested-loop cross product, which this pins out
    plan = _plan(spark, sf_dir, "ngram_jaccard_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_topk_no_global_sort(spark, sf_dir):
    # per-doc window top-k sorts within partitions; a global range sort
    # (Exchange rangepartitioning) would serialize the corpus
    plan = _plan(spark, sf_dir, "tfidf_topk")
    assert "Exchange rangepartitioning" not in plan


def test_length_quantiles_single_lazy_plan(spark, sf_dir):
    # the corpus total rides as a broadcast 1-row cross join inside ONE lazy
    # plan — the histogram feeds both the cumulative window and the total,
    # with no mid-plan collect forcing a separate job
    df = QUERIES["doc_length_quantiles"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_new_tpch_shapes_semi_anti_outer(spark, sf_dir):
    """Round-2 TPC-H additions: the join *kinds* are the point of each query
    — pin them. q13's priority filter must ride the join condition (a WHERE
    would kill the zero-order bucket and silently turn the outer join
    inner); q16/q22 exclude via anti join; q20 collapses through semi
    joins; q21 must NOT self-join lineitem (the EXISTS/NOT-EXISTS pair is
    rewritten as one per-order aggregate, so exactly one lineitem scan)."""
    plan13 = _plan(spark, sf_dir, "q13_order_distribution")
    assert "LeftOuter" in plan13
    plan16 = _plan(spark, sf_dir, "q16_part_supplier")
    assert "LeftAnti" in plan16
    plan20 = _plan(spark, sf_dir, "q20_excess_suppliers")
    assert "LeftSemi" in plan20
    plan21 = _plan(spark, sf_dir, "q21_late_suppliers")
    assert plan21.count("lineitem.parquet") == 1
    plan22 = _plan(spark, sf_dir, "q22_dormant_customers")
    assert "LeftAnti" in plan22


def test_fact_fact_joins_carry_no_forced_broadcast(spark, sf_dir):
    """q12 (orders⋈lineitem) and q13 (customer⋈orders) join two
    scale-proportional tables: with auto-broadcast disabled both must
    degrade to a shuffle join, proving neither side is pinned into executor
    memory by a hint."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ("q12_ship_priority", "q13_order_distribution"):
            plan = _plan(spark, sf_dir, name)
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
            assert "BroadcastHashJoin" not in plan, name
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_part_supplier_joins_carry_no_forced_broadcast(spark, sf_dir):
    """part and supplier are scale-proportional (200k / 10k × SF rows): the
    queries joining them must not pin them into executor memory with a
    broadcast hint — same policy as the customer joins. With auto-broadcast
    disabled the remaining BroadcastHashJoins must be exactly the
    fixed-size hinted sides (q8's ≤25-row nation⋈region membership list,
    q18-style survivor sets), everything else degrading to shuffle joins."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        for name, hinted_broadcasts in [
            ("q14_promo_revenue", 0),
            ("q15_top_supplier", 1),  # the 1-row max-revenue scalar
            ("q19_disjunctive_revenue", 0),
            ("q8_market_share", 1),  # nation⋈region membership (≤25 rows)
            ("q9_profit", 0),
            ("q16_part_supplier", 0),
            ("q17_small_qty_revenue", 0),
            ("q20_excess_suppliers", 0),
            ("q21_late_suppliers", 0),
        ]:
            plan = _plan(spark, sf_dir, name)
            assert plan.count("BroadcastHashJoin") == hinted_broadcasts, name
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_decontaminate_probe_carries_no_forced_broadcast(spark, sf_dir):
    """The eval-set gram table must NOT be pinned into executor memory by a
    broadcast hint — eval suites grow, and AQE cannot demote a hinted
    broadcast (10× probe: hinted 16.9 s vs AQE-decided 2.1 s). With
    auto-broadcast disabled the gram join must degrade to a shuffle join,
    proving the hint is absent."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, sf_dir, "decontaminate_overlap")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_ivf_index_probe_prunes_cell_partitions(spark, sf_dir):
    """The materialized-index probe must read cells/ with dynamic partition
    pruning driven by the probe side: the scan's PartitionFilters carry a
    `dynamicpruning` subquery on `cell`, so only ~nprobe/nlist of the
    index's partitions are opened at runtime. A plan that scans every cell
    partition (no pruning expression) silently degrades to a full index
    scan."""
    df = QUERIES["ann_topk_ivf_probe"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan
    assert "CartesianProduct" not in plan


def test_ivf_topk_probe_join_is_hash_not_cartesian(spark, sf_dir):
    """The IVF probe path's whole point is replacing the brute-force
    crossjoin: the probe⋈corpus join must be an equi hash join on `cell`.
    The only nested-loop joins allowed are the two broadcast 1-row quantizer
    attachments; a CartesianProduct anywhere means the cell equi-join was
    lost."""
    plan = _plan(spark, sf_dir, "ann_topk_ivf")
    assert "CartesianProduct" not in plan
    assert (
        "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
        or "SortMergeJoin" in plan
    )
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_pq_probe_lut_broadcast_is_batch_conditional(spark, sf_dir):
    """r14 VERDICT item 3: the ADC probes' query-proportional frames
    (probes, dot LUT) must be broadcast ONLY while the batch provably fits
    the broadcast budget — never unconditionally pinned.

    (a) At bench batch sizes (10 queries ≪ cap) the hint must be PRESENT:
    the serving plan keeps its zero-corpus-exchange shape — 3 broadcast
    joins (probes, dot LUT, norm LUT), dynamic partition pruning on the
    codes scan, no sort-merge join, and exactly the fold-agg + window
    exchanges (any third exchange means a corpus-side LUT shuffle crept
    back in).

    (b) With the broadcast budget disabled (the over-cap proxy: cap_q
    drops to 0, exactly what a huge caller batch produces) the
    query-proportional hints must VANISH — those joins degrade to shuffle
    joins, only the constant-size codebook norm-LUT hint survives — and
    the probe must still answer with identical rows."""
    df = QUERIES["ann_topk_pq_probe"].fn(spark, sf_dir)
    want = sorted(tuple(r) for r in df.collect())
    plan = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "dynamicpruning" in plan
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 2

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        df2 = QUERIES["ann_topk_pq_probe"].fn(spark, sf_dir)
        got = sorted(tuple(r) for r in df2.collect())
        plan2 = df2._jdf.queryExecution().executedPlan().toString().split(
            "== Initial Plan =="
        )[0]
        # the surviving hints are exactly the two codebook-constant frames:
        # cents (the per-query LUT build join on s) and the norm LUT
        assert plan2.count("BroadcastHashJoin") == 2
        assert "SortMergeJoin" in plan2 or "ShuffledHashJoin" in plan2
        assert got == want
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_broadcast_threshold_parser(spark):
    """The batch-cap arithmetic rides on the session threshold; pin it
    against the byte strings Spark accepts, and check that Spark itself
    rejects the malformed ones before they can reach the cap."""
    import pytest
    from pyspark.errors import IllegalArgumentException

    from multi_source_financial_data_pipeline_spark.operators.similarity import (
        _broadcast_bytes_threshold,
    )

    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key, None)
    if orig is None:
        assert _broadcast_bytes_threshold(spark) == 10 << 20  # Spark's default
    try:
        for raw, want in [
            ("10485760", 10485760),
            ("10MB", 10 << 20),
            ("10mb", 10 << 20),
            ("512k", 512 << 10),
            ("1g", 1 << 30),
            ("1tb", 1 << 40),
            ("2pb", 2 << 50),
            ("100b", 100),
            ("-1", 0),
        ]:
            spark.conf.set(key, raw)
            assert _broadcast_bytes_threshold(spark) == want, raw
        spark.conf.set(key, "1tb")
        for raw in ["10 megabytes", "0.5g"]:
            with pytest.raises(IllegalArgumentException, match="INVALID_CONF_VALUE"):
                spark.conf.set(key, raw)
            assert _broadcast_bytes_threshold(spark) == 1 << 40, raw
    finally:
        if orig is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, orig)


def test_small_query_batch_memoizes_count_job(spark, sf_dir, monkeypatch):
    """r15 VERDICT item 7: a serving loop re-probing the SAME batch plan
    must pay the bounded LIMIT-capped count job once, not per probe call.
    First call populates the memo; the second is answered from it — pinned
    by making any further count() raise."""
    from pyspark.sql import functions as F

    from multi_source_financial_data_pipeline_spark.operators import similarity

    q = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    similarity._SMALL_BATCH_MEMO.clear()
    assert similarity._small_query_batch(q, 128) is True
    assert len(similarity._SMALL_BATCH_MEMO) == 1

    def _boom(self):
        raise AssertionError("count() re-ran for a memoized batch plan")

    # patch the CONCRETE class (pyspark 4's classic DataFrame overrides
    # count; patching the pyspark.sql.DataFrame base would be a no-op)
    monkeypatch.setattr(type(q), "count", _boom)
    assert similarity._small_query_batch(q, 128) is True
    # a different LUT geometry is a different decision: memo must miss
    # (and with count() patched to raise, that miss must surface)
    import pytest

    with pytest.raises(AssertionError, match="re-ran"):
        similarity._small_query_batch(q, 64)
    # r16 ADVICE: the verdict must not survive unbounded reuse — after
    # _SMALL_BATCH_RECHECK answered-from-memo calls the entry expires and
    # the next call must RE-PROVE the budget (here: detonate on count).
    # One reuse was already spent above, so drain the remainder.
    entry_budget = similarity._broadcast_bytes_threshold(spark)
    entry = similarity._SMALL_BATCH_MEMO[(q.semanticHash(), 128, entry_budget)]
    for _ in range(entry[1]):
        assert similarity._small_query_batch(q, 128) is True
    with pytest.raises(AssertionError, match="re-ran"):
        similarity._small_query_batch(q, 128)
    # the eager hook empties the memo outright
    similarity.clear_small_batch_memo()
    assert similarity._SMALL_BATCH_MEMO == {}


def test_bollinger_rsi_single_exchange(spark, sf_dir):
    """Both band/RSI plans stack every window frame on ONE user-key
    partitioning — a second exchange means the lag and rolling windows
    stopped sharing their sort."""
    for name in ("bollinger_bands", "rsi_14"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("Exchange hashpartitioning") == 1, name
        assert plan.count("events.parquet") == 1, name


def test_bigram_prob_single_scan(spark, sf_dir):
    """Corpus bigram counts come from windows over the (doc, gram)
    aggregate — never a second tokenize of documents."""
    plan = _plan(spark, sf_dir, "bigram_prob")
    assert plan.count("documents.parquet") == 1


def test_quality_filter_funnel_single_scan_single_exchange(spark, sf_dir):
    """All per-doc flags are computed in-row on one scan; the only shuffle
    is the per-fp hash aggregate whose min(struct) carries the canonical
    member's flags (r08: the fp min-WINDOW this replaces buffered the
    largest duplicate group in one task; the agg state is constant)."""
    plan = _plan(spark, sf_dir, "quality_filter_funnel")
    assert plan.count("documents.parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert "partial_min" in plan


def test_chunk_boilerplate_no_fp_window(spark, sf_dir):
    """r08: boilerplate detection is a per-fp min/max(doc_id) hash agg
    (constant state) joined back on fp — a mega-frequent chunk streams
    through the join (AQE can skew-split it) instead of buffering in one
    window task. One scan of documents; no Window over fp."""
    import re

    plan = _plan(spark, sf_dir, "chunk_boilerplate")
    # two scans are DELIBERATE: the spread branch re-tokenizes (row-local,
    # perfectly parallel) rather than share an unprunable exchange; what
    # must NOT appear is any Window over fp (the unbounded buffer)
    assert plan.count("documents.parquet") == 2
    assert not re.search(r"Window \[[^\n]*\bfp\b", plan)
    assert "partial_min" in plan and "partial_max" in plan
    # r11: each branch tokenizes ONCE per doc (split appears exactly once
    # per scan, in the Generate's child projection); the chunk expressions
    # slice the materialized __toks attribute, so chunking is O(doc), not
    # O(doc²/width) — a split() above the Generate means per-chunk
    # re-tokenization regressed (the pre-r11 shape could not finish a
    # 1080-token-doc corpus that the attribute-slicing shape does in ~6 s)
    assert plan.count("split(text") == 2
    # and the token array never rides a shuffle: no __toks past any exchange
    for seg in plan.split("Exchange")[1:]:
        first_line = seg.splitlines()[0]
        assert "__toks" not in first_line


def test_minhash_accuracy_scan_bound(spark, sf_dir):
    """Pairs come from the one-scan bucket pipeline; each payload side adds
    ONE more linear scan (in-row signatures, no second signature shuffle):
    exactly 3 documents scans, no nested-loop joins."""
    plan = _plan(spark, sf_dir, "minhash_accuracy")
    assert plan.count("documents.parquet") == 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_single_assign_cell_local_screen(spark, sf_dir):
    """The SemDeDup screening is ONE pass: the CORPUS is scanned exactly
    once (r06 VERDICT item 6: the old cell-equi anti-join evaluated the
    assign subtree twice), the per-cell pair scoring is a single
    FlatMapGroupsInPandas after one hash shuffle on cell, and nothing
    goes all-pairs. The r09 two-level quantizer adds THREE quantizer-side
    scans (supers ×2 + seeds), every one carrying a pushed
    `vec_id < nlist` filter — tiny index-build reads, never a second
    corpus pass — and each rides a 1-row broadcast (supers row twice,
    the per-super seed-groups row once)."""
    plan = _plan(spark, sf_dir, "semdedup_kept")
    assert "CartesianProduct" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    # exactly ONE scan without a vec_id pushdown — the corpus pass
    assert (
        plan.count("embeddings.parquet") - plan.count("LessThan(vec_id") == 1
    )
    assert plan.count("LessThan(vec_id") == 3  # filter-pushed seed scans
    assert plan.count("BroadcastNestedLoopJoin") == 3  # three 1-row joins
    assert plan.count("Exchange hashpartitioning") == 1  # the cell shuffle


def test_semdedup_probe_single_cells_scan(spark, sf_dir):
    """The probe variant reads the materialized inverted lists ONCE and
    never touches the source embeddings or the quantizer."""
    plan = _plan(spark, sf_dir, "semdedup_kept_probe")
    assert plan.count("cells") >= 1
    assert "embeddings.parquet" not in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_kmv_rank_filter_compiles_to_group_limit(spark, sf_dir):
    """The k-minimum filter must push below the window exchange: only k
    hashes per type survive each map partition (WindowGroupLimit), so the
    sketch branch never shuffles full cardinality; the exact-count branch
    reuses the distinct exchange instead of re-scanning the fact."""
    plan = _final_plan(spark, sf_dir, "kmv_distinct")
    assert "WindowGroupLimit" in plan
    assert "ReusedExchange" in plan
    assert plan.count("events.parquet") == 1


def test_dsir_one_scan_totals_reuse(spark, sf_dir):
    """DSIR: one documents scan — bucket marginals are window sums over the
    doc-bucket exchange (never a corpus re-aggregation) and the 1-row
    totals branch reuses the same exchange (the q_unigram_prob shape)."""
    plan = _final_plan(spark, sf_dir, "dsir_weights")
    assert plan.count("documents.parquet") == 1
    assert "ReusedExchange" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row totals cross join
    assert "SortMergeJoin" not in plan


def test_sq8_dequant_is_row_local(spark, sf_dir):
    """The SQ8 round-trip never shuffles the corpus: dim stats broadcast
    back as a 1-row nested-loop (bounded by EMB_DIM), the quantize/dequant
    transform stays row-local, no Python anywhere."""
    plan = _plan(spark, sf_dir, "sq8_recall")
    assert "Python" not in plan and "FlatMap" not in plan
    assert "CartesianProduct" not in plan


def test_macd_single_grouped_map(spark, sf_dir):
    plan = _plan(spark, sf_dir, "macd_last")
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert plan.count("Exchange hashpartitioning") == 1  # the key shuffle


def test_bucketed_revenue_join_no_exchange_below_join(spark, sf_dir):
    """The registered bucketed query must actually take the co-located
    path: with broadcast disabled, the fact-fact join is a SortMergeJoin
    with NO exchange below it (bucket layout satisfies distribution AND
    ordering); the only shuffle in the whole plan is the final groupBy."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(spark, sf_dir, "bucketed_revenue")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # groupBy only
    assert "BroadcastExchange" not in plan
    assert plan.count("SelectedBucketsCount") == 2  # both scans bucketed


def test_cluster_best_doc_mergeable_agg(spark, sf_dir):
    """r08 rewrite: winner + quality ride ONE max(struct) hash aggregate
    with map-side partial combine (constant state per cluster — immune to
    mega-clusters), member count alongside; no Window over the cluster key
    at all, one exchange on it."""
    plan = _plan(spark, sf_dir, "cluster_best_doc")
    assert plan.count("Exchange hashpartitioning(canonical_id") == 1
    import re

    # no Window node may partition by the cluster key anywhere in the plan
    assert not re.search(r"Window \[[^\n]*canonical_id", plan)
    assert "partial_max" in plan and "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_source_kl_single_text_scan(spark, sf_dir):
    """The gram subtree (explode+hash of the text column) must have ONE
    consumer: exactly one scan reads text; the dense-grid source spine is
    column-pruned to the source column only (trivial IO at any scale)."""
    import re

    plan = _plan(spark, sf_dir, "source_kl")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert sum("text" in s for s in schemas) == 1, schemas
    assert any(s == "source:string" for s in schemas), schemas


def test_ngram_novelty_single_scan_linear(spark, sf_dir):
    """One documents scan, three linear shuffles (doc-gram distinct, gram
    window, doc rollup) — no join, no pair space, nothing re-evaluated."""
    plan = _plan(spark, sf_dir, "ngram_novelty")
    assert plan.count("documents.parquet") == 1
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 3


def test_round7_late_additions_shapes(spark, sf_dir):
    """Compact pins for the wave-5 queries: readability is a pure map
    (no exchange at all); seasonal_mase rides the single _daily_bars user
    exchange; containment_pairs never goes cartesian; cusum_drift (rewritten
    r09 onto the JVM prefix-sum identity) has NO grouped-map node — both
    windows and the final per-user aggregate ride ONE user_id exchange;
    equi_depth_bins_ntile reuses the ntile window's type partitioning for
    its groupBy (one exchange)."""
    plan = _plan(spark, sf_dir, "readability")
    assert "Exchange" not in plan and "Join" not in plan

    plan = _plan(spark, sf_dir, "seasonal_mase")
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan

    plan = _plan(spark, sf_dir, "containment_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = _plan(spark, sf_dir, "cusum_drift")
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window ") == 2
    assert plan.count("events.parquet") == 1

    plan = _plan(spark, sf_dir, "equi_depth_bins_ntile")
    assert plan.count("Exchange hashpartitioning") == 1


def test_equi_depth_bins_histogram_shape(spark, sf_dir):
    """r07 weak-item fix: the primary equi-depth query never sorts raw rows
    per type. One fact scan feeding a mergeable (type, value) partial hash
    aggregate; the cum/total windows and the bin groupBy run over the
    grid-bounded histogram; no ntile anywhere."""
    plan = _plan(spark, sf_dir, "equi_depth_bins")
    assert plan.count("events.parquet") == 1
    assert "ntile" not in plan
    # hist shuffle + final (type, bin) groupBy — both over bounded frames
    assert plan.count("Exchange hashpartitioning") == 2
    # the scan's immediate consumer is the partial (type, value) aggregate:
    # no row ever reaches a Window/Sort without being aggregated first
    import re

    m = re.search(
        r"HashAggregate\(keys=\[event_type\S* knownfloatingpointnormalized"
        r"\(normalizenanandzero\(value\S*\)\)[^\n]*partial_count",
        plan,
    )
    assert m, "fact scan must feed the partial (type, value) histogram agg"


def test_winsorized_stats_histogram_shape(spark, sf_dir):
    """r07 weak-item fix: no `percentile OVER (PARTITION BY event_type)`
    row buffering. Cutoffs are exact quantile_cont derived from the bounded
    (type, value) histogram via conditional MINs, broadcast back; the
    winsorized mean re-reads the HISTOGRAM (cnt-weighted), never the fact
    rows, and AQE reuses the single histogram exchange for both branches."""
    plan = _final_plan(spark, sf_dir, "winsorized_stats")
    assert "percentile" not in plan
    assert "BroadcastHashJoin" in plan
    # both consumers of the histogram ride ONE exchange over ONE fact scan
    assert "ReusedExchange" in plan
    assert plan.count("events.parquet") == 1


def test_sequence_packing_subsharded(spark, sf_dir):
    """The packing cumsum window partitions by (source, shard) — the md5
    sub-shard keeps any one task's sort at ~1/N of a source's rows (source
    alone is low-cardinality: the r08 de-concentration)."""
    plan = _plan(spark, sf_dir, "sequence_packing")
    assert "shard" in plan
    assert plan.count("Exchange hashpartitioning(source") == 1
    import re

    assert re.search(r"Exchange hashpartitioning\(source\S* shard", plan)


def test_window_partition_key_audit(spark, sf_dir):
    """Registry-wide audit (r07 VERDICT item 4): enumerate EVERY Window in
    every registered query's optimized logical plan and classify its
    partition keys. The r06/r07 weak items were all one shape — a window
    whose partition key has bounded cardinality riding NON-aggregated rows,
    so one task buffers an unbounded share of the data. Rules, in order:

    1. no partition keys → the window input must be an Aggregate (bounded
       by group count, the `doc_length_quantiles` shape);
    2. any partition key in _HIGH_CARD_KEYS → OK (group count grows with
       the data, so per-group size stays bounded);
    3. input contains an Aggregate below the window → OK (the window runs
       over a grouped frame, not raw rows);
    4. input contains a WindowGroupLimit below the window → OK (the rank
       filter pre-prunes each map partition to k rows per group, so the
       window task holds ≤ k·partitions rows per group — bounded);
    5. otherwise the (query, keys) pair must carry an explicit justification
       in _LOW_CARD_RAW_OK — and every justification must still be used,
       so stale entries fail too.

    A new window with an unclassified key shape fails here by design: add
    the key to the table WITH its scale story, or fix the plan.

    KNOWN BLIND SPOT: the audit classifies by key CARDINALITY, not by
    group-size distribution. A high-cardinality key whose group sizes are
    data-dependent and heavy-tailed — duplicate-content fingerprints,
    near-dup cluster ids — still concentrates its hottest group in one
    window task. Those need manual review: prefer a mergeable aggregate
    (min/max/count/max-of-struct) or an AQE-skew-splittable join over any
    window keyed by such a column (the r08 rewrites of chunk_boilerplate,
    quality_filter_funnel, cluster_best_doc, and shard_manifest are the
    worked examples)."""
    import re

    # keys whose distinct count grows with the data — per-group windows
    # parallelize across groups (date-grain columns appear only as SECONDARY
    # keys next to one of these and never alone)
    _HIGH_CARD_KEYS = {
        "user_id", "doc_id", "event_id", "o_custkey", "l_partkey",
        "query_id", "vec_id", "gram", "w1", "tok", "fp", "s",
        "canonical_id", "bucket",
    }
    # low-cardinality partition keys over NON-aggregated input, each with
    # the reason one task per group is still bounded
    _LOW_CARD_RAW_OK = {
        ("equi_depth_bins_ntile", ("event_type",)):
            "documented small-data oracle twin of equi_depth_bins; the "
            "histogram formulation is the registered at-scale primary",
        ("export_shape", ("ticker",)):
            "per-ticker daily OHLCV bars - rows per ticker bounded by the "
            "trading calendar, not the corpus",
        ("sequence_packing", ("source", "shard")):
            "md5 sub-shard of doc_id; N_PACK_SHARDS is the scale knob "
            "grown with the corpus (deterministic re-derivation)",
    }

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    flagged, used = [], set()
    for name, spec in QUERIES.items():
        df = spec.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan()
        for node in walk(plan):
            if node.getClass().getSimpleName() != "Window":
                continue
            parts = node.partitionSpec()
            keys = tuple(
                re.sub(r"#\d+L?", "", parts.apply(i).toString())
                for i in range(parts.size())
            )
            bounded_below = any(
                n.getClass().getSimpleName() in ("Aggregate", "WindowGroupLimit")
                for n in walk(node.child())
            )
            if not keys:
                ok = bounded_below
            elif any(k in _HIGH_CARD_KEYS for k in keys):
                ok = True
            elif bounded_below:
                ok = True
            elif (name, keys) in _LOW_CARD_RAW_OK:
                used.add((name, keys))
                ok = True
            else:
                ok = False
            if not ok:
                flagged.append((name, keys, "agg" if bounded_below else "raw"))
    assert flagged == [], f"unclassified window partition keys: {flagged}"
    stale = set(_LOW_CARD_RAW_OK) - used
    assert stale == set(), f"stale _LOW_CARD_RAW_OK entries: {stale}"


def test_sample_k_per_group_group_limit(spark, sf_dir):
    """The exact-k sampler's rank filter must push below the window
    exchange (WindowGroupLimit): each map partition forwards at most k
    rows per source, so shuffled volume is |sources|·k per partition
    regardless of corpus size; one scan, no join."""
    plan = _plan(spark, sf_dir, "sample_k_per_group")
    assert "WindowGroupLimit" in plan
    assert plan.count("documents.parquet") == 1
    assert "Join" not in plan


def test_shard_manifest_mergeable_agg(spark, sf_dir):
    """r08 fix: the member fingerprint is a constant-state multiset hash
    (sum + xor + count), never a per-shard collect_list — the plan must be
    a plain partial/final HashAggregate pair (ObjectHashAggregate is the
    buffering collect_* path), one scan, no window."""
    plan = _plan(spark, sf_dir, "shard_manifest")
    assert "collect_list" not in plan and "ObjectHashAggregate" not in plan
    assert "partial_" in plan  # map-side combine present
    assert plan.count("documents.parquet") == 1
    assert "Window" not in plan


def test_scd2_single_user_exchange(spark, sf_dir):
    # lag collapse and lead close stack on ONE user-hash exchange
    plan = _plan(spark, sf_dir, "scd2_intervals")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("events.parquet") == 1


def test_window_max_group_share_audit(spark, sf_dir):
    """Registry-wide DATA-DRIVEN window-skew audit (r08 VERDICT item 3):
    the structural audit above classifies partition keys by cardinality
    class, which is blind to heavy-tailed group-size DISTRIBUTIONS — a
    high-cardinality key with one hot group (one user with 10^8 events)
    still funnels that group through a single window task. This audit
    MEASURES: for every Window node in every registered query's optimized
    plan, re-plan the window's child as a DataFrame and compute the
    largest partition-key group's share of the input. A share above
    MAX_SHARE on an input of at least MIN_ROWS rows fails unless the
    (query, keys) pair carries an explicit justification naming either
    the bound that keeps the group benign or the rewrite recipe to apply
    (mergeable agg / AQE-splittable join / md5 sub-shard — the r08
    worked examples). The failure message carries every measured share,
    so the audit EMITS per-key max-share, not a boolean."""
    import re

    from pyspark.sql import DataFrame as PDF
    from pyspark.sql import functions as F

    MAX_SHARE = 0.25
    MIN_ROWS = 5_000

    # (query, keys) pairs whose measured hot-group share exceeds MAX_SHARE
    # at some test SF, each with the reason the share is bounded at scale
    _HOT_SHARE_OK: dict[tuple[str, tuple[str, ...]], str] = {
        ("equi_depth_bins_ntile", ("event_type",)):
            "documented small-data oracle twin; the histogram formulation "
            "is the registered at-scale primary (share ~= 1/|types| by "
            "construction, input IS the full fact table)",
        ("export_shape", ("ticker",)):
            "per-ticker daily OHLCV bars: group rows bounded by the "
            "trading calendar (~250/yr), share ~= 1/|tickers| of a "
            "calendar-bounded frame, never corpus-proportional",
    }

    # window children the audit cannot re-plan standalone, each with the
    # reason the group-size distribution is covered anyway
    _UNMEASURABLE_OK: dict[tuple[str, tuple[str, ...]], str] = {
        ("ann_topk_ivf_probe", ("query_id",)):
            "child carries the dynamic-partition-pruning subquery against "
            "the materialized cell index, which cannot be re-planned "
            "outside its join; the same per-query_id window input shape "
            "(~nprobe/nlist corpus slice per query) IS measured via "
            "ann_topk_ivf / ann_recall_ivf in this audit",
        ("ann_topk_ivf_refined_probe", ("query_id",)):
            "byte-identical probe plan to ann_topk_ivf_probe (only the "
            "persisted quantizer's center VALUES differ), so the same "
            "DPP-subquery limitation and the same measured coverage "
            "apply; refined cells change WHICH ~nprobe/nlist slice each "
            "query scans, not its size class",
        ("ivf_index_upsert_probe", ("query_id",)):
            "byte-identical probe plan to ann_topk_ivf_probe (only the "
            "index CONTENTS differ — maintained by upsert instead of "
            "full build), so the same DPP-subquery limitation and the "
            "same measured coverage apply; the upsert changes which "
            "rows sit in each cell, not the ~nprobe/nlist per-query "
            "slice size class",
        ("ann_topk_pq_rerank", ("query_id",)):
            "same DPP-subquery limitation (the raw-vector fetch is the "
            "pruned cells join), but here the window input is bounded "
            "BY CONSTRUCTION, not by coverage elsewhere: the re-rank "
            "window reads the shortlist equi-join's output, at most "
            "k_short (=RERANK_SHORT) rows per query_id at ANY corpus "
            "size — a constant of the serving configuration, pinned by "
            "the reachability test's exact-cardinality check",
    }

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    measured: dict[tuple[str, tuple[str, ...]], float] = {}
    cache: dict[tuple[str, tuple[str, ...]], tuple[int, int] | None] = {}
    unmeasurable: list[tuple[str, tuple[str, ...], str]] = []
    for name, spec in QUERIES.items():
        df = spec.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan()
        for node in walk(plan):
            if node.getClass().getSimpleName() != "Window":
                continue
            parts = node.partitionSpec()
            keys = tuple(
                re.sub(r"#\d+L?", "", parts.apply(i).toString())
                for i in range(parts.size())
            )
            if not keys:
                continue  # keyless windows: structural audit rule 1
            child = node.child()
            ck = (child.toString(), keys)
            if ck not in cache:
                try:
                    # resolve each partition attribute POSITIONALLY by
                    # exprId (duplicate names after self-joins make
                    # name-based resolution ambiguous), then rename every
                    # column so the groupBy is unambiguous by construction
                    out_attrs = child.output()
                    idxs = []
                    for i in range(parts.size()):
                        expr = parts.apply(i)
                        pos = next(
                            j for j in range(out_attrs.size())
                            if out_attrs.apply(j).exprId().equals(
                                expr.exprId()
                            )
                        )
                        idxs.append(pos)
                    cdf = PDF(
                        spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                            spark._jsparkSession, child
                        ),
                        spark,
                    ).toDF(*[f"c{j}" for j in range(out_attrs.size())])
                    counts = cdf.groupBy(*[f"c{j}" for j in idxs]).count()
                    row = counts.agg(
                        F.sum("count").alias("n"), F.max("count").alias("m")
                    ).first()
                    cache[ck] = (row["n"] or 0, row["m"] or 0)
                except Exception as ex:  # non-attribute key etc.: flag it
                    cache[ck] = None
                    if (name, keys) not in _UNMEASURABLE_OK:
                        unmeasurable.append((name, keys, str(ex)[:100]))
                    continue
            if cache[ck] is None:
                continue
            n, m = cache[ck]
            if n >= MIN_ROWS:
                share = m / n
                prev = measured.get((name, keys), 0.0)
                measured[(name, keys)] = max(prev, share)

    hot = {
        (name, keys): round(share, 3)
        for (name, keys), share in measured.items()
        if share > MAX_SHARE and (name, keys) not in _HOT_SHARE_OK
    }
    report = "; ".join(
        f"{n}{list(k)}={s}" for (n, k), s in sorted(hot.items())
    )
    assert hot == {}, (
        f"window partition keys with hot-group share > {MAX_SHARE} at "
        f"{sf_dir} (add a justification with the scale story or rewrite "
        f"onto a mergeable agg): {report}"
    )
    assert unmeasurable == [], (
        f"window child inputs the audit could not measure: {unmeasurable}"
    )
    stale = {
        k for k in _HOT_SHARE_OK
        if k in measured and measured[k] <= MAX_SHARE
    }
    # a stale entry is not an error at the SMALL default fixture (shares
    # only cross the threshold once groups have enough rows) — but every
    # allowlisted pair must at least exist in the registry
    assert all(k[0] in QUERIES for k in _HOT_SHARE_OK)


def test_grouped_map_max_group_share_audit(spark, sf_dir):
    """Grouped-map (applyInPandas) twin of the window audit above (r10
    VERDICT item 4): Window nodes were measured, but FlatMapGroupsInPandas
    keys were not — and the fold family is MORE skew-sensitive than a
    window, because applyInPandas materializes one key's entire history as
    a single Arrow batch in one Python worker (no sort-spill escape). For
    every FlatMapGroupsInPandas node in every registered query's optimized
    plan, re-plan the node's child and measure (a) the largest group's
    share of the input and (b) the largest group's ABSOLUTE row count
    against the family's hard per-key bound `GROUPED_FOLD_MAX_ROWS` —
    the audit emits both, so a future fold addition with a concentrated
    key fails here with numbers, not in production with an OOM.

    The applyInPandasWithState streaming folds (running_totals /
    scd2_closed_intervals, both keyed on user_id over the event stream)
    cannot be re-planned from their memory-sink read-back, so their key
    distribution is measured directly on the batch source below — same
    data, same key, same bound."""
    import re

    from pyspark.sql import DataFrame as PDF
    from pyspark.sql import functions as F

    from multi_source_financial_data_pipeline_spark.operators.grouped import GROUPED_FOLD_MAX_ROWS
    from multi_source_financial_data_pipeline_spark.sources import load_table

    MAX_SHARE = 0.25
    MIN_ROWS = 5_000

    # (query, keys) pairs above MAX_SHARE, each with the scale story
    _HOT_SHARE_OK: dict[tuple[str, tuple[str, ...]], str] = {}

    def walk(node):
        yield node
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    measured: dict[tuple[str, tuple[str, ...]], tuple[float, int, int]] = {}
    unmeasurable: list[tuple[str, tuple[str, ...], str]] = []
    cache: dict[tuple[str, tuple[str, ...]], tuple[int, int] | None] = {}
    for name, spec in QUERIES.items():
        df = spec.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan()
        for node in walk(plan):
            if node.getClass().getSimpleName() != "FlatMapGroupsInPandas":
                continue
            parts = node.groupingAttributes()
            keys = tuple(
                re.sub(r"#\d+L?", "", parts.apply(i).toString())
                for i in range(parts.size())
            )
            if not keys:
                continue
            child = node.child()
            ck = (child.toString(), keys)
            if ck not in cache:
                try:
                    out_attrs = child.output()
                    idxs = []
                    for i in range(parts.size()):
                        expr = parts.apply(i)
                        pos = next(
                            j for j in range(out_attrs.size())
                            if out_attrs.apply(j).exprId().equals(
                                expr.exprId()
                            )
                        )
                        idxs.append(pos)
                    cdf = PDF(
                        spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                            spark._jsparkSession, child
                        ),
                        spark,
                    ).toDF(*[f"c{j}" for j in range(out_attrs.size())])
                    counts = cdf.groupBy(*[f"c{j}" for j in idxs]).count()
                    row = counts.agg(
                        F.sum("count").alias("n"), F.max("count").alias("m")
                    ).first()
                    cache[ck] = (row["n"] or 0, row["m"] or 0)
                except Exception as ex:
                    cache[ck] = None
                    unmeasurable.append((name, keys, str(ex)[:100]))
                    continue
            if cache[ck] is None:
                continue
            n, m = cache[ck]
            if n > 0:
                prev = measured.get((name, keys), (0.0, 0, 0))
                measured[(name, keys)] = (
                    max(prev[0], m / n), max(prev[1], m), max(prev[2], n)
                )

    # the streaming stateful folds: same key distribution as the batch
    # events table they stream from
    ev = load_table(spark, sf_dir, "events")
    row = (
        ev.groupBy("user_id").count()
        .agg(F.sum("count").alias("n"), F.max("count").alias("m")).first()
    )
    for stream_name in ("stream_running_totals", "stream_scd2_closed"):
        measured[(stream_name, ("user_id",))] = (
            row["m"] / row["n"], row["m"], row["n"]
        )

    # the registered fold family must actually be IN the audit output —
    # an audit that silently measures nothing is the r10 gap all over
    audited_queries = {name for name, _ in measured}
    for expected in (
        "ewma_last", "rsi_14_wilder", "atr_14_wilder", "macd_last",
        "stream_running_totals", "stream_scd2_closed",
    ):
        assert expected in audited_queries, (
            f"{expected} produced no measured grouped-map key "
            f"(plan changed? audit is stale): {sorted(audited_queries)}"
        )

    # MAX_SHARE is only meaningful once groups have enough rows for the
    # ratio to be structural rather than fixture noise
    hot = {
        (name, keys): round(share, 3)
        for (name, keys), (share, _, n) in measured.items()
        if n >= MIN_ROWS and share > MAX_SHARE
        and (name, keys) not in _HOT_SHARE_OK
    }
    report = "; ".join(f"{n}{list(k)}={s}" for (n, k), s in sorted(hot.items()))
    assert hot == {}, (
        f"grouped-map keys with hot-group share > {MAX_SHARE} at {sf_dir} "
        f"(one Arrow batch per key — rewrite onto a window/mergeable agg "
        f"or pre-aggregate via resample_bars): {report}"
    )
    over_bound = {
        (name, keys): rows
        for (name, keys), (_, rows, _n) in measured.items()
        if rows > GROUPED_FOLD_MAX_ROWS
    }
    assert over_bound == {}, (
        f"grouped-map keys above GROUPED_FOLD_MAX_ROWS={GROUPED_FOLD_MAX_ROWS}: "
        f"{over_bound}"
    )
    assert unmeasurable == [], (
        f"grouped-map child inputs the audit could not measure: {unmeasurable}"
    )
    assert all(k[0] in QUERIES for k in _HOT_SHARE_OK)


def test_pq_index_probe_prunes_cell_partitions_and_runs_no_training(
    spark, sf_dir, monkeypatch
):
    """The materialized IVF-PQ probe (r13 VERDICT item 2) must (a) read
    codes/ with dynamic partition pruning driven by the probe side — the
    scan's PartitionFilters carry a `dynamicpruning` subquery on
    `ivf_cell`, so only ~nprobe/nlist of the code files are opened — and
    (b) run NO Lloyd iteration: with training monkeypatched to raise, the
    probe must still answer (the index is pre-built, so any training call
    in the serving path would detonate)."""
    from multi_source_financial_data_pipeline_spark.operators import similarity
    from multi_source_financial_data_pipeline_spark.plans import llmdata

    index_dir = llmdata._ensure_pq_index(spark, sf_dir)
    llmdata._ensure_pq_index(
        spark, sf_dir, m=llmdata.PQ256_M, k=llmdata.PQ256_K
    )
    llmdata._ensure_pq_index(spark, sf_dir, residual_refined=True)
    llmdata._ensure_ivf_index(spark, sf_dir, refined=True)
    llmdata._ensure_ivf_index(spark, sf_dir)  # rerank's raw-vector side

    def _no_training(*a, **k):
        raise AssertionError("pq_train_encode invoked in the serving path")

    def _no_refine(*a, **k):
        raise AssertionError("kmeans_centroids invoked in the serving path")

    monkeypatch.setattr(similarity, "pq_train_encode", _no_training)
    # the refined indexes' coarse refinement is training too — the probes
    # must serve from the PERSISTED refined quantizer, never re-refine
    monkeypatch.setattr(similarity, "kmeans_centroids", _no_refine)
    # all four registered serving points run the same Lloyd-free contract:
    # the 4-bit harness twin, the m=16×8-bit production point, the
    # residual-at-refined-centers point (r15 VERDICT item 2), and the
    # refined plain-IVF probe (its leg of the same item)
    for name in (
        "ann_topk_pq_probe",
        "ann_topk_pq256_probe",
        "ann_topk_pq_refined_probe",
        "ann_topk_ivf_refined_probe",
        # r17: the two-stage refine serving point — BOTH stages must be
        # training-free and the raw-vector fetch partition-pruned
        "ann_topk_pq_rerank",
    ):
        df = QUERIES[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan, name
        assert "CartesianProduct" not in plan, name
        assert df.count() > 0, name  # probe ran end-to-end, no training
    assert index_dir  # the build had already happened before the patch


def test_manifest_delta_level2_runs_on_dirty_literals_only(spark, sf_dir):
    """The two-level diff's scale mechanics: the manifest verdict (≤
    N_SHARDS rows) is collected at plan-build time and the dirty-shard
    membership reaches the level-2 scans as a LITERAL filter — so the
    returned plan carries exactly ONE full-outer join (the dirty-fraction
    row diff) and exactly TWO document scans (old/new snapshot legs), no
    semi joins, no cartesian. (As lazy semi joins the manifest aggregate
    recomputed once per consumer — 8 corpus scans vs these 2+2.)"""
    plan = _plan(spark, sf_dir, "manifest_delta")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" not in plan
    assert plan.count("FullOuter") == 1
    assert plan.count("documents.parquet") == 2
    # the dirty membership must be an inlined IN-list literal in the scan
    # filters (an `isin` over collected shard ids) — a join-shaped
    # membership would pass the asserts above while defeating the
    # pushdown. (If the corpus ever produced ZERO dirty shards the filter
    # is a false literal and the scan count would fail first.)
    assert " IN (" in plan


def test_bloom_membership_is_map_only(spark, sf_dir):
    """The whole point of the Bloom prefilter: membership must not JOIN
    against the filter. The only nested-loop join in the plan is the 1-row
    dense-filter broadcast (bounded by m/32 words — a constant from the
    false-positive budget, never by probe-key count), the bit tests are
    plain codegen'd expressions (no higher-order functions — `transform`/
    `aggregate` evaluate interpreted), and no window touches the gram
    stream."""
    plan = _plan(spark, sf_dir, "bloom_decontaminate")
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "Window" not in plan
    assert "transform(" not in plan and "aggregate(" not in plan


def test_snapshot_delta_shuffles_digests_not_payloads(spark, sf_dir):
    """snapshot_diff must prune each side to (key, md5 digest) BEFORE the
    full-outer join: the text payload may appear in scans/projections but
    never in an exchange's output schema — at 100 TB the diff shuffles
    32-char digests, not documents."""
    df = QUERIES["snapshot_delta"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, f"payload in shuffle: {line}"
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    # the delta-dedup composition inherits the same contract: every
    # exchange carries digests/ids only, and neither the index probe nor
    # the min-canonical ever needs a window
    plan = QUERIES["incremental_dedup"].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, f"payload in shuffle: {line}"
    assert "Window" not in plan


def test_quality_classifier_trains_on_materialized_features(spark, sf_dir):
    """The 4-step training loop references the standardized feature frame
    2*steps+1 times (logits + gradient per step, final scoring) and the
    1-row corpus count once per weight update. Both are localCheckpoint'd
    (VERDICT r16 weak item), so the unrolled final plan must read ONLY the
    materialized RDDs: no Generate (the token explode runs exactly once,
    inside the cut) and no parquet re-scan of the corpus."""
    df = QUERIES["quality_classifier"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, "token explode leaked past the lineage cut"
    assert "documents" not in plan, "corpus re-scan leaked past the lineage cut"
    # exactly two materialized inputs: the feature frame + the FINAL model.
    # More means a cut regressed — in particular the per-step model cut,
    # without which the unrolled plan embeds 2^steps copies of the step-0
    # chain (w_i references w_{i-1} twice: update join + gradient logits).
    assert plan.count("Scan ExistingRDD") == 2, plan.count("Scan ExistingRDD")


def test_quality_probe_serves_without_training(spark, sf_dir, monkeypatch):
    """The classifier's serving split (VERDICT r16 item 3) runs the same
    Lloyd-free contract as the ANN probes: with BOTH training entry points
    monkeypatched to raise (the gradient loop and the full train wrapper),
    the probe must still answer from the persisted model — any training
    call in the serving path detonates. And the served scores must be
    byte-identical to the train-inline classifier (shared LR_Q folds)."""
    from multi_source_financial_data_pipeline_spark.operators import text
    from multi_source_financial_data_pipeline_spark.plans import llmdata

    inline = QUERIES["quality_classifier"].fn(spark, sf_dir)
    want = sorted(tuple(r) for r in inline.collect())

    llmdata._ensure_lr_model(spark, sf_dir)  # build before the patch

    def _no_training(*a, **k):
        raise AssertionError("training invoked in the serving path")

    monkeypatch.setattr(text, "_lr_gradient_descent", _no_training)
    monkeypatch.setattr(text, "token_lr_train", _no_training)
    df = QUERIES["quality_classifier_probe"].fn(spark, sf_dir)
    got = sorted(tuple(r) for r in df.collect())
    assert got == want
    # serving stays SPARSE (r17): the scored frame is O(corpus tokens) —
    # exactly one Generate (the token explode) and exactly one
    # BroadcastNestedLoopJoin (the 1-row z0q scalar). The dense
    # corpus × (buckets+1) grid would show a second nested-loop join.
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE echoes both sections
    assert plan.count("Generate") == 1, "serving must tokenize exactly once"
    assert plan.count("BroadcastNestedLoopJoin") == 1, (
        "dense grid leaked into the sparse serving fold"
    )


def test_wide_classifier_serves_without_training_or_count_guard(
    spark, sf_dir, monkeypatch
):
    """`quality_classifier_wide` runs the same Lloyd-free serving
    contract as the narrow probe — training monkeypatched to raise, the
    probe answers from the cached artifact — and serving derives its
    width from the artifact's meta (r17 VERDICT item 7): after the meta
    memo is warm, building the plan runs ZERO Spark jobs (the old
    per-call `model.count()` guard was one per invocation)."""
    from multi_source_financial_data_pipeline_spark.operators import text
    from multi_source_financial_data_pipeline_spark.plans import llmdata

    llmdata._ensure_lr_model(
        spark, sf_dir, buckets=llmdata.LRC_BUCKETS_WIDE
    )  # build + warm the meta memo before the patch
    llmdata._lr_model_buckets(
        spark,
        llmdata._ensure_lr_model(spark, sf_dir, buckets=llmdata.LRC_BUCKETS_WIDE),
    )

    def _no_training(*a, **k):
        raise AssertionError("training invoked in the serving path")

    monkeypatch.setattr(text, "_lr_gradient_descent", _no_training)
    monkeypatch.setattr(text, "token_lr_train", _no_training)

    # the precise r17-item-7 claim: building the serving plan never runs
    # a count() action (the old guard was one per invocation) — patch
    # DataFrame.count itself so any leak detonates
    import pyspark.sql.dataframe as _dfmod

    def _no_count(self):
        raise AssertionError("count() invoked during serving plan build")

    with monkeypatch.context() as m:
        m.setattr(_dfmod.DataFrame, "count", _no_count)
        df = QUERIES["quality_classifier_wide"].fn(spark, sf_dir)
    out = df.toPandas()
    assert len(out) > 0
    # same sparse-serving plan shape as the narrow probe
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Generate") == 1
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_bloom_probe_serves_from_persisted_filter(spark, sf_dir, monkeypatch):
    """The Bloom filter's build/probe split (r17 VERDICT item 4) runs the
    same artifact contract as the PQ probes: with `bloom_build`
    monkeypatched to raise, the probe must answer from the persisted
    4 KB filter — and its rows must equal the measurement harness's
    (doc_id, n_grams, n_bloom_pos) projection exactly (same filter, same
    membership arithmetic). The eval docs' text must not be in the probe
    plan: the only Generate (shingle explode) input is the corpus split."""
    from multi_source_financial_data_pipeline_spark.operators import dedup
    from multi_source_financial_data_pipeline_spark.plans import llmdata

    want = sorted(
        (r["doc_id"], r["n_grams"], r["n_bloom_pos"])
        for r in QUERIES["bloom_decontaminate"].fn(spark, sf_dir).collect()
    )

    llmdata._ensure_bloom_filter(spark, sf_dir)  # build before the patch

    def _no_build(*a, **k):
        raise AssertionError("bloom_build invoked in the serving path")

    monkeypatch.setattr(dedup, "bloom_build", _no_build)
    df = QUERIES["bloom_decontaminate_probe"].fn(spark, sf_dir)
    got = sorted(tuple(r) for r in df.collect())
    assert got == want and len(got) > 0
    # exactly one shingle explode (the corpus side); a second Generate
    # means the eval-set re-shingle leaked back into serving
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Generate") == 1, "eval-set re-shingle leaked into probe"


def test_manifest_probe_never_scans_the_old_corpus(spark, sf_dir):
    """The persisted-manifest probe's whole point: the old snapshot exists
    in the plan ONLY as materialized CDC state. The final plan must carry
    ZERO document-corpus scans (the new side's single payload scan lives
    inside the lineage cut; the old side must not add one), and the old
    digests scan must prune by shard at the FILE level — the dirty literal
    lands in PartitionFilters, not a post-scan Filter. The report itself
    must equal the recompute-both-sides form row for row."""
    probe = QUERIES["manifest_delta_probe"].fn(spark, sf_dir)
    got = sorted(tuple(r) for r in probe.collect())
    want = sorted(
        tuple(r) for r in QUERIES["manifest_delta"].fn(spark, sf_dir).collect()
    )
    assert got == want
    plan = QUERIES["manifest_delta_probe"].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "documents" not in plan, "old-corpus scan leaked into the probe"
    pruned = [
        line for line in plan.splitlines()
        if "PartitionFilters" in line and "shard" in line
    ]
    assert len(pruned) == 1, plan
