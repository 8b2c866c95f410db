"""Physical-plan assertions: the optimizations the 100 TB design relies
on must be visible in the executed/optimized plans, not assumed.
(`explain` checks per the SURVEY build plan step 11: pushdown, pruning,
broadcast, partial aggregation, top-k without a global sort.)"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from salesdata_engineering_spark.registry import QUERIES


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filters_push_to_parquet_scan(spark, sf_dir):
    """Q6-shaped predicate stack: every comparison must reach the scan
    as PushedFilters, and the scan must read only the needed columns."""
    df = QUERIES["filter_range_revenue"].fn(spark, sf_dir)
    plan = plan_of(df)
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_returnflag" not in schema, f"column pruning failed: {schema}"


def test_star_join_uses_broadcast(spark, sf_dir):
    plan = plan_of(QUERIES["join_star_enrich"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # tiny dims must never sort-merge


def test_aggregation_is_partial_then_final(spark, sf_dir):
    """groupBy must plan a map-side partial HashAggregate before the
    exchange — the reason the engine rewrites the reference's
    window+distinct shape (SURVEY §4)."""
    plan = plan_of(QUERIES["pricing_summary"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial_count" in plan


def test_global_topk_avoids_full_sort(spark, sf_dir):
    plan = plan_of(QUERIES["global_topk_orders"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_semi_join_stays_semi(spark, sf_dir):
    plan = plan_of(QUERIES["join_semi_customers_with_orders"].fn(spark, sf_dir))
    assert "LeftSemi" in plan


def test_mart_pipeline_shuffles_aggregated_rows_only(spark, sf_dir):
    """The rank window must re-shuffle the AGGREGATED frame (group
    cardinality), not the raw fact: exactly one exchange below the
    aggregate, windows above it."""
    plan = plan_of(QUERIES["sales_team_mart"].fn(spark, sf_dir))
    assert "Window" in plan and "HashAggregate" in plan
    win_part = plan.index("Window")
    # the aggregate (and its partial half) sit below the window op
    assert "HashAggregate" in plan[win_part:]


def test_whole_stage_codegen_covers_scan_filter_agg(spark, sf_dir):
    df = QUERIES["filter_range_revenue"].fn(spark, sf_dir)
    df.collect()  # AQE: codegen spans appear once the plan is finalized
    plan = plan_of(df)
    # AQE final plans mark whole-stage-codegen stages with "*(n)"
    assert "isFinalPlan=true" in plan and "*(1)" in plan


def test_dimension_prune_pushes_into_scan(spark, tables):
    """Column pruning: selecting 2 of 11 lineitem columns must shrink
    ReadSchema to exactly those."""
    df = tables["lineitem"].select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" in schema and "l_quantity" in schema
    assert "l_extendedprice" not in schema

def test_bucketed_join_skips_shuffle(spark, tables, tmp_path):
    """write_bucketed_table co-locates join keys: a self-equi-join of two
    tables bucketed by the same key into the same bucket count must plan
    ZERO shuffle exchanges — the 100 TB repeated-join layout."""
    import shutil

    from salesdata_engineering_spark.io import write_bucketed_table

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    orders = tables["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        write_bucketed_table(orders, "b_orders_a", ["o_orderkey"], 8)
        write_bucketed_table(
            orders.select("o_orderkey", "o_custkey"), "b_orders_b", ["o_orderkey"], 8
        )
        a, b = spark.table("b_orders_a"), spark.table("b_orders_b")
        with_buckets = a.join(b, "o_orderkey")
        plan = plan_of(with_buckets)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        # same result as the shuffled variant
        assert with_buckets.count() == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders_a")
        spark.sql("DROP TABLE IF EXISTS b_orders_b")
        for t in ("b_orders_a", "b_orders_b"):
            shutil.rmtree(f"{warehouse.removeprefix('file:')}/{t}", ignore_errors=True)


def test_correlated_exists_decorrelates_to_semi_anti(spark, sf_dir):
    """EXISTS / NOT EXISTS must become one semi + one anti join — no
    per-row subquery re-execution survives Catalyst."""
    plan = plan_of(QUERIES["subquery_exists_urgent"].fn(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_interval_join_avoids_nested_loop(spark, sf_dir):
    """The banded rewrite must plan a hash-keyed join — a naive
    inequality join would be BroadcastNestedLoopJoin (O(|L|·|R|))."""
    plan = plan_of(QUERIES["interval_join_click_error"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" in plan


def test_umbrella_predicates_push_to_scan(spark, sf_dir):
    """date_null_predicates: the P5 IN/LIKE/not-null family must reach
    the parquet scan as PushedFilters (In, StringEndsWith/like residual,
    IsNotNull)."""
    plan = plan_of(QUERIES["date_null_predicates"].fn(spark, sf_dir))
    pushed = plan.split("PushedFilters: [")[1].splitlines()[0]
    # (toString elides the tail of long filter lists — assert on the
    # IN-list and LIKE rewrites, which prove the P5 family pushed)
    assert "In(o_orderstatus" in pushed, pushed
    assert "StringEndsWith(o_orderpriority" in pushed, pushed


def test_window_frames_umbrella_shares_sorts(spark, sf_dir):
    """Six window functions over two window specs must plan exactly two
    window sorts (per-customer spec shared by four functions), not one
    per function."""
    plan = plan_of(QUERIES["window_frames_bounded"].fn(spark, sf_dir))
    n_window_ops = plan.count("Window ") + plan.count("RunningWindowFunction")
    n_sorts = plan.count("Sort [")
    assert n_sorts <= 3, f"window specs not shared: {n_sorts} sorts\n{plan[:2000]}"


def test_near_dup_lsh_no_cross_product(spark, sf_dir):
    plan = plan_of(QUERIES["sim_embedding_near_dup"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_single_join_no_window(spark, sf_dir):
    """SCD2 merge must be one full-outer join + unions — no window
    function, no second pass over history."""
    plan = optimized_of(QUERIES["scd2_customer_segments"].fn(spark, sf_dir))
    assert "Window" not in plan, plan[:1500]
    assert plan.count("Join FullOuter") >= 1, plan[:1500]


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """When a selective dim can't broadcast, Spark must inject a runtime
    bloom filter on the fact side of the shuffle join (row-level runtime
    pruning — the 100 TB tool for selective-dim joins too big to
    broadcast). Thresholds are lowered to trigger at test scale."""
    from salesdata_engineering_spark.datasets import load_tables

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        t = load_tables(spark, sf_dir)
        sel = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
        j = t["orders"].join(sel, t["orders"].o_custkey == sel.c_custkey)
        plan = plan_of(j)
        assert "bloom" in plan.lower(), plan[:1500]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_pack_sequences_single_exchange(spark, sf_dir):
    """Sequence packing must be ONE hash shuffle on bucket: the window
    cumsum and the (bucket, seq_id) aggregation share the partitioning;
    a second exchange would mean the groupBy re-shuffled."""
    plan = plan_of(QUERIES["pack_training_sequences"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_contamination_no_cross_product(spark, sf_dir):
    """The contamination scan must stay an equi-join on the gram hash —
    never a cross/nested-loop pairing of train x held-out docs."""
    plan = plan_of(QUERIES["contamination_ngram_overlap"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_repetition_is_shuffle_free(spark, sf_dir):
    """Repetition is strictly per-document, so the plan must be
    partition-local: no exchange beyond the spread() fan-out guard
    (itself a no-op for well-split scans), no token explode, no window
    sort, no aggregate — the whole metric is array expressions."""
    plan = plan_of(QUERIES["text_repetition_score"].fn(spark, sf_dir))
    assert "Generate" not in plan, plan
    assert "Window" not in plan, plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan, plan
    # the only allowed exchange is spread()'s RoundRobin fan-out
    import re

    exchanges = re.findall(r"Exchange \w+", plan)
    assert all("RoundRobin" in e for e in exchanges), plan


def test_tfidf_reuses_tf_exchange(spark, sf_dir):
    """The df (document-frequency) aggregate derives from the SAME
    (doc,term) tf subtree — Spark must reuse that exchange, not tokenize
    and shuffle the corpus twice. One explode, and a ReusedExchange node
    (or at most the two tf/df hash exchanges + the final window's) —
    never two Generate nodes."""
    plan = plan_of(QUERIES["text_tfidf_top_terms"].fn(spark, sf_dir))
    assert plan.count("Generate explode") + plan.count("Generate posexplode") == 1, plan


def test_quantized_topk_plan_shape(spark, sf_dir):
    """Stage 1 must be a broadcast of the tiny query side over the
    corpus scan (never an un-broadcast cartesian), and the re-rank joins
    must stay equi-joins on vec_id/query_id."""
    plan = plan_of(QUERIES["sim_quantized_topk"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin BuildRight" in plan or "BroadcastNestedLoopJoin BuildLeft" in plan, plan


def test_q5_pushdown_and_no_cross(spark, sf_dir):
    """Q5's o_orderdate range must reach the orders parquet scan as a
    pushed filter, and the six-way join must contain no cross product."""
    plan = plan_of(QUERIES["q5_local_supplier_volume"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan


def test_spread_guard_is_noop_when_splits_cover_cores(spark, sf_dir, tmp_path):
    """spread() must add a repartition ONLY for under-partitioned scans:
    with files.maxPartitionBytes shrunk so the same file estimates >=
    cores worth of splits, the plan must come back without an added
    exchange — the guard is what makes spread safe to leave in
    canonical_sales at cluster scale."""
    from salesdata_engineering_spark.ops.partitioning import spread

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert "RoundRobinPartitioning" in plan_of(spread(df)), "small file must spread"

    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        df2 = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        assert "RoundRobinPartitioning" not in plan_of(spread(df2)), (
            "well-split scan must NOT get an extra exchange"
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_spread_inmemory_source_is_noop(spark):
    """A non-file (in-memory) DataFrame through spread() must come back
    unchanged — the guard's fallback for unprobe-able sources is a no-op,
    never an added full round-robin shuffle (review round 4, item 3)."""
    from salesdata_engineering_spark.ops.partitioning import spread

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    out = spread(df)
    assert out is df
    assert "RoundRobinPartitioning" not in plan_of(out)


def test_spread_probe_failure_is_noop(spark, sf_dir):
    """If the split-estimate probe blows up (API drift, unstatable
    paths), spread() must degrade to returning df unchanged."""
    from salesdata_engineering_spark.ops.partitioning import spread

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df.inputFiles = lambda: (_ for _ in ()).throw(RuntimeError("probe drift"))
    assert spread(df) is df


def test_spread_size_conf_parsing():
    """maxPartitionBytes arrives as a size string via the public conf
    API; every spelling Spark accepts must parse."""
    from salesdata_engineering_spark.ops.partitioning import _parse_size

    assert _parse_size("128MB") == 128 << 20
    assert _parse_size("134217728b") == 128 << 20
    assert _parse_size("1g") == 1 << 30
    assert _parse_size(" 512k ") == 512 << 10
    assert _parse_size("1024") == 1024


def test_ivf_quantized_scan_touches_cells_not_corpus(spark, sf_dir):
    """The composed sublinear ANN's stage-1 scoring must be an equi-join
    on cid (probed cells only) — the ONLY nested-loop pair scans allowed
    are the two tiny broadcast-centroid assignments; a third would mean
    the quantized scan regressed to the full |Q| x |C| cross product."""
    plan = plan_of(QUERIES["sim_ivf_quantized_topk"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan
    assert "BroadcastHashJoin [cid#" in plan, plan


def test_rebalance_sources_never_shuffles_corpus(spark, sf_dir):
    """The source-mix gate's scale contract: the corpus rows flow
    scan -> broadcast-join -> filter with NO exchange (only the tiny
    per-source counts aggregate shuffles)."""
    plan = plan_of(QUERIES["sample_rebalance_sources"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    corpus_side = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in corpus_side, corpus_side


def test_q4_exists_is_semi_join_with_pushed_dates(spark, sf_dir):
    """Q4's correlated EXISTS must execute as a LEFT SEMI join (no
    lineitem explosion) with the order-date window pushed to the scan."""
    plan = plan_of(QUERIES["q4_order_priority"].fn(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan


def test_q19_disjunction_stays_equi_join(spark, sf_dir):
    """Q19's OR-of-ANDs predicate must stay a broadcast equi-join on
    p_partkey with the disjunction as a filter/residual — never a
    nested-loop pair scan."""
    plan = plan_of(QUERIES["q19_disjunctive_predicates"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_q15_reuses_revenue_exchange(spark, sf_dir):
    """Q15's revenue view is consumed twice (MAX scalar + equality
    probe): the second consumer must reuse the first's shuffle — one
    lineitem scan, a ReusedExchange (or AQE stage reuse) in the plan."""
    df = QUERIES["q15_top_supplier"].fn(spark, sf_dir)
    df.collect()  # AQE materializes exchange reuse at execution
    plan = plan_of(df)
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, plan


def test_q17_decorrelates_scalar_avg(spark, sf_dir):
    """The correlated scalar AVG subquery (spark.sql form) must be
    decorrelated by Catalyst into an aggregate + join — no nested-loop
    per-row subquery execution, no cartesian."""
    plan = plan_of(QUERIES["q17_small_quantity_revenue"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the decorrelated per-part average shows up as an avg aggregate
    assert "avg(" in plan, plan


def test_q21_correlation_is_shared_exchange_aggregate(spark, sf_dir):
    """r14: Q21's EXISTS / NOT EXISTS double correlation collapses into
    per-order aggregates over the persisted l⨝o frame (guide §2.4 —
    the semi and anti joins each shuffled a FULL extra copy of
    lineitem on l_orderkey; the aggregate answers both correlations
    from the frame the query already built). The plan must show: no
    semi/anti correlation joins left, the persisted frame shared by
    both consumers, the two-level any-late→counts aggregate, and as
    ever no cartesian."""
    plan = plan_of(QUERIES["q21_waiting_suppliers"].fn(spark, sf_dir))
    assert "LeftSemi" not in plan, plan
    assert "LeftAnti" not in plan, plan
    # the l⨝o frame is persisted and read by both the stats aggregate
    # and the late-lines side of the rejoin
    assert plan.count("InMemoryTableScan") >= 2, plan
    # per-supplier any-late + per-order counts, each partial+final
    assert plan.count("HashAggregate") >= 4, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q20_in_lists_are_semi_joins(spark, sf_dir):
    """Both of Q20's IN lists must run as LEFT SEMI joins (the parts
    prefix-LIKE list broadcast), with the half-of-total guard as an
    equi-join on the part key — no materialized IN list, no cartesian."""
    plan = plan_of(QUERIES["q20_part_promotion_suppliers"].fn(spark, sf_dir))
    assert plan.count("LeftSemi") >= 2, plan
    assert "CartesianProduct" not in plan


def test_cdc_apply_is_one_partial_aggregate(spark, sf_dir):
    """CDC apply must be ONE hash aggregate with a map-side partial
    max_by (the change log collapses per key BEFORE the exchange) and a
    single user_id hash exchange — never a window sort of the log."""
    plan = plan_of(QUERIES["cdc_apply_changes"].fn(spark, sf_dir))
    assert "partial_max_by" in plan, plan
    assert "Window" not in plan, plan
    import re

    hashes = re.findall(r"Exchange hashpartitioning\(([\w#]+)", plan)
    assert hashes and all(h.startswith("user_id") for h in hashes), hashes


def test_funnel_shuffles_only_on_user_id(spark, sf_dir):
    """Every hash exchange in the funnel must key on user_id — the
    whole multi-step funnel reuses one shuffle key (step frames are
    SinglePartition count scalars / broadcasts)."""
    plan = plan_of(QUERIES["events_funnel_conversion"].fn(spark, sf_dir))
    import re

    hashes = re.findall(r"Exchange hashpartitioning\(([\w#]+)", plan)
    assert hashes and all(h.startswith("user_id") for h in hashes), hashes


def test_curriculum_document_rows_never_shuffle(spark, sf_dir):
    """The curriculum gate is threshold-aggregate + broadcast +
    filter: document rows must cross NO hash exchange (the only
    exchanges are the 1-row threshold aggregate and its broadcast)."""
    plan = plan_of(QUERIES["sample_quality_curriculum"].fn(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "CartesianProduct" not in plan


def test_pagerank_shuffles_stay_on_node_keys(spark, sf_dir):
    """PageRank iterations must shuffle on node/edge keys only (node
    id or the distinct pair key). The broadcast of the 1-row N
    aggregate legitimately plans as a BroadcastNestedLoopJoin Cross —
    a 1-row build side is how Spark spells a broadcast scalar, not a
    pair blowup — so only an un-broadcast CartesianProduct is banned."""
    plan = plan_of(QUERIES["graph_pagerank_bipartite"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    import re

    hashes = re.findall(r"Exchange hashpartitioning\(([\w#]+)", plan)
    allowed = ("node", "src", "dst", "l_suppkey", "o_custkey")
    assert hashes and all(h.startswith(allowed) for h in hashes), hashes


def test_rolling_wau_band_is_equi_join(spark, sf_dir):
    """The trailing 7-day band must plan as explode + broadcast HASH
    join against the day spine — the r5 range-predicate self-join form
    planned a BroadcastNestedLoopJoin evaluating |days| x |day,user|
    pairs, which degrades quadratically as the day span grows."""
    plan = plan_of(QUERIES["events_rolling_wau"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_snapshot_diff_is_single_full_outer(spark, sf_dir):
    """The reconciliation diff must be ONE key-partitioned full-outer
    join + a tiny class aggregate — no cartesian, no second join (count
    the physical join operators, which all end in 'Join')."""
    plan = plan_of(QUERIES["snapshot_diff_orders"].fn(spark, sf_dir))
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan
    import re

    joins = re.findall(r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|BroadcastNestedLoopJoin)", plan)
    assert len(joins) == 1, joins


def test_transition_matrix_single_user_window(spark, sf_dir):
    """One lead-window pass over (user) ordering; the probability
    normalization must window over the aggregated cell frame, so the
    plan carries exactly two Window operators and exactly one
    events-sized exchange (user_id) — the remaining exchanges belong
    to the tiny (from, to) aggregate/normalization."""
    plan = plan_of(QUERIES["events_transition_matrix"].fn(spark, sf_dir))
    assert plan.count("Window [") == 2, plan
    import re

    hashes = re.findall(r"Exchange hashpartitioning\(([\w#]+)", plan)
    assert sum(h.startswith("user_id") for h in hashes) == 1, hashes


def test_session_funnel_shuffles_stay_user_keyed(spark, sf_dir):
    """The sessionized funnel's contract: every exchange keys on
    user_id (alone or with the derived session_id as a secondary key) —
    sessionization, per-session steps, and the funnel joins all stay
    co-partitioned by user, never reshuffling on a non-user key."""
    import re

    plan = plan_of(QUERIES["events_session_funnel"].fn(spark, sf_dir))
    hashes = re.findall(r"Exchange hashpartitioning\(([\w#]+)", plan)
    assert hashes and all(h.startswith("user_id") for h in hashes), hashes


def test_dynamic_partition_pruning_fires_on_partitioned_fact(
    spark, tables, tmp_path
):
    """A fact laid out with partitionBy(join_key) joined to a filtered
    dim must plan a dynamicpruning subquery in the fact scan's
    partition filters — the runtime analog of static partition pruning
    and the mechanism that makes dim-filtered scans of a 100 TB
    partitioned fact read only the matching directories."""
    d = str(tmp_path / "orders_by_priority")
    tables["orders"].write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(d)
    fact = spark.read.parquet(d)
    dim = (
        tables["orders"]
        .select("o_orderpriority")
        .distinct()
        .filter(F.col("o_orderpriority") < "3")
    )
    j = fact.join(dim, "o_orderpriority").groupBy("o_orderpriority").count()
    assert "dynamicpruning" in plan_of(j).lower()


def test_salted_join_shuffles_carry_the_salt(spark, sf_dir):
    """With broadcast disabled, the salted join must hash-partition
    BOTH sides on (key, salt) — the salt in the shuffle key is the
    whole mechanism (it is what spreads a hot key across reducers)."""
    import re

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(QUERIES["join_skew_salted"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    keys = re.findall(r"Exchange hashpartitioning\((c_custkey[#\w]*, _salt[#\w]*)", plan)
    assert len(keys) >= 2, plan[:2500]


def test_pq_adc_stays_jvm_side_no_cross(spark, sf_dir):
    """The PQ-ADC index build + scan must be pure JVM column work: no
    Python stage anywhere (the fold-based chunk dots and integer ADC
    sums are Catalyst expressions) and no cross product — candidate
    generation goes through the (s, code) equi-join."""
    plan = plan_of(QUERIES["sim_pq_adc_topk"].fn(spark, sf_dir))
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan[:800]
    assert "CartesianProduct" not in plan


def test_ivf_pq_adc_scan_is_cell_gated(spark, sf_dir):
    """IVF-PQ's whole point vs the flat PQ-ADC scan: the ADC join must
    be an equi-join whose key INCLUDES cid (only probed cells' code
    rows are ever read — ~nprobe/sqrt(N) of the corpus), stay pure JVM,
    and never cross-product. The only nested-loop pair scans allowed
    are the tiny broadcast-centroid assignments (corpus cells + query
    probes), exactly as in the composed quantized ANN."""
    plan = plan_of(QUERIES["sim_ivf_pq_topk"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin [cid#" in plan, plan[:1500]
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan[:1500]


def test_ivf_probe_ranking_is_single_partition(spark, sf_dir):
    """The query-probe ranking (row_number over query_id, ordered by the
    centroid score ``_cs`` then cid) runs on ONE coalesced partition:
    ANN query frames are bounded batches, so nothing below that Window
    may hash-shuffle the (query, cell) pairs on query_id."""
    lines = plan_of(QUERIES["sim_ivf_pq_topk"].fn(spark, sf_dir)).splitlines()
    top = next(
        i for i, ln in enumerate(lines) if "Window [row_number()" in ln and "_cs#" in ln
    )

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    below = []
    for ln in lines[top + 1:]:
        if depth(ln) <= depth(lines[top]):
            break
        below.append(ln)
    assert any("Coalesce 1" in ln for ln in below), "\n".join(lines[top:top + 12])
    assert not any(
        "Exchange hashpartitioning(query_id" in ln for ln in below
    ), "\n".join(lines[top:top + 12])


def test_index_serve_scan_is_partition_pruned(spark, sf_dir):
    """Persisted-index serving must read only the PROBED cells of the
    cid-partitioned posting-list parquet: the codes scan carries a
    PartitionFilters entry on cid (partition pruning, not a post-scan
    filter), stays pure JVM, and never cross-products. The only
    nested-loop pair scan allowed is the tiny broadcast-centroid query
    probe (the corpus-side assignment happened at BUILD time and is not
    in the serve plan at all)."""
    plan = plan_of(QUERIES["sim_ivf_pq_index_serve"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    m = re.search(r"PartitionFilters: \[cid#\d+L IN(SET)?\b", plan)
    assert m, plan[:2500]
    # serving joins the pruned codes scan on (cid, s, code); the codes
    # read pins the cid partition column to BIGINT, the probe side's
    # type, so the join key carries no cast
    assert re.search(r"BroadcastHashJoin \[cid#\d+L, ", plan), plan[:1500]


def test_rerank_python_stage_is_candidate_bounded(spark, sf_dir):
    """The cross-encoder seam runs exactly ONE Arrow-batched Python
    stage, and it consumes the narrow (query_id, neighbor_id) candidate
    pairs — never the corpus vectors (the embedding column must not
    reach the Python stage's input)."""
    plan = plan_of(QUERIES["sim_rerank_crossencoder"].fn(spark, sf_dir))
    assert plan.count("MapInPandas") == 1, plan[:800]
    python_stage = plan.split("MapInPandas")[1].splitlines()[0]
    assert "embedding" not in python_stage, python_stage


def test_basket_affinity_single_fact_shuffle(spark, sf_dir):
    """The basket rewrite's contract: the per-order collect_set groupBy
    (the only l_orderkey-keyed exchange) is computed ONCE and served to
    all consumers from the persisted basket frame — the plan must read
    the basket through InMemoryTableScan (the l_orderkey exchange text
    recurs under each cached consumer, but the cache executes it once),
    expand pairs partition-locally (explode, no join on the pair path),
    and never cross-product."""
    plan = plan_of(QUERIES["basket_brand_affinity"].fn(spark, sf_dir))
    assert "InMemoryTableScan" in plan, plan[:1200]
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan, plan[:1200]


def test_trigram_paths_single_user_window(spark, sf_dir):
    """Both lead() calls must share ONE (user_id, ts) window spec: the
    plan carries exactly one Window operator and exactly one
    events-sized user_id exchange — a second sort per lead would
    double the dominant cost."""
    import re

    plan = plan_of(QUERIES["events_top_trigram_paths"].fn(spark, sf_dir))
    assert plan.count("Window [") == 1, plan[:1500]
    hashes = re.findall(r"Exchange hashpartitioning\(([\w#]+)", plan)
    assert sum(h.startswith("user_id") for h in hashes) == 1, hashes


def test_welch_ttest_broadcasts_dim_and_arms(spark, sf_dir):
    """The A/B aggregate must broadcast the customer dim into the fact
    scan (never sort-merge) and assemble the two arms with broadcast
    1-row frames — no repeated fact scans beyond the one aggregate."""
    plan = plan_of(QUERIES["stats_welch_ttest"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan[:1500]


def test_global_row_number_no_data_sized_single_partition(spark, sf_dir):
    """The two-pass global numbering must range-partition the DATA and
    confine any single-partition work to the tiny per-partition-counts
    frame — the naive row_number() OVER (ORDER BY ...) would funnel the
    whole table through one task."""
    plan = plan_of(QUERIES["global_row_number_orders"].fn(spark, sf_dir))
    assert "rangepartitioning" in plan.lower(), plan[:1500]
    # at most one SinglePartition exchange (the n_parts-row counts
    # prefix sum); the orders-sized stream itself must never collapse
    assert plan.count("Exchange SinglePartition") <= 1, plan[:2000]


def test_attribution_interval_join_no_nested_loop(spark, sf_dir):
    """The touch->purchase pairing must ride the banded equi-join —
    a naive ts-inequality join would plan BroadcastNestedLoopJoin and
    scan |touches|x|purchases| pairs."""
    plan = plan_of(QUERIES["events_attribution_position"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan


def test_triangle_join_chain_stays_equi(spark, sf_dir):
    """Wedge enumeration + closing join must all be equi-joins on node
    keys (a cross product here is the O(n^3) failure mode); the only
    nested-loop joins allowed are the two 1-ROW scalar attaches (the
    p95 threshold and the pair count), which is how scalar subqueries
    plan."""
    plan = plan_of(QUERIES["graph_triangle_cliques"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the edge frame (pair agg + scalar threshold) must be persisted:
    # e1/e2/e3 are three references and Catalyst does not share the
    # subtree, so without the cache the pair aggregation runs 3x+
    # (plan TEXT still repeats the cached subtree per consumer — the
    # cache executes it once, as in the basket-affinity plan test)
    assert "InMemoryTableScan" in plan, plan[:1500]
    # the triangle chain itself: three node-keyed equi-joins
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count(
        "BroadcastHashJoin"
    ) >= 3, plan[:1500]


def test_triangle_counts_joins_pure_equi_on_plain_edges(spark):
    """triangle_counts on a MATERIALIZED edge frame (no cached subtree
    muddying the plan text): the wedge + closing joins must plan as
    hash/sort-merge equi-joins — zero nested-loop joins, zero cross
    products. This is the assertion the registry-level test cannot
    make, because there the persisted edge subtree's plan text repeats
    under every consumer."""
    edges = spark.createDataFrame(
        [(a, b) for a in range(0, 40) for b in range(a + 1, 40) if (a * b) % 3 == 0],
        "x long, y long",
    )
    from salesdata_engineering_spark.ext.graph import triangle_counts

    plan = plan_of(triangle_counts(edges, "x", "y"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_ks_two_sample_shared_two_pass_cumsum(spark, sf_dir):
    """Both ECDF cumulations must share ONE range exchange (the
    multi-column two-pass cumsum): a per-statistic global_cumsum would
    range-shuffle the near-unique value histogram twice, and a naive
    ORDER BY window would single-task it."""
    plan = plan_of(QUERIES["stats_ks_two_sample"].fn(spark, sf_dir))
    # plan TEXT repeats the persisted ranged subtree per consumer, so
    # presence (not count) is the assertable signal; the in-memory scan
    # proves the range exchange executes once
    assert "rangepartitioning" in plan.lower(), plan[:2000]
    assert "InMemoryTableScan" in plan, plan[:1500]
    # the data-sized histogram itself never rides a global sort (the
    # two-pass scheme only sorts WITHIN range partitions, global=false)
    import re

    assert re.search(r"Sort \[y#[^\]]*\], true", plan) is None, plan[:1500]


def test_mannwhitney_two_pass_cumsum(spark, sf_dir):
    """The pooled-rank cumulation must ride the range-partitioned
    two-pass scheme, not a single-task global window."""
    plan = plan_of(QUERIES["stats_mannwhitney_u"].fn(spark, sf_dir))
    assert "rangepartitioning" in plan.lower(), plan[:1500]
    assert "InMemoryTableScan" in plan, plan[:1500]


def test_weighted_priority_take_ordered(spark, sf_dir):
    """A-ES weighted sampling is a global top-k: the plan must use
    TakeOrderedAndProject (per-partition heads + driver merge), never
    a full global sort of the corpus."""
    plan = plan_of(QUERIES["sample_weighted_priority"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_link_prediction_inverted_index_shape(spark, sf_dir):
    """Pair generation must be the inverted-index equi-join BY PART —
    no cross product — and the thrice-referenced part-supplier frame
    must be persisted so the distinct runs once."""
    plan = plan_of(QUERIES["graph_link_prediction"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "InMemoryTableScan" in plan, plan[:1500]


def test_backlog_sweep_two_pass_cumsum(spark, sf_dir):
    """The backlog running sum must range-partition the change-day
    frame; single-partition work stays on the tiny per-partition
    totals."""
    plan = plan_of(QUERIES["orders_open_backlog_daily"].fn(spark, sf_dir))
    assert "rangepartitioning" in plan.lower(), plan[:1500]
    assert "InMemoryTableScan" in plan, plan[:1500]


def test_conversion_latency_two_pass_cumsum(spark, sf_dir):
    """The latency-histogram percentile cumulation rides the two-pass
    cumsum; the as-of pairing contributes exactly one user_id
    exchange (union+window-last, no range-join blowup)."""
    plan = plan_of(QUERIES["events_conversion_latency_pct"].fn(spark, sf_dir))
    assert "rangepartitioning" in plan.lower(), plan[:1500]
    # the as-of pairing stays a union+window composition: no range-join
    # blowup anywhere in the plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan[:1500]


def test_theil_sen_rank_two_pass(spark, sf_dir):
    """The median-of-slopes pick must ride the two-pass global rank —
    a bare row_number window over the series^2 pairs frame would
    single-task ~150M rows for a multi-year series."""
    plan = plan_of(QUERIES["events_theil_sen_trend"].fn(spark, sf_dir))
    assert "rangepartitioning" in plan.lower(), plan[:1500]
    assert "InMemoryTableScan" in plan, plan[:1500]


def test_cms_probe_join_broadcasts_no_python(spark, sf_dir):
    """CMS heavy hitters: sketch state is bounded (d*w cells), so the
    probe side (20 candidates x 4 rows) must broadcast against the
    cell table; everything stays JVM-side and nothing cross-products.
    The only shuffles are the tf hash-agg (the eval ground truth) and
    the <=4096-key cell aggregate."""
    plan = plan_of(QUERIES["sketch_cms_heavy_hitters"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_bloom_prefilter_is_broadcast_only_on_probe_scan(spark, sf_dir):
    """The bloom pre-filter's value is adding ZERO shuffle to the fact
    scan: the bitmap word-joins and the exact-flag join must all be
    broadcast hash joins (4 of them), with no sort-merge join and no
    exchange keyed on fact rows other than the final 1-row aggregate."""
    plan = plan_of(QUERIES["join_bloom_prefilter"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan[:1500]
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("BroadcastHashJoin") == 4, plan[:2000]


def test_clamped_balance_single_part_exchange(spark, sf_dir):
    """The reflected-cumsum identity's value is plan shape: both
    windows and the final aggregate key on part with one sort order,
    so the plan must contain exactly ONE exchange keyed on the part
    column (plus the scan-side details) — a second part shuffle would
    mean the windows failed to share the sort. No Python, no cross
    product."""
    plan = plan_of(QUERIES["inventory_clamped_balance"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    # hashpartitioning on the part alias appears once for the whole
    # window+agg chain (partial agg may add a final agg exchange on the
    # same key at most once more)
    n_part_exchanges = len(re.findall(r"hashpartitioning\(part#", plan))
    assert 1 <= n_part_exchanges <= 2, plan[:2000]


def test_psi_drift_broadcasts_range_and_totals(spark, sf_dir):
    """PSI's one event-volume pass is the bin+count; the global range
    and the totals are 1-row broadcasts and the spine join runs on 10
    rows — no sort-merge join anywhere."""
    plan = plan_of(QUERIES["events_psi_drift"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan[:1500]
    # every nested-loop join broadcasts a 1-row frame (range, totals);
    # the count includes the cached counts subtree's own range join
    assert plan.count("BroadcastNestedLoopJoin") <= 3
    # counts is consumed twice (spine join + totals): the persist must
    # show up as cache scans or the event binning pass runs twice
    assert plan.count("InMemoryTableScan") >= 2, plan[:2000]
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_cep_pattern_match_single_user_shuffle(spark, sf_dir):
    """The CEP fold is one user-keyed aggregate: symbolize, group,
    regex — a single exchange on user_id and zero joins."""
    plan = plan_of(QUERIES["events_pattern_match_cep"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:1500]
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert len(re.findall(r"hashpartitioning\(user_id#", plan)) >= 1


def test_fuzzy_blocking_join_is_pure_equi(spark, sf_dir):
    """ER blocking must plan an equi-join on the composite blocking
    key — a BroadcastNestedLoopJoin/CartesianProduct here means the
    O(N^2) all-pairs scan the blocking exists to prevent."""
    plan = plan_of(QUERIES["er_fuzzy_match_blocking"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_topk_and_broadcast_stats(spark, sf_dir):
    """Top-k must be TakeOrderedAndProject (no global sort); the df and
    corpus-stats sides must broadcast; the query-term gate must reach
    the posting stream before any exchange (filter under the first
    aggregate, not after a shuffle)."""
    plan = plan_of(QUERIES["text_bm25_search"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastExchange") >= 2
    assert "Exchange rangepartitioning" not in plan


def test_kmv_sketch_single_group_exchange(spark, sf_dir):
    """The bottom-k window and the per-group readout share the nation
    hash partitioning: exactly one nation-keyed shuffle plus the
    dedup shuffle (the trailing range exchange only sorts the
    25-row readout)."""
    plan = plan_of(QUERIES["sketch_kmv_distinct"].fn(spark, sf_dir))
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash <= 2, f"expected <=2 hash exchanges, got {n_hash}"


def test_ohlc_windows_share_one_exchange(spark, sf_dir):
    """Both row_number passes and the bar aggregate are keyed
    (event_type, hr): one hash exchange feeds two sorts, no extra
    shuffle for the per-type rollup's partial agg."""
    plan = plan_of(QUERIES["events_ohlc_hourly"].fn(spark, sf_dir))
    body = plan.split("AdaptiveSparkPlan")[-1]
    n_hash = len(
        re.findall(r"Exchange hashpartitioning\(event_type[^)]*, hr", body)
    )
    assert n_hash == 1, f"window/agg exchange not shared: {n_hash}\n{body}"


def test_twap_single_type_exchange(spark, sf_dir):
    """lead window and the TWAP aggregate both key on event_type —
    one hash exchange total (the final 5-row agg collapses map-side)."""
    plan = plan_of(QUERIES["events_twap_value"].fn(spark, sf_dir))
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash <= 2, f"expected <=2 hash exchanges, got {n_hash}\n{plan}"


def test_assortativity_no_nested_loop(spark, sf_dir):
    """Degree joins must stay equi-keyed on s resp. p — no broadcast
    nested loop, no cartesian — and the final correlation is one row
    from a partial+final aggregate."""
    df = QUERIES["graph_degree_assortativity"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_dynamic_gap_session_single_user_shuffle(spark, sf_dir):
    """The native dynamic-gap session aggregate keys on user_id — no
    joins, no cartesian, and no more than the session-merge exchange
    plus the final 1-row aggregate's."""
    plan = plan_of(QUERIES["events_session_dynamic_gap"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    n_hash = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash <= 2, f"expected <=2 hash exchanges, got {n_hash}"


def test_duplicate_payments_band_join_is_equi(spark, sf_dir):
    """The $500 band join must plan as an equi-join on (bucket, cust)
    — a nested-loop/cartesian here is the unbounded theta-join the
    bucket explode exists to prevent."""
    plan = plan_of(QUERIES["fraud_duplicate_payments"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rate_limit_audit_single_user_shuffle(spark, sf_dir):
    """Range-frame burst count and per-user max share one user_id
    exchange; the histogram is a bounded second aggregate."""
    plan = plan_of(QUERIES["events_rate_limit_audit"].fn(spark, sf_dir))
    n_user = len(re.findall(r"Exchange hashpartitioning\(user_id", plan))
    assert n_user == 1, f"user shuffle not shared: {n_user}"


def test_centroid_eval_broadcasts_centroids(spark, sf_dir):
    """The corpus-sized explode joins BROADCAST centroid/norm frames
    (|L| x dim rows); a shuffle on the pair axis would move N x |L|
    rows."""
    plan = plan_of(QUERIES["sim_centroid_assignment_eval"].fn(spark, sf_dir))
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_crosscorr_hourly_frame_persisted(spark, sf_dir):
    """Both sides of the 25-lag pair join read the persisted hourly
    frame, not two recomputations of the event scan."""
    plan = plan_of(QUERIES["events_crosscorr_lag"].fn(spark, sf_dir))
    assert plan.count("InMemoryTableScan") >= 2


def test_pit_join_stays_keyed_equi(spark, sf_dir):
    """The PIT fact-to-SCD2 join must key on the customer equi-column
    with interval residuals — no nested loop over version chains."""
    plan = plan_of(QUERIES["pit_join_orders_segments"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kfold_rank_has_no_unpartitioned_window(spark, sf_dir):
    """Stratified k-fold must use the two-pass rank, never a
    row_number over 6 giant language partitions — the executed plan
    must not warn-shape a Window with the lang-only partition over
    the full doc stream (the two-pass form plans a range exchange
    plus bounded-frame windows only)."""
    df = QUERIES["sample_kfold_stratified"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "Exchange rangepartitioning" in plan  # the two-pass rank's sort
    # the only hash-partitioned windows allowed are over the bounded
    # counts frames, which follow a HashAggregate, not the raw scan
    assert "Window [row_number()" not in plan.split("rangepartitioning")[0]


def test_mix_shift_single_scan_one_row(spark, sf_dir):
    """The decomposition is one scan + broadcast anchor: no sort-merge
    join, a partial+final aggregate, and a 5-row readout."""
    plan = plan_of(QUERIES["events_mix_shift_decomposition"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_elasticity_cells_before_regression(spark, sf_dir):
    """The log-log OLS must aggregate to brand-month cells before any
    log/regression math — two HashAggregate levels and no window over
    the raw fact."""
    plan = plan_of(QUERIES["price_elasticity_loglog"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 4  # cells partial+final, brand partial+final
    assert "Window" not in plan


def test_quality_auc_uses_two_pass_cumsum(spark, sf_dir):
    """The AUC histogram ECDF must range-partition (two-pass cumsum),
    never an unpartitioned running-sum window over the score frame."""
    plan = plan_of(QUERIES["text_quality_auc"].fn(spark, sf_dir))
    assert "Exchange rangepartitioning" in plan
    assert "InMemoryTableScan" in plan  # the shared cumulation frame


def test_lorenz_deciles_two_pass_rank(spark, sf_dir):
    """Decile assignment reproduces ntile arithmetic on the two-pass
    global rank — range partition + bounded-frame windows only."""
    plan = plan_of(QUERIES["revenue_lorenz_deciles"].fn(spark, sf_dir))
    assert "Exchange rangepartitioning" in plan
    assert "ntile" not in plan.lower()


def test_rekeyed_serve_no_single_task_window(spark, sf_dir):
    """VERDICT r12 item 4: the rekeyed ANN serve path must contain NO
    unpartitioned data-sized Window — negative-id assignment for
    non-member queries goes through the two-pass global_row_number, not
    row_number() OVER (ORDER BY ...). The only unpartitioned windows
    allowed in the plan are global_row_number's offsets pass over the
    tiny per-partition counts frame (ordered by _pid, n_parts rows)."""
    df = QUERIES["sim_ivf_pq_rekeyed_topk"].fn(spark, sf_dir)
    plan = plan_of(df)
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        first = spec.split(",")[0].strip()
        # partitioned windows list partition columns BEFORE the first
        # directed (ASC/DESC) order key; an unpartitioned window's first
        # element is the order key itself
        if (" ASC" in first or " DESC" in first) and "_pid" not in first:
            raise AssertionError(
                f"unpartitioned data-sized window in rekeyed serve: {spec}"
            )


def _formatted_plan_of(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


@pytest.mark.parametrize(
    "name",
    [
        "global_sort_prices",
        "customer_rfm_segments",
        "parts_abc_analysis",
        "q3_shipping_priority",
        "q10_returned_items",
    ],
)
def test_no_one_task_window_over_data_frame(spark, sf_dir, name):
    """VERDICT r13 item 2 (the greppable recurrence rule): none of the
    five rewritten global-rank queries may plan a Window whose input
    exchange is SinglePartition over a data-proportional frame. The
    detector (tools/plan_audit.py, also run registry-wide each round —
    PLAN_AUDIT_r14.json) treats limit-type ops and the two-pass
    substrate's _pid-keyed counts aggregates (n_parts rows, constant in
    the data) as bounding; per-entity aggregates are NOT bounding —
    they grow with the data and are exactly the frames r13 flagged."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from plan_audit import unbounded_single_partition_windows

    plan = _formatted_plan_of(QUERIES[name].fn(spark, sf_dir))
    assert unbounded_single_partition_windows(plan) == [], plan[:2000]
