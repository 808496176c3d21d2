"""Physical-plan assertions: the optimizations the engine is designed
around must actually appear in the executed plans (broadcast joins, filter
pushdown into scans, column pruning, whole-stage codegen)."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from delta_lake_spark.catalog import table
from delta_lake_spark.queries import QUERIES
from tests.conftest import SF_SMOKE


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def executed_plan_of(df, mode: str = "formatted") -> str:
    """Final AQE plan: the engine deliberately leaves scaling-table joins
    unhinted (no hard broadcast on customer/supplier — VERDICT r1 #4), so
    the broadcast decision is made at runtime from observed sizes and only
    the post-execution adaptive plan shows it."""
    df.collect()  # count() would plan a separate aggregate; collect()
    # executes THIS DataFrame's QueryExecution so explain shows the final plan
    plan = plan_of(df, mode)
    assert "isFinalPlan=true" in plan
    return plan


def test_dim_joins_are_broadcast(spark):
    plan = executed_plan_of(QUERIES["q02_client_stats"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle the fact


def test_filter_pushed_into_parquet_scan(spark):
    plan = plan_of(QUERIES["q01_pricing_summary"](spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_column_pruning_reaches_scan(spark):
    df = table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity" in plan
    assert "l_comment" not in plan  # untouched columns never read


def test_aggregation_stays_in_codegen(spark):
    plan = plan_of(QUERIES["q01_pricing_summary"](spark, SF_SMOKE), mode="codegen")
    assert "WholeStageCodegen subtrees" in plan


def test_topk_plans_take_ordered(spark):
    df = QUERIES["q05_topk_customers"](spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in plan_of(df)


def test_partition_filter_prunes_managed_table(spark, tmp_path):
    from delta_lake_spark.tables import ManagedTable

    t = ManagedTable(spark, str(tmp_path / "pp"))
    df = spark.range(100).withColumn("part", F.pmod("id", F.lit(4)))
    t.write(df, partition_by=["part"])
    plan = plan_of(t.read().filter(F.col("part") == 1))
    assert "PartitionFilters: [isnotnull(part" in plan


def test_v02_lsh_plan_has_no_cartesian(spark):
    """v02 generates candidates through banded LSH equi-joins; an all-pairs
    cosine join (BroadcastNestedLoopJoin / cartesian over the corpus) must
    never reappear — it was the round-1 scale-killer (VERDICT r1 #3)."""
    plan = plan_of(QUERIES["v02_embedding_near_dups"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_managed_table_mart_still_broadcasts(spark, tmp_path):
    """Gold marts built FROM managed tables (union-of-commit-dir scans)
    must keep the broadcast dim join — the snapshot wrapper must not push
    Catalyst into a sort-merge plan."""
    from delta_lake_spark.pipeline.marts import client_stats_mart, conformed_customer
    from delta_lake_spark.tables import ManagedTable

    o = ManagedTable(spark, str(tmp_path / "o"))
    o.write(table(spark, SF_SMOKE, "orders"))
    o.write(table(spark, SF_SMOKE, "orders").limit(10), mode="append")
    c = ManagedTable(spark, str(tmp_path / "c"))
    c.write(table(spark, SF_SMOKE, "customer"))
    n = ManagedTable(spark, str(tmp_path / "n"))
    n.write(table(spark, SF_SMOKE, "nation"))
    plan = executed_plan_of(client_stats_mart(o.read(), conformed_customer(c.read(), n.read())))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_v06_multiprobe_plan_is_equi_join(spark):
    """v06 multi-probe ANN must stay a hash equi-join on the bucket key
    (probe set explodes query-side only) — never a nested-loop scan of the
    candidate corpus."""
    plan = plan_of(QUERIES["v06_multiprobe_ann"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q34_range_join_plan_is_equi_join(spark):
    """The binned range join must plan as a partitioned equi-join on the bin
    key — never a BroadcastNestedLoopJoin/cartesian over points x intervals
    (the plan Spark produces for a naive non-equi range predicate)."""
    plan = plan_of(QUERIES["q34_shipments_after_urgent_orders"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_binned_range_join_matches_naive(spark):
    """Exact-equivalence check of the operator itself on a dense little
    axis: binned result == naive non-equi join result, across bin widths
    (1 = every interval replicated per day; 64 = most intervals one bin)."""
    from delta_lake_spark.ops.range_join import binned_range_join

    pts = spark.range(200).select(F.col("id").alias("p"))
    iv = (
        spark.range(40)
        .select(
            F.col("id").alias("iv_id"),
            (F.col("id") * 5 - 3).alias("s"),
            (F.col("id") * 5 + F.pmod("id", F.lit(11))).alias("e"),
        )
    )
    naive = (
        pts.join(iv, (F.col("p") >= F.col("s")) & (F.col("p") <= F.col("e")))
        .select("p", "iv_id")
    )
    expected = sorted((r.p, r.iv_id) for r in naive.collect())
    for width in (1, 4, 64):
        got = binned_range_join(pts, iv, "p", "s", "e", width).select("p", "iv_id")
        assert sorted((r.p, r.iv_id) for r in got.collect()) == expected


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketed tables pay the join shuffle at write time: the later
    orders x customer equi-join must read buckets aligned — SortMergeJoin
    with zero Exchange — and results must equal the plain join's."""
    from delta_lake_spark.io.bucketed import colocated_join, write_bucketed

    o = table(spark, SF_SMOKE, "orders")
    c = table(spark, SF_SMOKE, "customer")
    write_bucketed(o, "b_orders", "o_custkey", 8, path=str(tmp_path / "o"))
    write_bucketed(c, "b_cust", "c_custkey", 8, path=str(tmp_path / "c"))
    try:
        j = colocated_join(
            spark, "b_orders", "b_cust", F.col("o_custkey") == F.col("c_custkey")
        )
        plan = plan_of(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert plan.count("Bucketed: true") == 2
        plain = o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        assert j.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_d12_simhash_pairs_plan_is_equi_join(spark):
    """d12 candidates come from byte-band equi-joins (the d06/v02 LSH
    contract): no nested-loop/cartesian pair generation."""
    plan = plan_of(QUERIES["d12_simhash_near_pairs"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bucketed_aggregation_has_no_exchange(spark, tmp_path):
    """Bucketing also serves aggregations: a groupBy on the bucket key
    reads the pre-hashed layout and aggregates with ZERO Exchange — the
    repeated-rollup pattern (same key aggregated by many queries) pays its
    shuffle once at write time."""
    from delta_lake_spark.io.bucketed import write_bucketed

    o = table(spark, SF_SMOKE, "orders")
    write_bucketed(o, "b_orders_agg", "o_custkey", 8, path=str(tmp_path / "oa"))
    try:
        agg = spark.table("b_orders_agg").groupBy("o_custkey").count()
        plan = plan_of(agg)
        assert "Exchange" not in plan
        assert agg.count() == o.select("o_custkey").distinct().count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders_agg")


def test_q30_bucketed_join_exchange_free_and_equivalent(spark, tmp_path):
    """The q30 lineitem⋈orders edge on bucketed storage (VERDICT r2 task 6):
    the SortMergeJoin of the two bucketed facts must have NO Exchange on
    either input, and the result must equal the unbucketed q30."""
    from delta_lake_spark.benchmark.bucketed import (
        prepare_bucketed_facts,
        q30_bucketed,
    )

    prepare_bucketed_facts(spark, SF_SMOKE, str(tmp_path / "bk"))
    try:
        # the l⋈o edge in isolation: SortMergeJoin fed straight from the
        # two bucketed scans — zero Exchange anywhere in the sub-plan
        l = spark.table("bucketed_lineitem")
        o = spark.table("bucketed_orders")
        edge = l.hint("merge").join(o, l.l_orderkey == o.o_orderkey)
        eplan = plan_of(edge)
        assert "SortMergeJoin" in eplan
        assert "Exchange" not in eplan, eplan
        assert eplan.count("Bucketed: true") == 2
        # the full q30 shape on the bucketed facts matches unbucketed q30
        df = q30_bucketed(spark, SF_SMOKE)
        assert "SortMergeJoin" in plan_of(df)
        expect = sorted(
            map(
                tuple,
                QUERIES["q30_local_supplier_volume"](spark, SF_SMOKE).collect(),
            )
        )
        assert sorted(map(tuple, df.collect())) == expect
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_lineitem")
        spark.sql("DROP TABLE IF EXISTS bucketed_orders")


def test_q32_scaling_dim_unhinted_aqe_broadcasts(spark):
    """VERDICT r3 #2: q32 must not hard-broadcast `part` (it scales with SF,
    ~200K rows/SF — a multi-GB broadcast at 100x).  With the hint gone, AQE
    still picks BroadcastHashJoin at small scale from observed sizes; at
    cluster scale it can fall back to SMJ instead of OOMing the driver."""
    import inspect

    from delta_lake_spark.queries import relational

    src = inspect.getsource(relational.q32_promo_revenue_share)
    assert "F.broadcast(" not in src  # no hard hint in source
    plan = executed_plan_of(QUERIES["q32_promo_revenue_share"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_q11_topk_uses_bounded_hash_agg_not_window_sort(spark):
    """q11's top-3-per-key must plan as a partial/final hash aggregation
    (map-side combine, per-key bounded arrays) with NO window operator and
    NO corpus-wide sort before the exchange.  The previous WindowGroupLimit
    plan double-sorted the corpus for a map-side thin that keeps ~every row
    when keys are spread across partitions (~10 orders/customer); the agg
    shape cut 100x-scale time 16.5 -> 12.3 s (BENCH_SCALE100.json, r6)."""
    plan = plan_of(QUERIES["q11_top3_orders_per_customer"](spark, SF_SMOKE))
    assert "ObjectHashAggregate" in plan
    assert "partial_collect_list" in plan  # map-side combine present
    assert "WindowGroupLimit" not in plan
    assert "RunningWindowFunction" not in plan and "Window " not in plan


def test_d13_contamination_plan_shape(spark):
    """d13 must join benchmark and corpus n-gram hashes with a broadcast
    hash equi-join (bounded benchmark side) — never a nested-loop pairing
    of documents."""
    plan = plan_of(QUERIES["d13_contamination_scan"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_on_managed_table(spark, tmp_path):
    """100-TB evidence: a selective dim filter must prune the partitioned
    fact scan at RUNTIME (dynamic partition pruning), not just statically —
    on a date/tenant-partitioned 100-TB table this is the difference between
    scanning one partition and scanning them all."""
    from delta_lake_spark.tables import ManagedTable

    t = ManagedTable(spark, str(tmp_path / "dpp_fact"))
    fact = spark.range(1000).withColumn("part", F.pmod("id", F.lit(10)))
    t.write(fact, partition_by=["part"])
    dim = spark.range(10).select(
        F.col("id").alias("part"), (F.col("id") * 2).alias("attr")
    )
    joined = t.read().join(F.broadcast(dim.filter(F.col("attr") == 4)), "part")
    plan = plan_of(joined)
    assert "dynamicpruning" in plan.lower(), plan


def test_d15_semdedup_pair_join_is_equi_join(spark):
    """d15's in-cluster pair generation must equi-join on the cluster id —
    the only nested-loop joins allowed are the k-row broadcast-centroid
    assignments (3 of them: one per Lloyd iteration + the final assign);
    the corpus itself must never cross-join."""
    plan = plan_of(QUERIES["d15_semantic_dedup"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    # every nested-loop join must be the broadcast-centroid assignment
    # (k rows built right, Cross) — never a corpus-vs-corpus loop
    for line in plan.splitlines():
        # tree lines carry the join type; "(29) BroadcastNestedLoopJoin"
        # detail-section headers don't and are skipped
        if "BroadcastNestedLoopJoin" in line and not line.strip().startswith("("):
            assert "Cross BuildRight" in line, line
    # the in-cluster pair generation itself is a shuffled equi-join
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_q52_disjunctive_predicate_stays_equi_join(spark):
    """Q19 shape: Catalyst must factor the common partkey equi-conjunct out
    of the OR'd branches — the disjunction rides the hash join as a residual
    filter, never degenerating to a nested-loop cross join."""
    plan = plan_of(QUERIES["q52_disjunctive_revenue"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # the partkey equi-join survived factoring


def test_q48_dual_role_nation_joins_broadcast(spark):
    """Q7 shape: the nation dim joined twice (customer role + supplier role)
    must broadcast both times — the fact never shuffles for a fixed dim."""
    plan = executed_plan_of(QUERIES["q48_nation_trade_volume"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2


def test_d19_edit_rerank_plan_is_equi_join(spark):
    """The O(L^2) Levenshtein metric must only run over LSH-banded
    candidates joined by key — never an all-pairs nested-loop plan."""
    plan = plan_of(QUERIES["d19_edit_distance_rerank"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q68_sweep_windows_are_day_partitioned(spark):
    """The concurrency sweep must never fall back to a single-partition
    global window: every Window operator in the plan carries a non-empty
    partition spec (user_id sessionization or day_idx sweep)."""
    plan = plan_of(QUERIES["q68_peak_concurrency"](spark, SF_SMOKE), mode="simple")
    windows = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert windows, plan
    for ln in windows:
        assert "day_idx" in ln or "user_id" in ln, ln
    # the endpoint fan-out must be a single explode pass, not a union that
    # re-runs the sessionization chain per branch
    assert len([ln for ln in windows if "day_idx" in ln]) == 1, plan
    assert "Union" not in plan


def test_q79_funnel_single_fact_shuffle(spark):
    """The three funnel steps must share ONE user_id exchange (sequential
    Window ops over the same partitioning) and produce the step rows via
    stack over the single counts row — a union-of-selects formulation
    recomputes the whole events pipeline once per step (3x the shuffles)."""
    plan = plan_of(QUERIES["q79_funnel_conversion"](spark, SF_SMOKE), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan


def test_s10_pps_sample_is_scan_shaped(spark):
    """Weighted PPS sampling must stay embarrassingly parallel: the only
    join is the 1-row total-weight broadcast; the documents scan is never
    hash-shuffled (the final sort is presentation-only)."""
    plan = plan_of(QUERIES["s10_weighted_pps_sample"](spark, SF_SMOKE), "simple")
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan  # the scalar W, nothing larger


def test_t21_recount_join_is_broadcast_semi(spark):
    """Phase 2 of the two-phase heavy hitters must recount via a broadcast
    semi-join against the tiny candidate set — shuffling the exploded token
    stream to meet the candidates would forfeit the whole point."""
    plan = plan_of(QUERIES["t21_heavy_hitters"](spark, SF_SMOKE), "simple")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k, never a global sort


def test_d20_prefix_join_is_equi_join(spark):
    """Prefix-filter candidates must come from a hash equi-join on the
    prefix token — never a nested-loop/cartesian pairing (the thing prefix
    filtering exists to avoid)."""
    plan = plan_of(QUERIES["d20_prefix_filter_jaccard"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_v16_knn_graph_is_equi_join(spark):
    """k-NN graph candidates must come from the band equi-join — never an
    all-pairs nested-loop plan."""
    plan = plan_of(QUERIES["v16_knn_graph"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q82_interval_union_single_user_exchange(spark):
    """Island detection, island ids, and the island aggregate must share
    ONE user_id exchange — a second hashpartitioning exchange would mean
    the window passes re-shuffled the fact."""
    plan = plan_of(QUERIES["q82_interval_union_coverage"](spark, SF_SMOKE), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan


def test_q83_mad_joins_stay_broadcast(spark):
    """Both per-type median joins are against bounded event-type arity —
    they must broadcast, never shuffle the fact to meet a 5-row table."""
    plan = plan_of(QUERIES["q83_mad_outliers"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_t24_boilerplate_no_cartesian(spark):
    """The boiler-gram join-back must be a (source, gram) equi-join over
    the already-partitioned doc-frequency side — no nested-loop pairing."""
    plan = plan_of(QUERIES["t24_boilerplate_ngrams"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_s13_rate_table_broadcasts(spark):
    """The 256-bucket rate table must broadcast back onto the exploded
    bigram stream (scan-sized side never shuffles to meet 256 rows); the
    top-100 must be TakeOrderedAndProject, not a global sort."""
    plan = plan_of(QUERIES["s13_dsir_importance"](spark, SF_SMOKE), "simple")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_v17_assignment_is_map_only(spark):
    """Both k-means assignment passes inline the centroids as literals —
    the ONLY exchanges allowed are the bounded (cid, dim) update aggregate
    and the final per-cluster aggregate; the corpus itself never joins."""
    plan = plan_of(QUERIES["v17_kmeans_exact"](spark, SF_SMOKE), "simple")
    assert "Join" not in plan  # no join of any kind anywhere
    assert "CartesianProduct" not in plan


def test_d21_pair_join_is_cid_equi_join(spark):
    """SemDeDup's pair surface must be the within-cluster equi-join on the
    cluster id — never corpus-cartesian."""
    plan = plan_of(QUERIES["d21_semantic_dedup_survivors"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q91_pair_surface_is_orderkey_equi_join(spark):
    """The basket pair surface must be the intra-order self-join on
    l_orderkey (bounded C(k,2) fan-out) — never an all-pairs part join;
    the final top-20 must be TakeOrderedAndProject, not a global sort."""
    plan = plan_of(QUERIES["q91_market_basket_lift"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q93_rfm_has_no_global_funnel(spark):
    """All three quintile rankings go through the range-partition global
    row number — a single-partition ORDER BY window would surface as
    Exchange SinglePartition before a Window."""
    plan = plan_of(QUERIES["q93_rfm_segments"](spark, SF_SMOKE), "simple")
    import re

    assert not re.search(r"Exchange SinglePartition[\s\S]{0,400}?Window", plan)


def test_q94_single_custkey_exchange_for_lag(spark):
    """The repurchase lag window needs exactly one custkey exchange; the
    bucket rollup is a bounded aggregate and the interval total joins back
    as a broadcast scalar."""
    plan = plan_of(QUERIES["q94_repurchase_intervals"](spark, SF_SMOKE), "simple")
    assert "SortMergeJoin" not in plan


def test_v19_rerank_joins_stay_bounded(spark):
    """The exact-rerank stage must fetch full-precision vectors through
    equi-joins (query side broadcast) — no nested-loop pairing anywhere
    in the two-stage plan."""
    plan = plan_of(QUERIES["v19_pq_shortlist_rerank"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan


def test_v20_range_search_no_corpus_shuffle(spark):
    """Range search must broadcast the bounded query set and stream the
    corpus once — the only hash exchange allowed is table_parallel's
    deliberate input-split repartition, never a join-driven shuffle."""
    plan = plan_of(QUERIES["v20_range_search"](spark, SF_SMOKE), "simple")
    # every hash exchange must be a deliberate REPARTITION_BY_NUM (the
    # table_parallel input-split spread — which can appear twice when the
    # shared quantized-vector cache is populated, since the cached
    # relation's original plan is printed too), never a join-driven
    # ENSURE_REQUIREMENTS shuffle
    hash_ex = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert all("REPARTITION_BY_NUM" in ln for ln in hash_ex), plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q95_hhi_share_join_broadcasts(spark):
    """Nation totals (25 rows) must broadcast back onto the supplier
    shares — never shuffle the share frame to meet a bounded table."""
    plan = plan_of(QUERIES["q95_supplier_hhi"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q96_pareto_has_no_global_funnel(spark):
    """The descending cumulative sum must go through the range-partition
    path: every window in the plan partitions by the cumsum pid column
    (a global ORDER BY window would carry an empty partition spec)."""
    plan = plan_of(QUERIES["q96_pareto_customers"](spark, SF_SMOKE), "simple")
    windows = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert windows, plan
    for ln in windows:
        assert "_gr_pid" in ln, ln


def test_m07_chunk_dedup_two_bounded_exchanges(spark):
    """Chunking is a per-row transform; only the (media, hash) distinct
    aggregate and the bounded media rollup may exchange — and payload
    bytes never shuffle (only md5 hashes do)."""
    plan = plan_of(QUERIES["m07_chunk_dedup_report"](spark, SF_SMOKE), "simple")
    # input-split repartition + (media, hash) distinct + media rollup
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "Join" not in plan


def test_q97_migration_ranking_window_free(spark):
    """Both period rankings ride the fused range-partition path (r9): ONE
    range exchange for both periods, NO window at all (the local rank is
    read off monotonically_increasing_id above the partition sort — the
    r8 window form cost a second full-data exchange on the ranking pid),
    and never a global (unpartitioned) window funnel."""
    plan = plan_of(QUERIES["q97_segment_migration"](spark, SF_SMOKE), "simple")
    assert "windowspecdefinition" not in plan, plan
    assert "hashpartitioning(_gr_pid" not in plan, plan
    assert plan.count("rangepartitioning(_period") >= 1, plan


def test_q53_fact_path_single_exchange(spark):
    """The (orderkey, suppkey) aggregate, the orderkey window and the
    orders semi-join all ride ONE hash(l_orderkey) exchange (r9): the
    prefix-key pre-partition must not regress back to the r8 plan's
    hash(ok, sk) + hash(ok) double shuffle of the fact-sized pair frame."""
    plan = plan_of(QUERIES["q53_sole_return_suppliers"](spark, SF_SMOKE), "simple")
    assert "hashpartitioning(l_orderkey" in plan, plan
    # exactly one exchange mentions l_orderkey; none mentions l_suppkey
    assert plan.count("hashpartitioning(l_orderkey") == 1, plan
    assert "hashpartitioning(l_suppkey" not in plan
    for ln in plan.splitlines():
        if "hashpartitioning" in ln and "l_suppkey" in ln:
            raise AssertionError(ln)


def test_q57_fact_path_single_exchange(spark):
    """Same prefix-key rule for q57: one hash(l_partkey) exchange serves
    the (partkey, suppkey) aggregate and the argmin window."""
    plan = plan_of(QUERIES["q57_min_cost_supplier"](spark, SF_SMOKE), "simple")
    assert plan.count("hashpartitioning(l_partkey") == 1, plan
    for ln in plan.splitlines():
        if "hashpartitioning" in ln and "l_suppkey" in ln:
            raise AssertionError(ln)


def test_t27_fused_midranks_one_range_exchange(spark):
    """Both midrank passes ride ONE grouped cumsum (r10, the q93 recipe):
    exactly one range exchange on the (dim, v) tag space, no _gr_pid hash
    exchange, no window."""
    plan = plan_of(
        QUERIES["t27_quality_rank_correlation"](spark, SF_SMOKE), "simple"
    )
    assert "hashpartitioning(_gr_pid" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    # any range exchange still visible must be the fused one on the
    # (dim, v) tag space — the pre-fusion shape range-partitioned on x and
    # on y separately; the pinned midrank table usually truncates the
    # cumsum subtree out of the final plan entirely (flat scan), which is
    # the stronger property
    for ln in plan.splitlines():
        if "rangepartitioning(" in ln:
            assert "rangepartitioning(dim" in ln, ln


def test_d10_connected_components_plan_is_flat(spark):
    """The label-propagation loop pins (eager-checkpoints) each round's
    vertex-sized label table, so the RETURNED component frame's plan is
    flat — persist alone left the full LSH pipeline nested once per round
    (the committed r9 d10 plan carried 1,134 Exchange nodes; p05's 2,257)."""
    plan = plan_of(QUERIES["d10_dedup_clusters"](spark, SF_SMOKE), "simple")
    assert plan.count("Exchange") <= 12, plan.count("Exchange")


def test_q99_value_bands_single_band_exchange(spark):
    """Band histogram is one fact projection into a bounded aggregate —
    exactly one hash exchange (the band groupBy); the scalar total joins
    back broadcast."""
    plan = plan_of(QUERIES["q99_value_bands"](spark, SF_SMOKE), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan
