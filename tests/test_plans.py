"""Physical-plan regression tests: pin the scale-critical plan shapes
SCALE.md claims, so a refactor that silently loses a broadcast or a
pushdown fails CI — the plan IS the product at 100 TB.
"""

from __future__ import annotations

import pytest

from braintumor_data_pipeline_spark import registry
from braintumor_data_pipeline_spark.sources.fixtures import load_table


def _plan(spark, sf_dir, name: str) -> str:
    df = registry.all_queries()[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "star_join_revenue")
    assert plan.count("BroadcastHashJoin") >= 3, plan[:1500]
    assert "SortMergeJoin" not in plan or "lineitem" in plan


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert "PushedFilters: [" in plan
    # shipdate filter must reach the parquet scan, not sit in a Filter
    i = plan.index("PushedFilters")
    assert "l_shipdate" in plan[i : i + 300], plan[i : i + 300]
    # column pruning: the scan must not read all 11 lineitem columns
    j = plan.index("ReadSchema", i)
    read_schema = plan[j : j + 400]
    assert "l_partkey" not in read_schema, read_schema


def test_split_sum_stays_on_long_path(spark, sf_dir):
    """The money split sum must aggregate LONGs, not DECIMAL(38,6):
    a decimal(38,6) buffer exceeds Spark's 18-digit long-backed Decimal
    and silently reverts the ~3× BigDecimal slowdown the split sum
    exists to avoid. The only decimal in the plan is the O(groups)
    post-agg recombine (decimal(38,0))."""
    for name in ("pricing_summary", "star_join_revenue", "rollup_lineitem"):
        plan = _plan(spark, sf_dir, name)
        i = plan.index("HashAggregate")
        agg_section = plan[i : plan.index("Scan ", i)]
        assert "sum(__" in agg_section or "sum" in agg_section
        assert "decimal(38,6)" not in agg_section, (name, agg_section[:400])


def test_flagship_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "flagship_avg_by_group")
    # partial agg → one exchange → final agg (+ top-K, no global sort)
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    assert "TakeOrderedAndProject" in plan


def test_topk_plans_as_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_customers_by_revenue")
    assert "TakeOrderedAndProject" in plan


def test_semi_and_anti_join_operators(spark, sf_dir):
    semi = _plan(spark, sf_dir, "semi_join_active_customers")
    anti = _plan(spark, sf_dir, "anti_join_inactive_customers")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_no_python_row_udf_anywhere(spark, sf_dir):
    """Row-at-a-time Python UDFs (BatchEvalPython) are banned from every
    registered plan — Arrow stages (ArrowEvalPython / MapInPandas /
    MapInArrow / FlatMapGroupsInPandas) are the only Python allowed."""
    bad = []
    for name, entry in sorted(registry.all_queries().items()):
        plan = entry.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            bad.append(name)
    assert not bad, f"row-at-a-time Python UDFs in: {bad}"


def test_static_partition_pruning_in_scan(spark, sf_dir):
    """The date filter on the day-partitioned events layout must land in
    PartitionFilters (directory elimination — no footer I/O for pruned
    days), NOT in a post-scan Filter or the row-group PushedFilters."""
    import re

    plan = _plan(spark, sf_dir, "events_partition_pruned_daily")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan[:1500]
    pf = m.group(1)
    assert "2024-01-05" in pf and "2024-01-09" in pf, pf


def test_dynamic_partition_pruning_subquery(spark, sf_dir):
    """The weekend star join must carry a dynamicpruningexpression in
    the fact scan's PartitionFilters — the runtime dim filter prunes
    day directories without any static date predicate."""
    import re

    plan = _plan(spark, sf_dir, "dpp_star_join_weekend")
    m = re.search(r"PartitionFilters: \[([^\]]*)", plan)
    assert m, plan[:1500]
    assert "dynamicpruning" in plan, plan[:2000]
    # and the dim side is broadcast (DPP reuses that exchange)
    assert "BroadcastExchange" in plan


def test_partition_pruning_reads_fewer_files(spark, sf_dir):
    """Effect, not just plan text: the pruned scan must touch 5 day
    directories of 30. Executed-plan metrics carry the actual file
    count."""
    from braintumor_data_pipeline_spark.sources.maintenance import (
        write_events_partitioned,
    )
    from pyspark.sql import functions as F

    base = write_events_partitioned(spark, sf_dir)
    e = spark.read.parquet(base)
    pruned = e.filter(
        (F.col("event_date") >= F.lit("2024-01-05").cast("date"))
        & (F.col("event_date") <= F.lit("2024-01-09").cast("date"))
    )
    pruned.count()  # execute so scan metrics are populated
    scan = [
        n
        for n in pruned._jdf.queryExecution().executedPlan().toString().split("\n")
        if "Scan parquet" in n
    ]
    assert scan
    # distinct partition values actually returned = exactly the 5 days
    days = [r[0] for r in pruned.select("event_date").distinct().collect()]
    assert len(days) == 5, days


#: Exchange budget per headline query (VERDICT r3 task 6): shuffles and
#: broadcasts are THE scale costs, so pin each headline plan's count —
#: a refactor that adds a shuffle (like r2's unexplained star_join +32%)
#: fails here instead of surfacing as bench noise. Counts are from the
#: non-AQE planning pass (AQE finalizes at execution; these are the
#: static upper bounds).
HEADLINE_EXCHANGE_BUDGET = {
    "flagship_avg_by_group": (1, 0),
    "pricing_summary": (1, 0),
    "star_join_revenue": (1, 4),
    "top_revenue_orders": (1, 2),
    "window_rank_orders": (1, 0),
    "rollup_lineitem": (1, 0),
    "histogram_totalprice": (1, 1),
    "minhash_dedup_groups": (2, 0),
    # r12: carried-counts restructure — per-doc n_sh rides the self-join
    # as a narrow column and distinct happens per-doc in the array, so
    # the counts aggregation + its two broadcast re-joins and the
    # row-level distinct exchange are gone (7, 3) → (1, 1)
    "ngram_jaccard_pairs": (1, 1),
    "knn_bruteforce_cosine": (1, 0),
    "pixel_minmax_normalize": (1, 0),
    "mask_metrics": (1, 0),
    "region_grow_component": (3, 2),
    "events_session_30m": (1, 0),
    "events_asof_last_view": (1, 0),
}


def test_headline_exchange_budgets(spark, sf_dir):
    """Every headline query's plan has exactly its pinned number of
    hash-partitioning exchanges and broadcast exchanges, and no
    sort-merge join anywhere (all headline joins are broadcast or
    pre-partitioned)."""
    import bench

    assert set(HEADLINE_EXCHANGE_BUDGET) == set(bench.HEADLINE)
    # a warm cache from earlier tests makes persist()-once plans print
    # their InMemoryRelation child trees (extra nested exchanges) —
    # measure against a cold cache so the budget is deterministic
    spark.catalog.clearCache()
    bad = []
    for name, (n_exch, n_bcast) in HEADLINE_EXCHANGE_BUDGET.items():
        plan = _plan(spark, sf_dir, name)
        got = (
            plan.count("Exchange hashpartitioning"),
            plan.count("BroadcastExchange"),
        )
        if got != (n_exch, n_bcast) or "SortMergeJoin" in plan:
            bad.append((name, got, "SMJ" if "SortMergeJoin" in plan else ""))
    assert not bad, bad


def test_unknown_table_raises_clean_error(spark, sf_dir):
    with pytest.raises(ValueError, match="[Uu]nknown"):
        load_table(spark, sf_dir, "nonexistent_table")


def test_bad_sf_dir_fails_fast(spark):
    from pyspark.errors import AnalysisException

    with pytest.raises((AnalysisException, Exception)):
        load_table(spark, "/root/testdata/sf_does_not_exist", "orders").count()


def test_approx_percentile_within_tolerance(spark, sf_dir):
    """approx_percentile (the at-scale sketch) must land within 1% of
    the exact percentile on o_totalprice — accuracy gate on the
    approximate path, mirroring the recall gates on ANN."""
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders")
    row = o.agg(
        F.expr("percentile(o_totalprice, array(0.5, 0.9))").alias("exact"),
        F.expr(
            "approx_percentile(o_totalprice, array(0.5, 0.9), 10000)"
        ).alias("approx"),
    ).first()
    for e, a in zip(row.exact, row.approx):
        assert abs(a - e) / e < 0.01, (e, a)


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey", 0.02).alias("approx"),
    ).first()
    assert abs(row.approx - row.exact) / row.exact < 0.05, row


def test_q6_all_predicates_pushed_no_shuffle(spark, sf_dir):
    """Q6 is the pushdown showcase: every predicate reaches the parquet
    scan and the plan has no hashpartitioning exchange at all (scalar
    aggregate = partial + final over SinglePartition)."""
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    i = plan.index("PushedFilters")
    pushed = plan[i : i + 500]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    assert "Exchange hashpartitioning" not in plan, plan[:1500]
    j = plan.index("ReadSchema", i)
    assert "l_orderkey" not in plan[j : j + 400]  # pruned to 4 columns


def test_q3_two_sided_date_pushdown_topk(spark, sf_dir):
    """Q3 pushes its date range to BOTH fact scans and plans the LIMIT
    as TakeOrderedAndProject, never a global sort."""
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan
    import re

    pushes = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("o_orderdate" in p for p in pushes), pushes
    assert any("l_shipdate" in p for p in pushes), pushes


def test_q16_not_in_plans_as_anti_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q16_supplier_count_by_part")
    assert "LeftAnti" in plan
    # distinct agg expands to two aggregation levels, both present
    assert plan.count("HashAggregate") >= 4, plan[:2000]


def test_q15_scalar_max_is_broadcast(spark, sf_dir):
    """The max-of-aggregate comparison must be a 1-row broadcast, not a
    shuffled join — Catalyst even turns the equality cross join into a
    BroadcastHashJoin keyed on the normalized value."""
    plan = _plan(spark, sf_dir, "q15_top_supplier")
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """When a shuffle join's small side is selectively filtered, Spark
    injects a runtime bloom filter on the big side's join key — at
    100 TB this skips whole row groups of lineitem that cannot match.
    Pin that the injection actually fires under the relevant confs."""
    from pyspark.sql import functions as F

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    ]
    old = {}
    for k in keys:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:1500]
        n = j.count()
        assert n == 1
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_same_key_aggregations_reuse_one_exchange(spark, sf_dir):
    """Two aggregates consumed off the same shuffled child reuse ONE
    exchange (ReusedExchange) — at 100 TB the second shuffle of the
    fact table is the one you didn't pay."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("q"), F.count("*").alias("n")
    )
    big = per_key.filter(F.col("q") > 100)
    small = per_key.filter(F.col("q") <= 100)
    both = big.join(small, "l_orderkey", "full_outer")
    # AQE finalizes (and reuses) only during execution of THIS df's own
    # query execution — count() would spawn a separate one
    both.collect()
    plan = both._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan[:2000]


def test_observe_metrics_ride_the_job(spark, sf_dir):
    """df.observe: data-quality counters collected DURING the action —
    no second scan. The pattern every production pipeline uses to emit
    row counts / null counts / sums alongside the write."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("quality")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity")).alias("total_qty"),
        F.count_if(F.col("l_discount") > 0.1).alias("big_discounts"),
    )
    n = observed.filter(F.col("l_quantity") > 0).count()
    got = obs.get
    assert got["n_rows"] == li.count() == n
    assert got["total_qty"] == li.agg(F.sum("l_quantity")).first()[0]
    assert got["big_discounts"] == li.filter(F.col("l_discount") > 0.1).count()


def test_join_strategy_hints_agree_on_results(spark, sf_dir):
    """The three join strategies (broadcast-hash, sort-merge,
    shuffle-hash) are PHYSICAL choices — forcing each via hints must
    leave the logical answer untouched. Guards against ever encoding a
    strategy-dependent assumption (ordering, null handling) into a
    query, and pins that Spark actually honors each hint."""
    from braintumor_data_pipeline_spark.sources.fixtures import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")

    def joined(hint: str):
        df = (
            li.join(o.hint(hint), li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.expr(
                        "cast(floor(l_extendedprice * 100 + 0.5) as bigint)"
                    )
                ).alias("cents"),
            )
        )
        return df

    expected_op = {
        "broadcast": "BroadcastHashJoin",
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
    }
    results = {}
    for hint, op in expected_op.items():
        df = joined(hint)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert op in plan, f"{hint} hint not honored:\n{plan[:500]}"
        results[hint] = sorted(
            (r.o_orderpriority, r.n, r.cents) for r in df.collect()
        )
    assert results["broadcast"] == results["merge"] == results["shuffle_hash"]


def test_observe_collect_metrics_barrier(spark, sf_dir):
    """`observed_metrics_gate`'s core contract: CollectMetrics is a
    semantic barrier. The downstream priority filter must NOT push
    below the observe() node into the scan (the metrics must see every
    scanned row), and the observed count must cover the full table
    while the consuming action sees only the filtered subset."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("barrier_probe")
    monitored = o.observe(obs, F.count(F.lit(1)).alias("n"))
    df = monitored.filter(F.col("o_orderpriority") == "1-URGENT")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CollectMetrics" in plan, plan[:1500]
    i = plan.index("PushedFilters")
    assert "o_orderpriority" not in plan[i : i + 300], plan[i : i + 300]
    n_filtered = df.count()
    n_all = o.count()
    assert obs.get["n"] == n_all
    assert n_filtered < n_all
