"""Plan-quality guardrails: the properties the operators are designed
around must be visible in the physical plan (pushdown, pruning,
broadcast, codegen, exchange reuse, Arrow batching).  Plan-only — no
jobs run."""

from __future__ import annotations

import re

from spark_alchemy_spark import plans
from spark_alchemy_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_dim_filter_pushed_to_scan(spark):
    df = QUERIES["q3_top_unshipped_orders"](spark, SF)
    plans.assert_filter_pushed(df, "c_mktsegment")


def test_q1_column_pruning(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF)
    plans.assert_columns_pruned(
        df,
        required={"l_returnflag", "l_quantity"},
        banned={"l_tax", "l_partkey", "l_suppkey", "l_orderkey"},
    )


def test_q5_broadcasts_dims(spark):
    df = QUERIES["q5_region_revenue"](spark, SF)
    plans.assert_broadcast_join(df)


def test_hll_aggregate_path_is_pure_jvm(spark):
    """The sketch algebra's aggregate path must never cross into Python
    (SURVEY.md §7.1: 100% codegen'd Catalyst), whether it is built with
    the DataFrame API or resolved from SQL text by ``hll.register``."""
    from spark_alchemy_spark.functions import hll

    hll.register(spark)
    spark.range(1000).selectExpr("id % 7 AS g", "id AS x").createOrReplaceTempView(
        "plan_events"
    )
    init_agg = "SELECT g, hll_init_agg(x) AS sk FROM plan_events GROUP BY g"
    dfs = {
        name: QUERIES[name](spark, SF)
        for name in ("hll_init_agg_cardinality", "hll_merge_reaggregate")
    }
    dfs["sql hll_init_agg"] = spark.sql(init_agg)
    dfs["sql hll_merge"] = spark.sql(
        f"SELECT g % 2 AS h, hll_merge(sk) AS sk FROM ({init_agg}) GROUP BY g % 2"
    )
    for name, df in dfs.items():
        assert plans.python_eval_ops(df) == [], name
        # codegen spans only materialize in the AQE final plan
        df.collect()
        assert plans.codegen_stage_count(df) >= 1, name


def test_hll_init_paths_are_pure_jvm(spark):
    """The per-row inits run in the JVM writer (``RowSketch.java``), so
    ``hll_init`` / ``hll_init_collection`` / ``hll_init_collection_agg``
    plan no Python operator, built with the DataFrame API or resolved from
    SQL text.  ``hll_sql_surface`` also runs ``hll_convert``, whose Arrow
    UDF (``per_value``) must be the only Python it plans."""
    from spark_alchemy_spark.functions import hll

    hll.register(spark)
    rows = spark.createDataFrame([(1, [1, 2]), (None, None)], "x bigint, xs array<bigint>")
    rows.createOrReplaceTempView("plan_rows")
    dfs = {
        name: QUERIES[name](spark, SF)
        for name in (
            "hll_init_scalar_merge",
            "hll_init_collection_words",
            "hll_init_collection_agg_words",
            "hll_sql_surface_collections",
        )
    }
    dfs["sql per-row"] = spark.sql(
        "SELECT hll_init(x), hll_init_collection(xs) FROM plan_rows"
    )
    dfs["sql collection agg"] = spark.sql(
        "SELECT hll_init_collection_agg(xs) FROM plan_rows"
    )
    for name, df in dfs.items():
        assert plans.python_eval_ops(df) == [], name
    plan = plans.formatted_plan(QUERIES["hll_sql_surface"](spark, SF))
    udf_args = re.findall(r"EvalPython\nInput .*\nArguments: (.*)", plan)
    assert udf_args, plan
    assert all(set(re.findall(r"(\w+)\(", a)) == {"per_value"} for a in udf_args), udf_args


def test_minhash_reuses_signature_exchange(spark):
    """The LSH self-join must consume ONE signature exchange (computed
    once), not recompute per side."""
    df = QUERIES["dedup_minhash_lsh"](spark, SF)
    # AQE materializes exchange reuse at runtime
    df.collect()
    assert plans.num_reused_exchanges(df) >= 1


def test_asof_join_single_shuffle_no_join_op(spark):
    """The as-of join is union+window: no physical join operator, and
    the only wide ops are the window shuffle."""
    df = QUERIES["asof_last_click_before_error"](spark, SF)
    assert plans.join_strategies(df) == []


def test_partitioned_layout_prunes_at_plan_time(spark):
    """The hive-partitioned layout must show a PartitionFilter on the
    scan (directories pruned before any file opens) and no residual
    data filter for the partition column."""
    df = QUERIES["source_partitioned_pruning"](spark, SF)
    pf = plans.partition_filters(df)
    assert any("o_orderpriority" in p for p in pf), pf
    assert not any("o_orderpriority" in p for p in plans.pushed_filters(df))


def test_q6_all_predicates_pushed(spark):
    df = QUERIES["q6_selective_revenue"](spark, SF)
    pushed = " ".join(plans.pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)


def test_q19_single_side_conjuncts_pushed_below_join(spark):
    """Catalyst must extract the per-side disjuncts of the OR-of-ANDs
    and push them into both scans."""
    df = QUERIES["q19_or_of_ands_revenue"](spark, SF)
    pushed = " ".join(plans.pushed_filters(df))
    assert "p_brand" in pushed, pushed
    assert "l_quantity" in pushed, pushed
    assert set(plans.join_strategies(df)) == {"BroadcastHashJoin"}


def test_sketch_aggregates_pure_jvm(spark):
    """Theta/KLL sketch entries stay fully JVM-side like the HLL path."""
    for name in ("theta_reaggregate_users", "kll_quantiles_quantity"):
        df = QUERIES[name](spark, SF)
        assert plans.python_eval_ops(df) == [], name


def test_tpch2_dims_broadcast(spark):
    """The adapted TPC-H matrix must broadcast every dimension side:
    no shuffle join against nation/region/part/supplier."""
    for name in ("q2_min_cost_supplier", "q8_market_share", "q9_product_profit"):
        df = QUERIES[name](spark, SF)
        plans.assert_broadcast_join(df)


def test_q6_style_pushdown_in_new_matrix(spark):
    """Selective date predicates must reach the lineitem scan."""
    df = QUERIES["q15_top_supplier"](spark, SF)
    plans.assert_filter_pushed(df, "l_shipdate")


def test_q21_single_fact_aggregation_no_python(spark):
    """The Q21 (NOT-)EXISTS rewrite must stay pure JVM (no correlated
    re-scans via Python, no Python eval at all)."""
    df = QUERIES["q21_waiting_suppliers"](spark, SF)
    assert plans.python_eval_ops(df) == []


def test_packing_and_ranking_stay_jvm(spark):
    """Contiguous packing and both ranking entries are pure-JVM plans;
    greedy packing's only Python is the Arrow applyInPandas pass."""
    for name in ("prep_pack_contiguous", "text_tfidf_top_terms", "text_bm25_search"):
        assert plans.python_eval_ops(QUERIES[name](spark, SF)) == [], name
    ops = plans.python_eval_ops(QUERIES["prep_pack_greedy"](spark, SF))
    assert ops and all(op == "FlatMapGroupsInPandas" for op in ops)


def test_repetition_stats_single_exchange(spark):
    """The window-lead shingle builder's id-exchange must be the ONLY
    exchange in repetition stats — both downstream aggregations reuse
    its partitioning."""
    df = QUERIES["prep_repetition_stats"](spark, SF)
    assert plans.num_exchanges(df) == 1


def test_join_strategy_hints_respected(spark):
    """Join strategy control: hints must reach the physical plan —
    shuffle_hash -> ShuffledHashJoin, merge -> SortMergeJoin,
    broadcast -> BroadcastHashJoin."""
    from spark_alchemy_spark.sources import load_tables

    t = load_tables(spark, SF, ("orders", "customer"))
    big, dim = t["orders"], t["customer"]
    cond = big.o_custkey == dim.c_custkey
    plan_of = lambda df: plans.formatted_plan(df)
    assert "ShuffledHashJoin" in plan_of(big.join(dim.hint("shuffle_hash"), cond))
    assert "SortMergeJoin" in plan_of(big.join(dim.hint("merge"), cond))
    assert "BroadcastHashJoin" in plan_of(big.join(dim.hint("broadcast"), cond))


def test_observation_metrics_api(spark):
    """The observe() metrics API (accumulator-backed, zero extra scan)
    works against engine queries — the hook a production pipeline uses
    for row-count / checksum observability."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from spark_alchemy_spark.sources import load_tables

    orders = load_tables(spark, SF, ("orders",))["orders"]
    obs = Observation("audit")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    n = observed.filter(F.col("o_totalprice") > 0).count()
    got = obs.get
    assert got["rows"] >= n and got["rows"] == orders.count()
    assert got["revenue"] > 0


def test_nonequi_join_is_broadcast_nested_loop(spark):
    """A pure non-equi join against a tiny banding table must plan as
    BroadcastNestedLoopJoin — never a cartesian product exchange."""
    df = QUERIES["nonequi_band_join_pricing"](spark, SF)
    plan = plans.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_pipe_syntax_pushdown_equals_classic(spark):
    """Pipe-syntax SQL must desugar to the same optimized scan as the
    classic form: the shipdate filter reaches the parquet scan and
    unused columns are pruned (pipe syntax is surface syntax, not a
    different planner path)."""
    df = QUERIES["sql_pipe_pricing"](spark, SF)
    plans.assert_filter_pushed(df, "l_shipdate")
    plans.assert_columns_pruned(
        df,
        required={"l_quantity", "l_extendedprice"},
        banned={"l_tax", "l_partkey", "l_suppkey", "l_orderkey"},
    )


def test_recursive_cte_bounded_plan(spark):
    """The recursive CTE entry must resolve and execute with planner-
    bounded recursion (depth O(log10 n)) — and return one row per
    supplier leaf."""
    df = QUERIES["sql_recursive_cte_chain"](spark, SF)
    n_suppliers = spark.read.parquet(SF + "/supplier.parquet").count()
    assert df.count() == n_suppliers


def test_runtime_bloom_filter_injected(spark):
    """Under the entry's conf window, Catalyst must inject the runtime
    bloom filter: bloom_filter_agg built over the selective orders
    slice, might_contain pushed below the lineitem side of the shuffle
    join (the optimizer-native semi-join reducer)."""
    from spark_alchemy_spark.queries_runtime import (
        _BLOOM_CONFS,
        _conf_window,
        bloom_reduced_join,
    )

    with _conf_window(spark, _BLOOM_CONFS):
        df = bloom_reduced_join(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString().lower()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan, plan[:2000]


def test_dpp_subquery_on_partitioned_fact(spark):
    """The partitioned star join must carry a dynamic-partition-pruning
    subquery on the fact scan: partition directories are selected at
    runtime from the filtered dim, not enumerated statically."""
    df = QUERIES["dpp_partitioned_star_join"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "dynamicpruning" in plan, plan[:2000]


def test_unigram_logprob_stays_jvm(spark):
    """The LM quality scorer is pure built-in expression work — no
    Python eval anywhere in the plan."""
    from spark_alchemy_spark import plans

    df = QUERIES["quality_unigram_logprob"](spark, SF)
    assert plans.python_eval_ops(df) == []


def test_bloom_entry_restores_session_confs(spark):
    """The bloom entry shapes plans via session confs; it must restore
    every one before returning (a leaked autoBroadcastJoinThreshold=-1
    would silently de-broadcast every later battery entry)."""
    from spark_alchemy_spark.queries_runtime import _BLOOM_CONFS

    before = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    QUERIES["runtime_bloom_join_reduction"](spark, SF).collect()
    after = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    assert after == before


def test_aqe_splits_skewed_join_partition(spark):
    """Under the entry's conf window, AQE must detect the hot reduce
    partition from runtime map stats and split it across mapper ranges:
    the final adaptive plan carries SortMergeJoin(skew=true)."""
    from spark_alchemy_spark.queries_runtime import (
        _SKEW_CONFS,
        _conf_window,
        aqe_skewed_join,
    )

    with _conf_window(spark, _SKEW_CONFS):
        df = aqe_skewed_join(spark)
        df.collect()  # skew split only exists in the FINAL adaptive plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]


def test_skew_entry_restores_session_confs(spark):
    """Like the bloom entry, the AQE-skew entry shapes plans via session
    confs and must restore every one before returning."""
    from spark_alchemy_spark.queries_runtime import _SKEW_CONFS

    before = {k: spark.conf.get(k, None) for k in _SKEW_CONFS}
    QUERIES["aqe_skew_join_split"](spark, SF).collect()
    after = {k: spark.conf.get(k, None) for k in _SKEW_CONFS}
    assert after == before


def test_committed_plan_audit_in_sync():
    """EXPLAIN_AUDIT.md (the committed battery-wide plan survey) must
    cover every registered entry and contain zero row-pickling Python
    boundaries — keeps the audit honest as the battery grows."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "EXPLAIN_AUDIT.md")) as f:
        lines = f.read().splitlines()
    rows = [ln for ln in lines if " py=" in ln]
    assert rows, "audit table body missing"
    assert not [r for r in rows if "BatchEvalPython" in r]
    # line-START match: a name that is a suffix of another entry's name
    # (sliding_window_counts vs stream_sliding_window_counts) must not
    # count as present via a substring hit inside the longer line
    missing = [
        n
        for n in QUERIES
        if not any(ln.startswith(n + " ") for ln in lines)
    ]
    assert not missing, f"entries missing from EXPLAIN_AUDIT.md: {missing}"


def test_conf_window_restores_on_success_and_error(spark):
    """_conf_window (shared by the bloom/skew entries and their tests)
    must restore set AND previously-unset keys, on clean exit and when
    the body raises."""
    import pytest

    from spark_alchemy_spark.queries_runtime import _conf_window

    set_key = "spark.sql.shuffle.partitions"
    unset_key = "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
    before_set = spark.conf.get(set_key)
    spark.conf.unset(unset_key)

    with _conf_window(spark, {set_key: "7", unset_key: "3.0"}):
        assert spark.conf.get(set_key) == "7"
        assert spark.conf.get(unset_key) == "3.0"
    assert spark.conf.get(set_key) == before_set
    assert spark.conf.get(unset_key, None) is None

    with pytest.raises(RuntimeError):
        with _conf_window(spark, {set_key: "9"}):
            raise RuntimeError("boom")
    assert spark.conf.get(set_key) == before_set


def test_decontaminate_bloom_prefilter_stays_in_scan_stage(spark):
    """The bloom probe must be a literal-array Filter in the corpus
    scan stage — as a 1-row broadcast crossJoin Catalyst reordered the
    exact semi-join BELOW it (prefilter ran after the join it guards);
    the literal form leaves no join to reorder, so any
    BroadcastNestedLoopJoin reappearing here is the regression."""
    from spark_alchemy_spark.operators.prep import decontaminate_bloom

    docs = spark.createDataFrame(
        [(i, f"some text number {i} for the corpus side") for i in range(20)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "benchmark text number 3 for the corpus")],
        "doc_id long, text string",
    )
    out = decontaminate_bloom(docs, bench, "doc_id", "text", n=3, num_bits=1 << 10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    # the probe predicate exists and is a plain Filter over the
    # inlined word array (element_at against a literal, not a column)
    assert "element_at([" in plan


def test_topk_window_uses_group_limit_pushdown(spark):
    """window_top_orders_per_customer must keep Spark's
    WindowGroupLimit rank pushdown, Partial BEFORE the exchange: each
    map task keeps only its local top-3 per customer, so the shuffle
    carries at most 3 rows per (task, customer) instead of every order
    — the optimization that makes global top-k-per-group survive 100x
    fact growth.  Disappearance (e.g. a filter rewritten off the
    rank column) is a silent full-shuffle regression."""
    import os

    import __spark_entry__ as E

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    df = E.queries()["window_top_orders_per_customer"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    wgl_lines = [ln for ln in plan.splitlines() if "WindowGroupLimit" in ln]
    assert len(wgl_lines) >= 2
    assert any("Partial" in ln for ln in wgl_lines)  # map-side top-k
    assert any("Final" in ln for ln in wgl_lines)
