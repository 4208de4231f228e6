"""Theta / KLL sketch algebra: null contract, set-algebra goldens, and
the quantile-convention equivalence the oracle entries rely on."""

import math

import pytest
from pyspark.sql import functions as F

from spark_alchemy_spark.functions import hll
from spark_alchemy_spark.functions import sketches as S


def test_theta_null_algebra(spark):
    """Reference contract (HLLFunctions.scala:158-159): empty/all-null
    group -> NULL sketch, not an empty sketch."""
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", None)], "g string, v int"
    )
    rows = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(
            S.theta_init_agg("v").alias("t"),
            S.kll_init_agg("v").alias("k"),
        )
        .collect()
    }
    assert rows["a"]["t"] is not None and rows["a"]["k"] is not None
    assert rows["b"]["t"] is None and rows["b"]["k"] is None


def test_theta_set_algebra_exact(spark):
    evens = set(range(0, 2000, 2))
    threes = set(range(0, 2000, 3))
    df = spark.range(2000).select(
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("a"),
        F.when(F.col("id") % 3 == 0, F.col("id")).alias("b"),
    )
    sk = df.agg(
        S.theta_init_agg("a", 14).alias("a"), S.theta_init_agg("b", 14).alias("b")
    )
    row = sk.select(
        S.theta_cardinality(S.theta_intersection_row("a", "b")).alias("i"),
        S.theta_cardinality(S.theta_difference_row("a", "b")).alias("d"),
        S.theta_cardinality(S.theta_union_row("a", "b", 14)).alias("u"),
    ).collect()[0]
    assert row["i"] == len(evens & threes)
    assert row["d"] == len(evens - threes)
    assert row["u"] == len(evens | threes)


def test_theta_row_ops_null_skip(spark):
    df = spark.range(10).agg(S.theta_init_agg("id", 14).alias("s")).select(
        F.col("s"), F.lit(None).cast("binary").alias("n")
    )
    row = df.select(
        S.theta_cardinality(S.theta_union_row("s", "n")).alias("u"),
        S.theta_intersection_row("s", "n").alias("i"),
        S.theta_union_row("n", "n").alias("nn"),
    ).collect()[0]
    assert row["u"] == 10  # one-side null union -> other side
    assert row["i"] is None  # intersection with null -> null sketch
    assert row["nn"] is None


def test_kll_quantile_matches_disc_convention(spark):
    """Spark's inclusive-rank get_quantile == smallest value with
    cumulative rank >= ceil(p*n) (DuckDB quantile_disc), exact below
    k retained values."""
    vals = [float((v * 37) % 101) for v in range(5001)]
    df = spark.createDataFrame([(v,) for v in vals], "d double")
    sk = df.agg(S.kll_init_agg("d", 65535).alias("sk"))
    got = sk.select(
        S.kll_quantile("sk", 0.5).alias("q50"),
        S.kll_quantile("sk", 0.9).alias("q90"),
        S.kll_count("sk").alias("n"),
    ).collect()[0]
    srt = sorted(vals)
    n = len(srt)
    assert got["n"] == n
    for p, key in ((0.5, "q50"), (0.9, "q90")):
        assert got[key] == srt[math.ceil(p * n) - 1]


def test_kll_row_merge_null_skip_and_exact(spark):
    vals = [float(v) for v in range(3000)]
    df = spark.createDataFrame([(v,) for v in vals], "d double")
    sk = df.agg(
        S.kll_init_agg(F.when(F.col("d") < 1000, F.col("d")), 65535).alias("lo"),
        S.kll_init_agg(F.when(F.col("d") >= 1000, F.col("d")), 65535).alias("hi"),
        S.kll_init_agg(F.lit(None).cast("double"), 65535).alias("none"),
    )
    row = sk.select(
        S.kll_count(S.kll_row_merge("lo", "hi")).alias("n"),
        S.kll_quantile(S.kll_row_merge("lo", "hi"), 0.5).alias("q50"),
        S.kll_count(S.kll_row_merge("lo", "none")).alias("n_skip"),
        S.kll_row_merge("none", "none").alias("nn"),
    ).collect()[0]
    assert row["n"] == 3000
    assert row["q50"] == 1499.0  # ceil(0.5*3000)-1 = index 1499
    assert row["n_skip"] == 1000
    assert row["nn"] is None


@pytest.fixture(scope="module")
def sketch_view(spark):
    """One sketch row per g: g=0 has every sketch, g=1 a NULL second
    theta and KLL sketch, g=2 only NULLs (all-NULL groups)."""
    hll.register(spark)
    raw = spark.createDataFrame(
        [
            (g, v if g < 2 else None, v if g == 0 else None)
            for g in range(3)
            for v in range(g * 400, g * 400 + 300)
        ],
        "g int, v long, w long",
    )
    rows = raw.groupBy("g").agg(
        S.theta_init_agg("v", 12).alias("a"),
        S.theta_init_agg(F.col("w") * 2, 12).alias("b"),
        S.kll_init_agg("v", 200).alias("k"),
        S.kll_init_agg("w", 200).alias("l"),
    ).collect()
    df = spark.createDataFrame(rows, "g int, a binary, b binary, k binary, l binary")
    df.createOrReplaceTempView("sketch_rows")
    return df


@pytest.mark.parametrize(
    "sql, dataframe",
    [
        ("theta_cardinality(a)", lambda: S.theta_cardinality("a")),
        ("theta_union_row(a, b)", lambda: S.theta_union_row("a", "b")),
        ("theta_union_row(a, b, 14)", lambda: S.theta_union_row("a", "b", 14)),
        ("theta_intersection_row(a, b)", lambda: S.theta_intersection_row("a", "b")),
        ("theta_difference_row(a, b)", lambda: S.theta_difference_row("a", "b")),
        ("kll_row_merge(k, l)", lambda: S.kll_row_merge("k", "l")),
        ("kll_quantile(k, 0.9)", lambda: S.kll_quantile("k", 0.9)),
        ("kll_quantile(k, 0.5)", lambda: S.kll_quantile("k", 0.5)),
        ("kll_count(k)", lambda: S.kll_count("k")),
    ],
)
def test_sql_names_match_dataframe_twins(spark, sketch_view, sql, dataframe):
    """Each theta/KLL SQL name gives what its DataFrame twin gives, NULL
    rows included; literal arguments reach the twin as numbers."""
    got = spark.sql(f"SELECT g, {sql} AS r FROM sketch_rows ORDER BY g").collect()
    expected = sketch_view.select("g", dataframe().alias("r")).orderBy("g").collect()
    assert got == expected
    assert expected[2]["r"] is None  # the all-NULL group


def test_cms_decode_and_point_queries(spark):
    """Decoder matches Spark's CountMinSketchImpl bytes exactly —
    negative and >32-bit items included."""
    from spark_alchemy_spark.functions import cms

    rows = [(v,) for v in [5] * 100 + [-7] * 25 + [2**40 + 3] * 4 + [0] * 9]
    df = spark.createDataFrame(rows, "v long")
    sk = bytes(
        df.agg(cms.count_min_sketch_agg("v", eps=0.001).alias("s"))
        .collect()[0]["s"]
    )
    total, depth, width, hash_a, table = cms.decode_cms(sk)
    assert total == len(rows)
    for item, exact in ((5, 100), (-7, 25), (2**40 + 3, 4), (0, 9)):
        assert cms._estimate_long(item, depth, width, hash_a, table) == exact
    assert cms.cms_total_count(sk) == len(rows)


def test_cms_inner_product_join_size(spark):
    """Inner product over shared-seed sketches is an upper bound on the
    exact join size, exact when collision-free; mismatched geometries
    raise."""
    from spark_alchemy_spark.functions.cms import (
        cms_inner_product,
        count_min_sketch_agg,
    )

    a = spark.range(1000).select((F.col("id") % 50).alias("k"))   # 20 each
    b = spark.range(200).select((F.col("id") % 100).alias("k"))   # 2 each
    ska = a.agg(count_min_sketch_agg("k", eps=0.001).alias("s")).collect()[0]["s"]
    skb = b.agg(count_min_sketch_agg("k", eps=0.001).alias("s")).collect()[0]["s"]
    est = cms_inner_product(ska, skb)
    exact = 50 * 20 * 2  # keys 0..49 overlap: 20 per key in a, 2 in b
    assert est >= exact
    assert est == exact  # width 2000 >> 100 distinct keys: collision-free
    import pytest

    skc = b.agg(
        count_min_sketch_agg("k", eps=0.001, seed=7).alias("s")
    ).collect()[0]["s"]
    with pytest.raises(ValueError, match="not comparable"):
        cms_inner_product(ska, skc)


def test_sketch_guided_join_picks_strategy(spark):
    """Small estimated join -> broadcast hint in the plan; estimate
    above threshold -> sort-merge. The decision is made from sketches
    alone (no shuffle of either input before the choice)."""
    from spark_alchemy_spark.functions.cms import sketch_guided_join

    a = spark.range(2000).select((F.col("id") % 100).alias("k"), "id")
    b = spark.range(500).select((F.col("id") % 100).alias("k"))
    joined, est = sketch_guided_join(a, b, "k", broadcast_rows=10_000_000)
    assert est >= 2000 * 5  # 20 per key in a x 5 per key in b x 100 keys
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the gate is the RIGHT SIDE's row count, not the pair estimate: a
    # right side bigger than the budget goes sort-merge even though
    # the estimated output is identical
    joined2, est2 = sketch_guided_join(a, b, "k", broadcast_rows=499)
    plan2 = joined2._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan2 and est2 == est
    # correctness unchanged by the hint
    assert joined.count() == joined2.count() == 2000 * 5
