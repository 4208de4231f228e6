"""Curation pipeline unit tests: stage semantics on a hand-built corpus."""

from __future__ import annotations

import spark_alchemy_spark.operators.dedup as dedup_mod
from spark_alchemy_spark.operators.curate import curate_corpus
from spark_alchemy_spark.operators.dedup import pairs_to_comp_map

GOOD = "the quick brown fox jumps over the lazy dog and then runs far away to the old barn again tonight with joy"  # 21 tokens, en


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_quality_and_exact_dedup(spark):
    docs = _docs(
        spark,
        [
            (1, GOOD),
            (2, "too short"),  # quality-dropped
            (3, GOOD),  # exact duplicate of 1 -> dropped (min id wins)
            (4, GOOD + " extra"),  # different fingerprint -> survives
        ],
    )
    out = curate_corpus(docs, near_dup_threshold=None).orderBy("doc_id").collect()
    assert [r["doc_id"] for r in out] == [1, 4]
    assert out[0]["lang_pred"] == "en"
    assert out[0]["n_tokens"] == len(GOOD.split())


def test_near_dedup_drops_component_non_minima(spark):
    base = GOOD + " alpha beta gamma delta epsilon zeta eta theta iota kappa"
    variant = base.replace("joy", "glee")  # high-Jaccard near-dup
    other = (
        "sailing boats drift across calm blue water while gulls circle high "
        "above the harbor and fishermen mend their nets beside wooden docks "
        "every single morning before sunrise arrives"
    )
    docs = _docs(spark, [(1, base), (2, variant), (3, other)])
    out = curate_corpus(docs, near_dup_threshold=0.5).orderBy("doc_id").collect()
    ids = [r["doc_id"] for r in out]
    assert 1 in ids and 2 not in ids  # 2 lost to 1
    assert 3 in ids


def test_pair_losers_union_find(spark):
    """The driver union-find of pairs_to_comp_map: every node that is
    not its component's minimum is a loser."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 5), (7, 9), (3, 4)], "id_a long, id_b long"
    )
    comp = pairs_to_comp_map(pairs).collect()
    assert {r["node"] for r in comp if r["node"] != r["comp"]} == {2, 5, 9, 4}


def test_near_dedup_distributed_path_matches_driver_path(spark, monkeypatch):
    """With DRIVER_PAIR_LIMIT = 0 the loser set must come from distributed
    connected_components — the driver union-find must never run — and
    the survivor set must equal the driver-shortcut result."""
    base = GOOD + " alpha beta gamma delta epsilon zeta eta theta iota kappa"
    variant = base.replace("joy", "glee")
    variant2 = base.replace("barn", "shed")  # chains: 1~2, 1~3
    docs = _docs(spark, [(1, base), (2, variant), (3, variant2)])

    expected = sorted(
        r["doc_id"]
        for r in curate_corpus(docs, near_dup_threshold=0.5).collect()
    )

    def _boom(_):
        raise AssertionError("driver-side union-find ran on the distributed path")

    monkeypatch.setattr(dedup_mod, "DRIVER_PAIR_LIMIT", 0)
    monkeypatch.setattr(dedup_mod, "_min_id_components", _boom)
    got = sorted(
        r["doc_id"]
        for r in curate_corpus(docs, near_dup_threshold=0.5).collect()
    )
    assert got == expected and 1 in got


def test_curate_string_doc_ids(spark):
    """String doc ids flow through both dedup stages (regression: the
    loser DataFrame schema used to hard-code long)."""
    other = (
        "sailing boats drift across calm blue water while gulls circle high "
        "above the harbor and fishermen mend their nets beside wooden docks "
        "every single morning before sunrise arrives"
    )
    docs = spark.createDataFrame(
        [("a", GOOD), ("b", GOOD), ("c", other)],
        "doc_id string, text string",
    )
    out = curate_corpus(docs, near_dup_threshold=0.9)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert "a" in ids and "b" not in ids and "c" in ids


def test_connected_components_string_ids_chain(spark):
    """Chained components with STRING node ids converge to the true
    minimum label (regression: SUM-based convergence was NULL for
    strings and exited the loop one round early)."""
    from spark_alchemy_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("d", "c"), ("c", "b"), ("b", "a"), ("x", "y")],
        "id_a string, id_b string",
    )
    comp = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert {comp[n] for n in "abcd"} == {"a"}
    assert {comp[n] for n in "xy"} == {"x"}


def test_winsorize_clamps_to_group_quantiles(spark):
    from pyspark.sql import functions as F

    from spark_alchemy_spark.operators.curate import winsorize

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 101)] + [("b", 1000.0), ("b", 2000.0)],
        "g string, v double",
    )
    out = winsorize(df, ["g"], "v", lo=0.10, hi=0.90)
    a = out.filter(F.col("g") == "a")
    mx = a.agg(F.max("v_wins")).collect()[0][0]
    mn = a.agg(F.min("v_wins")).collect()[0][0]
    # exact interpolated quantiles of 1..100 at 0.1/0.9: 10.9 and 90.1
    assert abs(mn - 10.9) < 1e-9 and abs(mx - 90.1) < 1e-9
    # untouched interior values survive exactly
    assert a.filter(F.col("v") == 50.0).collect()[0]["v_wins"] == 50.0
    # group b: its own bounds, not group a's
    b = {r["v"]: r["v_wins"] for r in out.filter(F.col("g") == "b").collect()}
    assert b[1000.0] >= 1000.0 and b[2000.0] <= 2000.0
    import pytest

    with pytest.raises(ValueError):
        winsorize(df, ["g"], "v", lo=0.9, hi=0.1)


def test_winsorize_null_values_and_null_groups(spark):
    """NULL values stay NULL (not fabricated as the clamp bound); rows
    with NULL group keys survive with their own group's bounds."""
    from pyspark.sql import functions as F

    from spark_alchemy_spark.operators.curate import winsorize

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 101)]
        + [("a", None), (None, 5.0), (None, 500.0), (None, None)],
        "g string, v double",
    )
    out = winsorize(df, ["g"], "v", lo=0.10, hi=0.90)
    assert out.count() == 104  # row count preserved
    assert out.filter(F.col("g") == "a").filter(
        F.col("v").isNull() & F.col("v_wins").isNotNull()
    ).count() == 0
    ng = {
        (r["v"], r["v_wins"])
        for r in out.filter(F.col("g").isNull()).collect()
    }
    # NULL group clamps within its own [P10, P90] of {5, 500}
    vals = {p for p in ng if p[0] is not None}
    assert all(5.0 <= w <= 500.0 for _, w in vals)
    assert (None, None) in ng
