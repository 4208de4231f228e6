"""Unit tests for dedup / similarity / temporal operators on small
hand-checkable fixtures."""

import math

import pytest
from pyspark.sql import functions as F

from spark_alchemy_spark.operators import (
    as_of_join,
    brute_force_topk,
    brute_force_topk_np,
    cosine_similarity,
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    sessionize,
    simhash_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g h"),            # exact dup of 1
        (3, "a b c d e f g x"),            # near dup of 1 (7/9 trigram-ish)
        (4, "q r s t u v w z"),            # unrelated
        (5, "h g f e d c b a"),            # reversed: same fingerprint as 1
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_dedup_keeps_min_id(docs):
    out = exact_dedup(docs, "text", "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4, 5]


def test_ngram_jaccard_pairs_golden(docs):
    out = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold_num=1, threshold_den=2)
    got = {(r["id_a"], r["id_b"]): (r["inter"], r["uni"]) for r in out.collect()}
    # docs 1,2 identical: 6 shingles each, inter=6, uni=6
    assert got[(1, 2)] == (6, 6)
    # docs 1,3 share the first 5 trigrams ("a b c".."e f g"), uni = 7
    assert got[(1, 3)] == (5, 7)
    assert (1, 4) not in got
    # reversed doc shares no trigram with the original
    assert (1, 5) not in got


def test_minhash_identical_docs(docs):
    out = minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_perm=32, bands=8, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in out.collect()}
    assert got[(1, 2)] == 1.0  # identical signatures
    assert got[(1, 3)] >= 0.5  # near dup survives


def test_simhash_identical_distance_zero(docs):
    out = simhash_pairs(docs, "doc_id", "text", max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert got[(1, 2)] == 0


def test_simhash_survives_huge_documents(spark):
    """Regression: the lane-packed vote aggregate must not overflow on
    documents far past 32k tokens (the 4-lane/16-bit packing crashed
    under ANSI mode there).  Expected fingerprint computed in pure
    Python from pyxxh (bit-identical to Spark's xxhash64)."""
    import pyspark.sql.functions as F

    from spark_alchemy_spark.functions.pyxxh import xxh64_bytes
    from spark_alchemy_spark.operators.dedup import simhash_fingerprints

    # 40k tokens: one token repeated 39k times (drives its set bits'
    # ones counts to ~39k — far past the old 32768 ANSI overflow) plus
    # 1k distinct tail tokens
    toks = ["boiler"] * 39000 + [f"t{i}" for i in range(1000)]
    docs = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    got = simhash_fingerprints(docs, "doc_id", "text").collect()[0]["__fp"]

    votes = [0] * 64
    for t, mult in [("boiler", 39000)] + [(f"t{i}", 1) for i in range(1000)]:
        h = xxh64_bytes(t.encode()) & 0xFFFFFFFFFFFFFFFF
        for j in range(64):
            votes[j] += mult if (h >> j) & 1 else -mult
    want = 0
    for j in range(64):
        if votes[j] > 0:
            want |= 1 << j
    if want >= 1 << 63:
        want -= 1 << 64  # to signed long
    assert got == want


def test_simhash_packed_aggregate_matches_expression_form(spark):
    """The lane-packed vote aggregate (simhash_fingerprints) must stay
    bit-identical to the reference expression form (simhash64) — ties,
    pads and tokenless docs included."""
    import pyspark.sql.functions as F

    from spark_alchemy_spark.functions.text import tokens
    from spark_alchemy_spark.operators.dedup import (
        simhash64,
        simhash_fingerprints,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    extra = spark.createDataFrame(
        [(100001, ""), (100002, "   "), (100003, "one"), (100004, "a b a b")],
        "doc_id long, text string",
    )
    docs = docs.select("doc_id", "text").unionByName(extra)
    fp = simhash_fingerprints(docs, "doc_id", "text")
    expr = docs.select(
        F.col("doc_id").alias("__id"), simhash64(tokens("text")).alias("__e")
    )
    assert (
        fp.join(expr, "__id").filter(F.col("__fp") != F.col("__e")).count()
        == 0
    )


def test_cosine_matches_numpy(spark):
    import numpy as np

    a = [1.0, 2.0, 3.0, 4.0]
    b = [-2.0, 0.5, 1.0, 3.0]
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    got = df.select(cosine_similarity("a", "b").alias("c")).head()["c"]
    exp = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert math.isclose(got, exp, rel_tol=1e-12)


@pytest.fixture(scope="module")
def vecs(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, rng.normal(size=8).astype(float).tolist()) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_topk_np_matches_jvm(vecs):
    q = vecs.filter(F.col("vec_id") < 3)
    jvm = brute_force_topk(vecs, q, "vec_id", "embedding", k=5)
    np_ = brute_force_topk_np(vecs, q, "vec_id", "embedding", k=5)
    j = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in jvm.collect()}
    n = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in np_.collect()}
    assert j == n


def test_embedding_near_dup_lsh_finds_clone(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.normal(size=16)
    rows = [(0, base.tolist()), (1, (base + rng.normal(scale=0.01, size=16)).tolist())]
    rows += [(i, rng.normal(size=16).tolist()) for i in range(2, 30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dup_pairs(df, "vec_id", "embedding", threshold=0.95)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 1) in pairs


def test_sessionize_gap(spark):
    rows = [(1, i) for i in [0, 10, 2000, 2010, 5000]] + [(2, 0)]
    df = spark.createDataFrame(rows, "u int, sec int").select(
        "u", F.timestamp_seconds("sec").alias("ts")
    )
    out = sessionize(df, key="u", ts="ts", gap_seconds=600)
    per_user = (
        out.groupBy("u").agg(F.countDistinct("session_id").alias("n")).collect()
    )
    got = {r["u"]: r["n"] for r in per_user}
    assert got == {1: 3, 2: 1}


def test_as_of_join_tolerance(spark):
    left = spark.createDataFrame([(1, 100)], "k int, t int")
    right = spark.createDataFrame([(1, 10, "old")], "k int, t int, v string")
    hit = as_of_join(left, right, on="k", left_ts="t", right_ts="t", right_cols=["v"])
    assert hit.head()["v"] == "old"
    miss = as_of_join(
        left, right, on="k", left_ts="t", right_ts="t", right_cols=["v"],
        tolerance=F.lit(50),
    )
    assert miss.head()["v"] is None


def test_utils_chaining(spark):
    from pyspark.sql import functions as F

    from spark_alchemy_spark import utils

    df = spark.range(10)
    seen = []
    out = utils.pipe(
        df,
        lambda d: utils.tap(d, lambda x: seen.append(len(x.columns))),
        lambda d: d.withColumn("y", F.col("id") * 2),
        lambda d: utils.transform_if(d, False, lambda x: x.limit(0)),
        lambda d: utils.transform_when(
            d, lambda x: "y" in x.columns, lambda x: x.filter(F.col("y") >= 10)
        ),
    )
    assert seen == [1]
    assert out.count() == 5
    try:
        utils.throw_if(df, True, "boom")
        raise AssertionError("throw_if did not raise")
    except ValueError:
        pass


def test_ann_variants_recall_vs_brute_force(spark):
    """LSH and IVF top-k must recover a solid fraction of the exact
    top-k (deterministic seeds -> fixed recall; this pins quality, not
    just row shape)."""
    from spark_alchemy_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )
    from spark_alchemy_spark.sources import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001", ("embeddings",))[
        "embeddings"
    ]
    queries = emb.filter("vec_id < 5")
    k = 10

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    from spark_alchemy_spark.operators.similarity import pq_topk

    exact = topk_sets(brute_force_topk(emb, queries, "vec_id", "embedding", k=k))
    for name, approx_df in (
        ("lsh", lsh_topk(emb, queries, "vec_id", "embedding", k=k)),
        ("ivf", ivf_topk(emb, queries, "vec_id", "embedding", k=k)),
        (
            "pq",
            pq_topk(
                emb, queries, "vec_id", "embedding", k=k,
                m_subspaces=16, n_codes=16, shortlist=25,
            ),
        ),
    ):
        approx = topk_sets(approx_df)
        recalls = [
            len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
        ]
        mean_recall = sum(recalls) / len(recalls)
        assert mean_recall >= 0.5, (name, mean_recall)

    # probing every trained list must reduce IVF to exact brute force —
    # the oracle-checked contract of the battery entry
    full = topk_sets(
        ivf_topk(
            emb, queries, "vec_id", "embedding", k=k,
            n_centroids=8, nprobe=8,
        )
    )
    assert full == exact


def test_connected_components_chain_and_islands(spark):
    """A~B~C chains collapse to one component; disjoint pairs stay
    separate; labels are the component minimum."""
    from spark_alchemy_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    comp = {
        r["node"]: r["comp"]
        for r in connected_components(edges).collect()
    }
    assert {comp[n] for n in (1, 2, 3, 4)} == {1}
    assert {comp[n] for n in (10, 11)} == {10}
    assert {comp[n] for n in (20, 21)} == {20}


def test_chain_is_one_component_on_every_path(spark, monkeypatch):
    """A 41-node chain (diameter 40) is ONE component from the
    distributed propagation and from pairs_to_comp_map with its guard
    forced either way: the loop runs to convergence, not to a round
    cap, so the answer cannot depend on the pair count."""
    import spark_alchemy_spark.operators.dedup as dedup_mod
    from spark_alchemy_spark.operators.dedup import pairs_to_comp_map
    from spark_alchemy_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    chain = {i: 0 for i in range(41)}
    got = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == chain
    for limit in (50_000, 0):  # driver union-find, then distributed
        monkeypatch.setattr(dedup_mod, "DRIVER_PAIR_LIMIT", limit)
        m = {r["node"]: r["comp"] for r in pairs_to_comp_map(edges).collect()}
        assert m == chain


def test_as_of_join_forward(spark):
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, 10), (1, 50), (2, 10)], "k long, t long"
    ).select("k", F.timestamp_seconds("t").alias("t"))
    right = spark.createDataFrame(
        [(1, 20, "a"), (1, 60, "b"), (2, 5, "c")], "k long, t long, v string"
    ).select("k", F.timestamp_seconds("t").alias("t"), "v")
    out = {
        (r["k"], r["t"].second + r["t"].minute * 60): r["v"]
        for r in as_of_join(
            left, right, on="k", left_ts="t", right_ts="t",
            right_cols=["v"], direction="forward",
        ).collect()
    }
    assert out[(1, 10)] == "a"   # earliest right at/after 10 is 20
    assert out[(1, 50)] == "b"   # next is 60
    assert out[(2, 10)] is None  # right row at 5 is in the past

    # tolerance: match must be within +30s
    tol = as_of_join(
        left, right, on="k", left_ts="t", right_ts="t", right_cols=["v"],
        direction="forward", tolerance=F.expr("INTERVAL 30 SECONDS"),
    )
    vals = {(r["k"], r["t"].second + r["t"].minute * 60): r["v"] for r in tol.collect()}
    assert vals[(1, 10)] == "a" and vals[(1, 50)] == "b"


def test_ngram_jaccard_hot_shingle_cap_preserves_pairs(spark):
    """A viral boilerplate phrase shared by every doc must not change the
    (inter, uni) output when the DF cap excludes it from candidate
    generation: true near-dup pairs are recovered through their rare
    shingles and the hot contribution is added back exactly."""
    from spark_alchemy_spark.operators.dedup import ngram_jaccard_pairs

    viral = "alpha beta gamma delta epsilon zeta"  # in ALL docs -> DF = n_docs
    rows = []
    for i in range(10):
        uniq = " ".join(f"u{i}w{j}" for j in range(8))
        rows.append((i, f"{viral} {uniq}"))
    # doc 10 is a true near-dup of doc 1 (one trailing word differs)
    rows.append((10, rows[1][1].rsplit(" ", 1)[0] + " changed"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(cap):
        return sorted(
            (r["id_a"], r["id_b"], r["inter"], r["uni"])
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", n=3,
                threshold_num=5, threshold_den=10, max_shingle_df=cap,
            ).collect()
        )

    exact = pairs(None)
    capped = pairs(3)  # viral trigrams (DF=11) excluded from the self-join
    assert capped == exact
    assert any(p[:2] == (1, 10) for p in exact)  # the near-dup pair exists


def test_as_of_join_rejects_colliding_right_cols(spark):
    from pyspark.sql import functions as F

    left = spark.createDataFrame([(1, 10, "x")], "k long, t long, v string").select(
        "k", F.timestamp_seconds("t").alias("t"), "v"
    )
    right = spark.createDataFrame([(1, 5, "y")], "k long, t long, v string").select(
        "k", F.timestamp_seconds("t").alias("t"), "v"
    )
    try:
        as_of_join(left, right, on="k", left_ts="t", right_ts="t", right_cols=["v"])
        raise AssertionError("expected collision ValueError")
    except ValueError as e:
        assert "collide" in str(e)


def test_zero_norm_vectors_dropped(spark):
    """Zero vectors must be excluded (expression path: NULL cosine), not
    poison results with NaN similarities."""
    from spark_alchemy_spark.operators.dedup import embedding_near_dup_pairs
    from spark_alchemy_spark.operators.similarity import brute_force_topk_np

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.5, brute_force=True
    ).collect()
    ids_in_pairs = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert 2 not in ids_in_pairs and (0, 1) in {(r["id_a"], r["id_b"]) for r in pairs}

    topk = brute_force_topk_np(df, df.filter("vec_id = 0"), "vec_id", "embedding", k=3)
    got = [r["neighbor_id"] for r in topk.collect()]
    assert 2 not in got and got[0] == 1


def test_compact_table_rerunnable(spark, tmp_path):
    import os

    from spark_alchemy_spark.sources.io import compact_table

    p = str(tmp_path / "tbl")
    spark.range(1000).repartition(8).write.parquet(p)
    # stale leftovers from a "crashed" prior run must not break the swap
    os.makedirs(p + "__compacting.deadbeef")
    os.makedirs(p + "__old.deadbeef")
    n = compact_table(spark, p, target_file_bytes=10**9)
    assert n == 1
    assert spark.read.parquet(p).count() == 1000
    assert not any("__old" in e or "__compacting" in e for e in os.listdir(tmp_path))
    # s3-style paths refuse rather than corrupt
    try:
        compact_table(spark, "s3://bucket/tbl")
        raise AssertionError("expected ValueError for object-store path")
    except ValueError as e:
        assert "local filesystems" in str(e)


def test_lsh_projection_paths_identical(spark):
    """The numpy-matmul projection (scale path) must bucket and rank
    exactly like the JVM expression path — same xxhash64-derived
    planes, same band keys, same top-k."""
    from spark_alchemy_spark.operators.similarity import lsh_topk
    from spark_alchemy_spark.sources import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001", ("embeddings",))["embeddings"]
    q = emb.filter("vec_id < 5")
    a = sorted(tuple(r) for r in lsh_topk(emb, q, "vec_id", "embedding", k=10).collect())
    b = sorted(
        tuple(r)
        for r in lsh_topk(
            emb, q, "vec_id", "embedding", k=10, projection="numpy"
        ).collect()
    )
    assert a == b and len(a) > 0


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The persisted IVF index must (a) answer exactly like brute force
    when probing all lists, (b) prune unprobed list partitions at
    planning time when nprobe is selective."""
    from spark_alchemy_spark.operators.similarity import (
        build_ivf_index,
        brute_force_topk,
        ivf_topk_indexed,
    )
    from spark_alchemy_spark.plans import partition_filters
    from spark_alchemy_spark.sources import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001", ("embeddings",))["embeddings"]
    q = emb.filter("vec_id < 3")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, "vec_id", "embedding", path, n_centroids=8)

    exact = sorted(
        tuple(r) for r in brute_force_topk(emb, q, "vec_id", "embedding", k=5).collect()
    )
    full = sorted(
        tuple(r)
        for r in ivf_topk_indexed(
            spark, path, q, "vec_id", "embedding", k=5, nprobe=8
        ).collect()
    )
    assert full == exact

    probed = ivf_topk_indexed(spark, path, q, "vec_id", "embedding", k=5, nprobe=2)
    pf = " ".join(partition_filters(probed))
    assert "list_id" in pf  # pruning reaches the scan
    assert probed.count() > 0


def test_pagerank_star_graph(spark):
    """On a star (everyone links to the hub, hub links back), the hub
    must dominate; determinism across reruns; leaf ranks equal."""
    import pyspark.sql.functions as F

    from spark_alchemy_spark.operators.graph import pagerank

    leaves = list(range(1, 9))
    rows = [(i, 0) for i in leaves] + [(0, i) for i in leaves]
    edges = spark.createDataFrame(rows, "src long, dst long")
    pr = pagerank(edges, "src", "dst", iters=10).collect()
    ranks = {r["node"]: r["rank"] for r in pr}
    assert max(ranks, key=ranks.get) == 0
    leaf_ranks = {round(ranks[i], 12) for i in leaves}
    assert len(leaf_ranks) == 1  # symmetric leaves, identical rank
    # mass is conserved (no dangling nodes in this graph)
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    again = {r["node"]: r["rank"] for r in
             pagerank(edges.repartition(7), "src", "dst", iters=10).collect()}
    assert ranks == again


def test_scd2_apply_cases(spark):
    """New key, changed key, unchanged key, multi-update tiebreak, and
    history pass-through — all four SCD2 cases in one batch."""
    import datetime as dt

    import pyspark.sql.functions as F

    from spark_alchemy_spark.operators.scd import scd2_apply

    TS = dt.datetime
    dim = spark.createDataFrame(
        [
            # key 1: history row + current row (will change)
            (1, 100.0, "A", TS(2020, 1, 1), TS(2021, 1, 1)),
            (1, 110.0, "A", TS(2021, 1, 1), None),
            # key 2: current row, update carries the SAME value
            (2, 50.0, "B", TS(2020, 1, 1), None),
            # key 3: current row, no update at all
            (3, 70.0, "C", TS(2020, 1, 1), None),
        ],
        "k long, bal double, seg string, valid_from timestamp, valid_to timestamp",
    )
    updates = spark.createDataFrame(
        [
            (1, 120.0, TS(2022, 6, 1), 1),   # older update (loses)
            (1, 130.0, TS(2022, 6, 1), 2),   # tiebreak winner
            (2, 50.0, TS(2022, 6, 1), 3),    # unchanged value
            (9, 40.0, TS(2022, 6, 1), 4),    # brand-new key
        ],
        "k long, bal double, ts timestamp, seq long",
    )
    out = scd2_apply(
        dim, updates, key="k", tracked=["bal"], ts_col="ts", tiebreak="seq"
    )
    rows = {(r["k"], r["bal"], r["valid_to"] is None): r for r in out.collect()}
    assert out.count() == 6  # 1 history + closed + new + 2 untouched + opened
    assert (1, 130.0, True) in rows           # tiebreak winner opened
    closed = rows[(1, 110.0, False)]
    assert closed["valid_to"] == TS(2022, 6, 1)
    assert (2, 50.0, True) in rows            # unchanged key untouched
    assert (3, 70.0, True) in rows            # no-update key untouched
    new = rows[(9, 40.0, True)]
    assert new["seg"] is None and new["valid_from"] == TS(2022, 6, 1)


def test_ewma_recurrence_and_determinism(spark):
    import datetime as dt

    import pyspark.sql.functions as F

    from spark_alchemy_spark.operators.temporal import ewma

    TS = dt.datetime
    rows = [(1, TS(2020, 1, 1, 0, m), m, float(m + 1)) for m in range(5)]
    rows += [(2, TS(2020, 1, 1, 0, 0), 9, 10.0)]
    df = spark.createDataFrame(rows, "k long, ts timestamp, eid long, x double")
    out = ewma(df, "k", "ts", "x", alpha=0.5, order_tiebreak="eid")
    got = {(r["k"], r["eid"]): r["ewma"] for r in out.collect()}
    # hand-rolled recurrence: 1, 1.5, 2.25, 3.125, 4.0625
    assert [got[(1, m)] for m in range(5)] == [1.0, 1.5, 2.25, 3.125, 4.0625]
    assert got[(2, 9)] == 10.0  # first value seeds the series
    again = ewma(df.repartition(5), "k", "ts", "x", 0.5, "eid")
    assert got == {(r["k"], r["eid"]): r["ewma"] for r in again.collect()}


def test_funnel_counts_strict_order(spark):
    import datetime as dt

    from spark_alchemy_spark.operators.temporal import funnel_counts

    TS = dt.datetime
    rows = [
        (1, "a", TS(2020, 1, 1)), (1, "b", TS(2020, 1, 2)),   # converts
        (2, "b", TS(2020, 1, 1)), (2, "a", TS(2020, 1, 2)),   # b BEFORE a: no
        (3, "a", TS(2020, 1, 1)),                              # a only
        (4, "a", TS(2020, 1, 3)), (4, "b", TS(2020, 1, 3)),   # same ts: strict
    ]
    df = spark.createDataFrame(rows, "u long, t string, ts timestamp")
    out = {r["step"]: r["users"] for r in
           funnel_counts(df, "u", "t", "ts", ["a", "b"]).collect()}
    assert out == {"a": 4, "b": 1}


def test_incremental_agg_states_associative(spark):
    """merge(merge(a,b),c) == merge(a,merge(b,c)) == state(a∪b∪c)."""
    import pyspark.sql.functions as F

    from spark_alchemy_spark.operators.incremental import (
        agg_state,
        finalize,
        merge_states,
    )

    df = spark.range(3000).select(
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 1.5 + 2).alias("v"),
        (F.col("id") % 3).alias("part"),
    )
    parts = [agg_state(df.filter(F.col("part") == i), ["k"], "v") for i in range(3)]
    left = merge_states(merge_states(parts[0], parts[1], ["k"]), parts[2], ["k"])
    right = merge_states(parts[0], merge_states(parts[1], parts[2], ["k"]), ["k"])
    full = agg_state(df, ["k"], "v")
    fl = sorted(map(tuple, finalize(left, ["k"]).collect()))
    fr = sorted(map(tuple, finalize(right, ["k"]).collect()))
    ff = sorted(map(tuple, finalize(full, ["k"]).collect()))
    assert fl == fr == ff


def test_expectations_detect_violations(spark):
    import pyspark.sql.functions as F

    from spark_alchemy_spark.operators.expectations import check_expectations

    df = spark.createDataFrame(
        [(1, 5.0, "a"), (2, -1.0, "b"), (2, None, "z"), (4, 120.0, "a")],
        "k long, v double, s string",
    )
    out = {r["rule"]: (r["violations"], r["passed"]) for r in
           check_expectations(df, [
               {"name": "k_unique", "kind": "unique", "column": "k"},
               {"name": "v_range", "kind": "in_range", "column": "v",
                "lo": 0, "hi": 100},
               {"name": "v_not_null", "kind": "not_null", "column": "v"},
               {"name": "s_domain", "kind": "accepted_values", "column": "s",
                "values": ["a", "b"]},
           ]).collect()}
    assert out["k_unique"] == (1, False)      # duplicated key 2
    assert out["v_range"] == (3, False)       # -1, NULL, 120
    assert out["v_not_null"] == (1, False)
    assert out["s_domain"] == (1, False)      # 'z'
    clean = check_expectations(df.filter("k = 1"), [
        {"name": "ok", "kind": "not_null", "column": "v"}])
    assert clean.collect()[0]["passed"] is True


def test_psi_drift_detects_shift(spark):
    import pyspark.sql.functions as F

    from spark_alchemy_spark.operators.expectations import psi_drift

    a = spark.range(1000).select((F.col("id") % 100).cast("double").alias("x"))
    same = psi_drift(a, a, "x", 0, 100, bins=10)
    total_same = same.agg(F.sum("psi_contrib")).collect()[0][0]
    assert abs(total_same) < 1e-9                 # identical -> PSI ~ 0
    b = a.select((F.col("x") + 50).alias("x"))    # shifted distribution
    shifted = psi_drift(a, b, "x", 0, 100, bins=10)
    total_shift = shifted.agg(F.sum("psi_contrib")).collect()[0][0]
    assert total_shift > 0.2                      # flagged as major drift


def test_profile_table_null_handling(spark):
    """Nulls counted, excluded from distincts/min/max/mean; string and
    numeric columns share the one output schema."""
    df = spark.createDataFrame(
        [(1.0, "a"), (None, "b"), (3.0, None), (3.0, "b")],
        "x double, s string",
    )
    from spark_alchemy_spark.operators.profile import profile_table

    rows = {r["column"]: r for r in profile_table(df, ["x", "s"]).collect()}
    x, s = rows["x"], rows["s"]
    assert (x["n_rows"], x["n_nulls"], x["n_distinct"]) == (4, 1, 2)
    assert (x["min_value"], x["max_value"], x["mean_value"]) == ("1.0", "3.0", 2.3333)
    assert (s["n_rows"], s["n_nulls"], s["n_distinct"]) == (4, 1, 2)
    assert (s["min_value"], s["max_value"], s["mean_value"]) == ("a", "b", None)


def test_tfidf_surfaces_distinctive_terms(spark):
    from spark_alchemy_spark.operators.ranking import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "common apple apple"), (2, "common banana"), (3, "common cherry")],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(df, "doc_id", "text", k=1).collect()
    top = {r["doc_id"]: r["term"] for r in out}
    # 'common' appears everywhere (idf=0) — never the top term
    assert top == {1: "apple", 2: "banana", 3: "cherry"}
    assert all(r["rank"] == 1 for r in out)


def test_ks_statistic_matches_scipy_style_reference(spark):
    """ks_statistic_ppm == the classic two-sample KS D (floor-ppm) on
    known samples; identical distributions give 0; disjoint give 1e6."""
    from spark_alchemy_spark.operators.expectations import ks_statistic_ppm

    a_vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    b_vals = [4.0, 5.0, 6.0, 7.0]
    a = spark.createDataFrame([(v,) for v in a_vals], "v double")
    b = spark.createDataFrame([(v,) for v in b_vals], "v double")
    r = ks_statistic_ppm(a, b, "v").collect()[0]
    # reference D: max over merged values of |F_a - F_b|
    import itertools

    def cdf(vals, x):
        return sum(1 for v in vals if v <= x) / len(vals)

    d = max(
        abs(cdf(a_vals, x) - cdf(b_vals, x))
        for x in sorted(set(a_vals + b_vals))
    )
    assert r["n_a"] == 6 and r["n_b"] == 4
    assert r["ks_ppm"] == int(d * 1_000_000)  # exact: 3/6 - 0/4 = 0.5
    same = ks_statistic_ppm(a, a, "v").collect()[0]
    assert same["ks_ppm"] == 0
    c = spark.createDataFrame([(100.0,), (200.0,)], "v double")
    disj = ks_statistic_ppm(a, c, "v").collect()[0]
    assert disj["ks_ppm"] == 1_000_000


def test_longest_streak_bucketed_order_key_types(spark):
    """Order-key contract (ADVICE r4): date ts columns are long-encoded
    (day count) so the bucketed variant matches the exact operator on
    DateType inputs, while an unsupported string tiebreak raises a
    clear ValueError up front instead of an ANSI cast failure."""
    import datetime

    from spark_alchemy_spark.operators.temporal import (
        longest_streak,
        longest_streak_bucketed,
    )

    d = datetime.date
    rows = [
        (1, "a", d(2024, 1, 1), 1), (1, "a", d(2024, 1, 2), 2),
        (1, "b", d(2024, 1, 3), 3), (1, "a", d(2024, 1, 4), 4),
        (2, "b", d(2024, 2, 1), 1), (2, "b", d(2024, 2, 2), 2),
        (2, "b", d(2024, 2, 3), 3),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts date, event_id long"
    )
    exact = {
        tuple(r)
        for r in longest_streak(
            df, "user_id", "event_type", ["ts", "event_id"]
        ).collect()
    }
    bucketed = {
        tuple(r)
        for r in longest_streak_bucketed(
            df, "user_id", "event_type", "ts", "event_id",
            bucket=F.date_trunc("month", F.col("ts").cast("timestamp")),
        ).collect()
    }
    assert bucketed == exact

    str_tie = df.withColumn("tie", F.col("event_id").cast("string"))
    with pytest.raises(ValueError, match="supported order-key types"):
        longest_streak_bucketed(
            str_tie, "user_id", "event_type", "ts", "tie"
        )
