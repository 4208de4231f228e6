"""Round-11 equivalence laws for the optimized kernels.

Pins the behaviors the r11 changes introduced:

* ``brute_force_topk`` / ``brute_force_topk_np`` fail LOUDLY when the
  query set exceeds ``max_driver_queries`` (VERDICT r10 item 2 — a
  driver collect with no size guard is an OOM at scale, not an error).
* NULL / zero-norm embeddings rank like the expression path instead of
  crashing the numpy kernel (ADVICE r10 item 1).
* the in-kernel partition top-k pruning keeps rounding-boundary
  candidates so the final JVM window's HALF_UP order can never lose a
  row to the kernel's float rounding (ADVICE r10 item 2).
* ``longest_streak_udtf`` emits a row for a NULL-user partition
  (ADVICE r10 item 3).
* ``longest_streak_bucketed``'s single-pass partition fold equals the
  exact operator even when one key's bucket summaries straddle Arrow
  batch boundaries (the mapInPandas rewrite's carry logic), also for key
  columns that are not Python identifiers.
* ``topk_centroid_assign`` returns an empty assignment for an empty
  centroid set, as the crossJoin form does.
"""

import pytest
from pyspark.sql import functions as F


def test_brute_force_topk_query_cap_fails_loudly(spark):
    from spark_alchemy_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_np,
    )

    rows = [(i, [float(i), 1.0]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="max_driver_queries"):
        brute_force_topk(
            df, df, "vec_id", "embedding", k=2, max_driver_queries=4
        )
    with pytest.raises(ValueError, match="max_driver_queries"):
        brute_force_topk_np(
            df, df, "vec_id", "embedding", k=2, max_driver_queries=4
        )
    # at the cap exactly: no error
    assert (
        brute_force_topk(
            df, df, "vec_id", "embedding", k=2, max_driver_queries=8
        ).count()
        > 0
    )


def test_brute_force_topk_null_and_zero_vectors(spark):
    from spark_alchemy_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_np,
    )

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, None),          # NULL corpus vector: NULL cosine, ranked last
        (3, [0.0, 0.0]),    # zero-norm: NULL cosine, ranked last
        (4, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id").isin(0, 2))
    out = brute_force_topk(df, q, "vec_id", "embedding", k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    # query 0: real neighbors 1,4 first (cos desc), then NULL-cos rows
    # 2,3 by id asc — the expression path's nulls-last total order
    got0 = [(r["neighbor_id"], r["cos"]) for r in sorted(by_q[0], key=lambda r: r["rank"])]
    assert [n for n, _ in got0] == [1, 4, 2, 3]
    assert got0[2][1] is None and got0[3][1] is None
    # NULL query vector: every cosine NULL, neighbors by id asc
    got2 = [(r["neighbor_id"], r["cos"]) for r in sorted(by_q[2], key=lambda r: r["rank"])]
    assert [n for n, _ in got2] == [0, 1, 3, 4]
    assert all(c is None for _, c in got2)

    # np variant drops NULL/zero-norm rows instead (its documented
    # convention) and must not crash
    out_np = brute_force_topk_np(df, q.filter("vec_id = 0"), "vec_id", "embedding", k=4)
    ids = {r["neighbor_id"] for r in out_np.collect()}
    assert ids == {1, 4}


def test_brute_force_topk_rounding_boundary_not_pruned(spark):
    """A corpus row whose cosine ties at 4dp with the k-th row but has
    a smaller id must win the final window even when its UNROUNDED
    cosine sorts past position k (ADVICE r10 item 2: the kernels must
    prune under the window's rounded total order, with slack for
    rounding disagreement — the old np-variant argsort(-unrounded)
    dropped id 5 here)."""
    import numpy as np

    from spark_alchemy_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_np,
    )

    # construct vectors whose cosines against [1,0] are just below /
    # above a .00005 boundary: ids chosen so the lower-cos row has the
    # SMALLER id and wins the JVM tie at 4dp
    def vec(cos):
        return [float(cos), float(np.sqrt(1.0 - cos * cos))]

    rows = [
        (5, vec(0.73115001)),   # rounds to 0.7312 (up)
        (9, vec(0.73124999)),   # rounds to 0.7312 (down)
        (7, vec(0.9)),
        (8, vec(0.8)),
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(1)
    q = spark.createDataFrame([(100, vec(1.0))], "vec_id long, embedding array<double>")
    for fn in (brute_force_topk, brute_force_topk_np):
        out = fn(corpus, q, "vec_id", "embedding", k=3).collect()
        got = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
        # 4dp ties: 7 (0.9), 8 (0.8), then {5, 9} both 0.7312 → id 5 wins
        assert got == [7, 8, 5], fn.__name__


def test_longest_streak_udtf_null_user_group(spark):
    from spark_alchemy_spark.functions import udtfs

    udtfs.register(spark)
    rows = [
        (None, "a", 1, 1),
        (None, "a", 2, 2),
        (None, "b", 3, 3),
        (1, "c", 1, 1),
    ]
    spark.createDataFrame(
        rows, "user_id long, event_type string, ts long, event_id long"
    ).createOrReplaceTempView("events_null_user_v")
    out = spark.sql(
        """
        SELECT * FROM longest_streak_udtf(
          TABLE(SELECT user_id, event_type, ts, event_id FROM events_null_user_v)
          PARTITION BY user_id ORDER BY (ts, event_id))
        """
    ).collect()
    by_user = {r["user_id"]: r for r in out}
    # the NULL-user partition yields its row (old sentinel dropped it)
    assert None in by_user and by_user[None]["best_streak"] == 2
    assert by_user[None]["n_rows"] == 3
    assert by_user[1]["best_streak"] == 1


def test_longest_streak_bucketed_straddles_arrow_batches(spark):
    """The partition fold carries a running key across Arrow batch
    boundaries — force 2-row batches so every key straddles.  It reads
    the key by position, so a key that is not a Python identifier, or
    that pandas' itertuples renames (``_1``), works too."""
    from spark_alchemy_spark.operators.temporal import (
        longest_streak,
        longest_streak_bucketed,
    )

    rows = []
    for u in range(12):
        for t in range(10):
            rows.append((u, "ab"[(t // (u % 3 + 1)) % 2], t, t))
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts long, event_id long"
    )
    exact = {
        tuple(r)
        for r in longest_streak(
            df, "user_id", "event_type", ["ts", "event_id"]
        ).collect()
    }
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        for key in ("user_id", "user id", "_1"):
            bucketed = {
                tuple(r)
                for r in longest_streak_bucketed(
                    df.withColumnRenamed("user_id", key),
                    key, "event_type", "ts", "event_id",
                    bucket=(F.col("ts") / F.lit(4)).cast("long"),
                ).collect()
            }
            assert bucketed == exact, key
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def _mk_clusters_r11(spark, dim=8, per=25):
    import random

    rng = random.Random(3)
    rows, vid = [], 0
    for c in range(4):
        for _ in range(per):
            v = [rng.uniform(-0.05, 0.05) for _ in range(dim)]
            v[c] = 1.0 + rng.uniform(0, 0.1)
            rows.append((vid, v))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _batch_r11(spark, n, start_id, dim=8, axis=0):
    rows = []
    for i in range(n):
        v = [0.0] * dim
        v[axis] = 1.0 + i / 1000.0
        rows.append((start_id + i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_fused_streaming_append_slim_intent_replay(spark, tmp_path):
    """r11 fused streaming append: the intent is {batch_id} only; a
    crash after the rows landed but before the commit must repair via
    the RECOMPUTED touched set (deterministic replay assignment) and
    land exactly once on replay."""
    import json
    import os

    from spark_alchemy_spark.operators.similarity import (
        _read_index_json,
        _write_index_json_atomic,
        append_ivf_index,
        build_ivf_index,
    )

    df = _mk_clusters_r11(spark)
    path = str(tmp_path / "idx")
    build_ivf_index(df, "vec_id", "embedding", path, n_centroids=4)
    rep0 = append_ivf_index(
        _batch_r11(spark, 10, 50_000), "vec_id", "embedding", path, batch_id=0
    )
    assert rep0["n_appended"] == 10
    txn0 = _read_index_json(path, "txn.json")
    assert txn0["last_batch_id"] == 0 and txn0["n"] == 110

    # run batch 1 for real (fused path: slim intent written + removed
    # around the single write action), then roll the log back to the
    # post-batch-0 state to simulate a crash AFTER rows, BEFORE commit
    b1 = _batch_r11(spark, 8, 60_000, axis=1)
    rep1 = append_ivf_index(b1, "vec_id", "embedding", path, batch_id=1)
    assert rep1["n_appended"] == 8 and rep1["list_counts"]
    _write_index_json_atomic(path, "txn.json", txn0)
    _write_index_json_atomic(path, "txn_intent.json", {"batch_id": 1})
    pre = spark.read.parquet(path + "/lists").count()
    assert pre == 118  # orphaned tagged rows visible pre-repair

    rep1b = append_ivf_index(b1, "vec_id", "embedding", path, batch_id=1)
    assert rep1b["skipped_replay"] is False and rep1b["n_appended"] == 8
    lists = spark.read.parquet(path + "/lists")
    assert lists.count() == 118  # exactly once (repair dropped orphans)
    assert lists.select("vec_id").distinct().count() == 118
    txn1 = json.load(open(os.path.join(path, "txn.json")))
    assert txn1["last_batch_id"] == 1 and txn1["n"] == 118
    # intent cleared by the commit path (replaced then superseded)
    intent = _read_index_json(path, "txn_intent.json")
    assert intent is None or int(intent["batch_id"]) <= 1

    # replay of a COMMITTED batch is still a no-op
    rep1c = append_ivf_index(b1, "vec_id", "embedding", path, batch_id=1)
    assert rep1c["skipped_replay"] is True
    assert spark.read.parquet(path + "/lists").count() == 118


def test_fused_streaming_append_empty_batch_clears_intent(spark, tmp_path):
    """An empty streaming micro-batch must not leave a live intent (it
    would trip the NEXT batch's out-of-order guard) and must not
    advance the commit record."""
    from spark_alchemy_spark.operators.similarity import (
        _read_index_json,
        append_ivf_index,
        build_ivf_index,
    )

    df = _mk_clusters_r11(spark)
    path = str(tmp_path / "idx")
    build_ivf_index(df, "vec_id", "embedding", path, n_centroids=4)
    append_ivf_index(
        _batch_r11(spark, 4, 50_000), "vec_id", "embedding", path, batch_id=0
    )
    empty = _batch_r11(spark, 4, 60_000).filter("vec_id < 0")
    rep = append_ivf_index(empty, "vec_id", "embedding", path, batch_id=1)
    assert rep["n_appended"] == 0 and rep["skipped_replay"] is False
    assert _read_index_json(path, "txn_intent.json") is None
    assert _read_index_json(path, "txn.json")["last_batch_id"] == 0
    # and the next real batch proceeds cleanly
    rep2 = append_ivf_index(
        _batch_r11(spark, 3, 70_000), "vec_id", "embedding", path, batch_id=2
    )
    assert rep2["n_appended"] == 3


def test_exact_percentiles_matches_percentile(spark):
    """The codegen histogram twin must be bit-identical to Spark's
    exact ``percentile`` — including interpolation arithmetic and
    duplicate values landing on both interpolation indexes."""
    import random

    from pyspark.sql import functions as F

    from spark_alchemy_spark.sources.bucketing import exact_percentiles

    def compare(df, col, pcts):
        arr = "array(" + ", ".join(repr(float(p)) + "D" for p in pcts) + ")"
        ref = df.agg(
            F.expr(f"percentile({col}, {arr})").alias("q")
        ).collect()[0]["q"]
        got = [None] * len(pcts)
        for r in exact_percentiles(df, col, pcts).collect():
            got[r["__i"]] = r["__q"]
        assert got == list(ref)

    rows = [(0.1,)] * 4 + [(0.2,)] * 3 + [(0.30000000000000004,)] * 2 + [(7.7,)]
    adv = spark.createDataFrame(rows, "x double")
    compare(adv, "x", [0.0, 0.13, 0.35, 0.5, 0.77, 1.0])

    rng = random.Random(5)
    heavy = spark.createDataFrame(
        [(rng.choice([0.1, 0.2, 0.3, 1 / 3, 2 / 7]),) for _ in range(997)],
        "x double",
    )
    compare(heavy, "x", [0.001, 0.105, 0.23, 0.48, 0.855, 0.999])

    # NULLs excluded like the builtin
    withnull = spark.createDataFrame(
        [(None,), (1.0,), (2.0,), (None,), (3.0,)], "x double"
    )
    compare(withnull, "x", [0.25, 0.5, 0.75])


def test_topk_centroid_assign_matches_window(spark):
    """The vectorized top-nprobe centroid assignment must reproduce the
    crossJoin + cosine + row_number window form EXACTLY — cosines via
    the same sequential IEEE fold, ties by __list asc, NULL cosines
    (zero-norm row, zero-norm centroid, NULL vector) ranked last."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spark_alchemy_spark.operators.dedup import (
        cosine_similarity,
        topk_centroid_assign,
    )

    rng = random.Random(17)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    rows += [(1002, rows[5][1])]                        # duplicate (csim ties)
    df = spark.createDataFrame(rows, "__id long, __v array<double>")
    cents = [(j, [rng.uniform(-1, 1) for _ in range(8)]) for j in range(7)]
    cents += [(8, cents[2][1])]                         # duplicate centroid (tie)
    cdf = spark.createDataFrame(cents, "__list long, __cent array<double>")

    for nprobe in (1, 3, 8):
        scored = df.crossJoin(F.broadcast(cdf)).withColumn(
            "__csim", cosine_similarity(F.col("__v"), F.col("__cent"))
        )
        w = Window.partitionBy("__id").orderBy(F.col("__csim").desc(), "__list")
        ref = {
            (r["__id"], r["__list"], r["__rk"])
            for r in scored.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= nprobe)
            .select("__id", "__list", "__rk")
            .collect()
        }
        got = {
            tuple(r)
            for r in topk_centroid_assign(
                df, "__id", "__v", cdf, nprobe
            ).collect()
        }
        assert got == ref, f"nprobe={nprobe}"

    # keep_vec variant carries the vector through unchanged
    kv = topk_centroid_assign(df, "__id", "__v", cdf, 2, keep_vec=True)
    r0 = {r["__id"]: r["__v"] for r in kv.filter("__rk = 1").collect()}
    assert r0[0] == rows[0][1]

    # out-of-domain inputs (the expression form RAISES on them under
    # ANSI — zero-norm division): the kernel ranks their NULL cosines
    # last, __list ascending, instead of failing the whole job
    odd = spark.createDataFrame(
        [(1, [0.0] * 8), (2, None)], "__id long, __v array<double>"
    )
    got = {
        (r["__id"], r["__list"], r["__rk"])
        for r in topk_centroid_assign(odd, "__id", "__v", cdf, 2).collect()
    }
    assert got == {(1, 0, 1), (1, 1, 2), (2, 0, 1), (2, 1, 2)}

    # no centroids: the crossJoin form yields no rows, and so does the
    # kernel, for pre-collected rows and for a DataFrame alike
    for none in ([], cdf.limit(0)):
        empty = topk_centroid_assign(df, "__id", "__v", none, 2, keep_vec=True)
        assert empty.columns == ["__id", "__v", "__list", "__rk"]
        assert empty.collect() == []


def test_train_ivf_centroids_parallel_sample_bit_identical(spark):
    """The r11 train fix (repartitioned post-limit sample + Arrow
    transport + driver-side __h re-sort) must reproduce the serial
    collect-based pipeline's centroids BIT-FOR-BIT: every downstream
    consumer (cluster membership, candidate sets, IVF lists) branches
    on these exact doubles.  The corpus plants duplicate vectors so
    the __h/__h2 tie paths (identical rows, interchangeable order)
    are exercised."""
    import numpy as np

    from spark_alchemy_spark.operators.dedup import _as_double
    from spark_alchemy_spark.operators.similarity import train_ivf_centroids

    rows = []
    for i in range(500):
        base = [float((i * 7 + d * 13) % 29) - 14.0 for d in range(8)]
        rows.append((i, base))
        if i % 50 == 0:  # planted duplicates -> identical-hash ties
            rows.append((1000 + i, list(base)))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def serial_reference(n_centroids, iters, seed, spc):
        v = corpus.select(_as_double("embedding").alias("__v"))
        v = (
            v.withColumn(
                "__h", F.xxhash64(F.lit(seed), F.col("__v").cast("string"))
            )
            .orderBy("__h")
            .limit(n_centroids * spc)
            .drop("__h")
        )
        v = (
            v.withColumn(
                "__n",
                F.sqrt(F.aggregate("__v", F.lit(0.0), lambda a, x: a + x * x)),
            )
            .filter(F.col("__n") > 0)
            .withColumn("__v", F.transform("__v", lambda x: x / F.col("__n")))
            .drop("__n")
        )
        rws = v.withColumn(
            "__h2", F.xxhash64(F.lit(seed + 1), F.col("__v").cast("string"))
        ).collect()
        m = np.array([r["__v"] for r in rws], dtype=np.float64)
        h2 = np.array([r["__h2"] for r in rws], dtype=np.int64)
        init = np.argsort(h2, kind="stable")[:n_centroids]
        cents = m[init].copy()
        for _ in range(iters):
            best = np.argmax(m @ cents.T, axis=1)
            nxt = cents.copy()
            for j in range(len(cents)):
                members = m[best == j]
                if len(members):
                    mu = members.mean(axis=0)
                    n = np.linalg.norm(mu)
                    if n > 0:
                        nxt[j] = mu / n
            cents = nxt
        return {i: c for i, c in enumerate(cents)}

    for k, seed, spc in [(8, 42, 256), (13, 7, 16)]:  # spc=16: limit bites
        ref = serial_reference(k, 4, seed, spc)
        got = {
            r["__list"]: np.array(r["__cent"])
            for r in train_ivf_centroids(
                corpus,
                "embedding",
                n_centroids=k,
                iters=4,
                seed=seed,
                sample_per_centroid=spc,
            ).collect()
        }
        assert set(got) == set(ref)
        for i in ref:
            assert np.array_equal(ref[i], got[i]), (k, seed, i)
