"""Round-6 operator tests: streaming semantic dedup (stateless +
batch-equal), the CMS skew-planning primitives, bitstring Hamming
pairs, and the selective-nprobe planted-recall law."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.test_semantic_dedup import _ref_hash_embedding, _ref_pretok


def test_stream_semantic_dedup_stateless_and_batch_equal(spark, tmp_path):
    """The ingest-dedup stream must (a) match an exact Python replay of
    the batch semantics over EVERY micro-batch split (replay-order
    freedom) and (b) run with ZERO state-store rows — it is foreachBatch
    against a static index, so no stateOperators may appear in any
    progress event (the state-growth guard for this family)."""
    import math

    from spark_alchemy_spark.streaming import semantic_dedup_at_ingest

    standing_rows = [
        (0, "en", "alpha beta gamma delta"),
        (2, "en", "epsilon zeta eta theta"),
        (4, "de", "iota kappa lam mu"),
    ]
    arrival_rows = [
        (1, "en", "alpha beta gamma delta"),   # identical -> dropped
        (3, "en", "alpha beta gamma delta."),  # near-identical tokens
        (5, "de", "nu xi omicron pi"),         # unrelated -> survives
        (7, "de", "iota kappa lam mu"),        # identical -> dropped
        (9, "en", "rho sigma tau upsilon"),    # unrelated -> survives
    ]
    d = tmp_path / "arrivals"
    d.mkdir()
    for i, r in enumerate(arrival_rows):  # one file per arrival => 5 batches
        spark.createDataFrame(
            [r], "doc_id long, lang string, text string"
        ).coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))

    standing = spark.createDataFrame(
        standing_rows, "doc_id long, lang string, text string"
    )
    arrivals = (
        spark.readStream.schema("doc_id long, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    progress: list = []
    got = {
        r["lang"]: (r["n_arrived"], r["n_dropped"], r["n_survived"])
        for r in semantic_dedup_at_ingest(
            arrivals, standing, dim=32, threshold=0.95, n_centroids=2,
            seed=42, progress_out=progress,
        ).collect()
    }

    # Python replay of the exact (probe-all) semantics
    def cos(u, v):
        dot = sum(a * b for a, b in zip(u, v))
        nu, nv = math.sqrt(sum(a * a for a in u)), math.sqrt(sum(b * b for b in v))
        if nu == 0 or nv == 0:
            return -1.0
        return round(dot / (nu * nv), 4)

    s_vecs = [_ref_hash_embedding(t, 32) for _, _, t in standing_rows]
    want: dict = {}
    for _, lang, text in arrival_rows:
        v = _ref_hash_embedding(text, 32)
        dropped = any(
            _ref_pretok(text) and cos(v, sv) >= 0.95 for sv in s_vecs
        )
        a, dr, su = want.get(lang, (0, 0, 0))
        want[lang] = (a + 1, dr + int(dropped), su + int(not dropped))
    assert got == want
    # the identical plants really dropped; the punctuated near-miss
    # (doc 3: one extra '.' token, cos ~0.894) correctly survived
    assert want["en"][1] == 1 and want["de"][1] == 1

    # stateless: multiple batches ran, none with a state operator
    assert len(progress) >= 2
    assert all(p["stateOperators"] == [] for p in progress)


def test_cms_max_frequency_is_sound_upper_bound(spark):
    """cms_max_frequency law: >= the true hottest-key frequency, and
    <= true + eps*N (the standard CMS collision mass)."""
    from spark_alchemy_spark.functions.cms import (
        cms_max_frequency,
        count_min_sketch_agg,
    )

    rows = [(1,)] * 500 + [(k,) for k in range(2, 402)]  # f_max=500, N=900
    df = spark.createDataFrame(rows, "k long")
    sk = df.agg(count_min_sketch_agg("k", 0.001, 0.99, 42).alias("s")).collect()[
        0
    ]["s"]
    est = cms_max_frequency(sk)
    assert 500 <= est <= 500 + int(0.001 * 900) + 1


def test_sketch_planned_join_picks_all_three_strategies(spark):
    """The three legs of the sketch planner: broadcast when the right
    side fits, salted merge when the left key is skewed past the
    threshold, plain merge otherwise — and the salted leg must be
    row-for-row equal to the plain join (semantics preserved)."""
    from spark_alchemy_spark.functions.cms import sketch_planned_join

    left_skew = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, k) for k in range(2, 102)],
        "k long, payload long",
    )
    right = spark.createDataFrame([(k,) for k in range(1, 102)], "k long")

    jb, pb = sketch_planned_join(left_skew, right, "k", broadcast_rows=1000)
    assert pb["strategy"] == "broadcast"

    js, ps = sketch_planned_join(
        left_skew, right, "k", broadcast_rows=1, salt_above=500
    )
    assert ps["strategy"] == "salted"
    assert ps["left_max_freq_est"] >= 900
    assert js.count() == left_skew.join(right, "k").count()
    plan = js._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan

    jm, pm = sketch_planned_join(
        left_skew, right, "k", broadcast_rows=1, salt_above=10_000
    )
    assert pm["strategy"] == "merge"
    assert jm.count() == left_skew.join(right, "k").count()
    assert "__salt" not in jm._jdf.queryExecution().executedPlan().toString()


def test_bitstring_hamming_pairs_exact_recall(spark):
    """Banded candidate generation must be COMPLETE for the default
    radius (pigeonhole: 4x16 bands cover Hamming <= 3): the pair set
    equals the brute-force pair set on random fingerprints."""
    import random

    from spark_alchemy_spark.operators.dedup import bitstring_hamming_pairs

    rng = random.Random(7)
    base = [rng.randint(0, 1) for _ in range(64)]

    def flip(bits, k):
        out = list(bits)
        for i in rng.sample(range(64), k):
            out[i] ^= 1
        return out

    fps = {0: base}
    for i in range(1, 30):
        fps[i] = flip(base, rng.choice([1, 2, 3, 4, 8, 32]))
    rows = [(i, "".join(map(str, b))) for i, b in fps.items()]
    df = spark.createDataFrame(rows, "rep long, ahash string")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in bitstring_hamming_pairs(df, "rep", "ahash", max_hamming=3).collect()
    }
    want = set()
    for i in fps:
        for j in fps:
            if i < j:
                d = sum(a != b for a, b in zip(fps[i], fps[j]))
                if d <= 3:
                    want.add((i, j, d))
    assert got == want and want  # exact, and the case is non-trivial


def test_bitstring_hamming_pairs_rejects_bad_geometry(spark):
    from spark_alchemy_spark.operators.dedup import bitstring_hamming_pairs

    df = spark.createDataFrame([(1, "0" * 64)], "rep long, ahash string")
    with pytest.raises(ValueError, match="divisible"):
        bitstring_hamming_pairs(df, "rep", "ahash", n_bits=64, n_bands=5)
    with pytest.raises(ValueError, match="complete"):
        bitstring_hamming_pairs(df, "rep", "ahash", max_hamming=4, n_bands=4)


def test_bitstring_hamming_pairs_rejects_wrong_width(spark):
    """A fingerprint narrower than n_bits must fail LOUD, not silently
    truncate band keys (substring past end returns '' on both sides —
    the round-7 ADVICE finding; the streaming twin already guarded).
    The guard is LAZY (assert_true folded into the projection — no
    extra scan per call, round-8 ADVICE), so the error surfaces at
    execution as a Spark runtime error naming the bad fingerprint."""
    from spark_alchemy_spark.operators.dedup import bitstring_hamming_pairs

    df = spark.createDataFrame(
        [(1, "0" * 64), (2, "0" * 32)], "rep long, ahash string"
    )
    with pytest.raises(Exception, match="n_bits"):
        bitstring_hamming_pairs(df, "rep", "ahash").collect()


def test_pairs_to_comp_map_inherits_string_ids(spark, monkeypatch):
    """Both paths must inherit the caller's id type — string ids crash
    a hardcoded 'node long' schema on the driver union–find path and
    diverge from the distributed fallback (round-7 ADVICE finding)."""
    import spark_alchemy_spark.operators.dedup as dedup_mod
    from spark_alchemy_spark.operators.dedup import pairs_to_comp_map

    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "id_a string, id_b string"
    )
    for limit in (50_000, 0):  # driver union-find, then distributed
        monkeypatch.setattr(dedup_mod, "DRIVER_PAIR_LIMIT", limit)
        m = {r["node"]: r["comp"] for r in pairs_to_comp_map(pairs).collect()}
        assert m == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
        assert dict(pairs_to_comp_map(pairs).dtypes) == {
            "node": "string",
            "comp": "string",
        }


def test_selective_recall_entry_laws(spark):
    """The planted-recall entry's structural guarantees, asserted
    directly (not just via the oracle): identical plants are found at
    100% exactly, scaled plants clear the pinned threshold, and the
    executed plan carries no corpus cartesian."""
    from spark_alchemy_spark.queries import QUERIES

    r = QUERIES["dedup_semantic_selective"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r["exact_recall_ppm"] == 1_000_000
    assert r["scaled_recall_ok"] and r["plan_ok"]
    assert r["n_planted"] > 0 and r["n_planted"] % 2 == 0


def test_cross_pairs_kernel_matches_hof_pairs(spark):
    """The cross-set blocked BLAS kernel (streaming verify's probe-all
    delegate) must emit EXACTLY the pairs the row-at-a-time HOF cosine
    path emits — same rounding contract, same zero-norm handling."""
    import random

    from spark_alchemy_spark.operators.dedup import (
        _cross_pairs_cosine_blocked,
        cosine_similarity,
    )

    rng = random.Random(13)
    mk = lambda n, off: [
        (off + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(n)
    ]
    a_rows = mk(40, 0) + [(90, [0.0] * 8)]  # zero-norm row: must drop
    b_rows = mk(35, 1000) + [(1090, [0.0] * 8)]
    # plant exact duplicates across the sets so matches exist at 0.95
    for k in range(5):
        b_rows[k] = (1000 + k, list(a_rows[k][1]))
    a = spark.createDataFrame(a_rows, "__id long, __v array<double>")
    b = spark.createDataFrame(b_rows, "__id long, __v array<double>")

    got = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in _cross_pairs_cosine_blocked(a, b, 0.9).collect()
    }
    # zero-norm rows have no defined cosine: the kernel must drop them
    assert not any(90 in p[:2] or 1090 in p[:2] for p in got)
    nz = F.exists("__v", lambda x: x != 0)  # ANSI: reference path must
    want = {                                # not divide by zero norms
        (r["id_a"], r["id_b"], r["cos"])
        for r in (
            a.filter(nz).alias("x")
            .crossJoin(b.filter(nz).alias("y"))
            .select(
                F.col("x.__id").alias("id_a"),
                F.col("y.__id").alias("id_b"),
                F.round(
                    cosine_similarity(F.col("x.__v"), F.col("y.__v")), 4
                ).alias("cos"),
            )
            .filter(F.col("cos") >= 0.9)
            .collect()
        )
    }
    assert got == want and len(want) >= 5


def test_stream_semantic_dedup_kernel_equals_join_path(spark, tmp_path):
    """At probe-all the streaming verify delegates to the cross-set
    kernel; forcing the candidate-join path must give the identical
    per-language report (the delegation is a pure execution-strategy
    swap, never a semantics change)."""
    from spark_alchemy_spark.streaming import semantic_dedup_at_ingest

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang", "text")
    standing = docs.filter(F.col("doc_id") % 2 == 0)
    d = tmp_path / "arr"
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(d))

    def run(force):
        arrivals = spark.readStream.schema(docs.schema).parquet(str(d))
        return {
            tuple(r)
            for r in semantic_dedup_at_ingest(
                arrivals, standing, dim=32, threshold=0.95,
                n_centroids=8, seed=42, _force_join_verify=force,
            ).collect()
        }

    kernel, join = run(False), run(True)
    assert kernel == join and kernel


def _mk_clustered(spark, tmp_path, n_plants=60, dim=8):
    """4 well-separated axis clusters (25 vectors each) + ``n_plants``
    same-direction plants on cluster 0's axis: a guaranteed hot list."""
    import random

    rng = random.Random(3)
    rows = []
    vid = 0
    for c in range(4):
        for _ in range(25):
            v = [rng.uniform(-0.05, 0.05) for _ in range(dim)]
            v[c] = 1.0 + rng.uniform(0, 0.1)
            rows.append((vid, v))
            vid += 1
    for i in range(n_plants):
        v = [0.0] * dim
        v[0] = 1.0 + i / 1000.0  # scaled copies: identical direction
        rows.append((10_000 + i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_rebalance_splits_hot_list_exactly(spark, tmp_path):
    """The hot list splits; rows are conserved EXACTLY (same id set,
    partitioned layout still queryable at probe-all = brute force);
    cold lists keep their exact row sets; the stats sidecar's
    incremental mean equals a from-scratch recompute."""
    import pytest as pt

    from spark_alchemy_spark.operators.dedup import cosine_similarity
    from spark_alchemy_spark.operators.similarity import (
        build_ivf_index,
        rebalance_ivf_index,
    )

    df = _mk_clustered(spark, tmp_path)
    path = str(tmp_path / "idx")
    build_ivf_index(df, "vec_id", "embedding", path, n_centroids=4)
    before = {
        (int(r["vec_id"]), int(r["list_id"]))
        for r in spark.read.parquet(path + "/lists")
        .select("vec_id", "list_id")
        .collect()
    }
    hot_before = max(
        len([1 for _, lid in before if lid == k]) for k in range(4)
    )
    rep = rebalance_ivf_index(spark, path, "vec_id", split_ratio=2.0)
    assert rep["n_split"] >= 1 and rep["new_list_ids"]
    assert rep["max_share_after_ppm"] < rep["max_share_before_ppm"]

    after_rows = spark.read.parquet(path + "/lists").collect()
    after = {(int(r["vec_id"]), int(r["list_id"])) for r in after_rows}
    assert {v for v, _ in after} == {v for v, _ in before}  # ids conserved
    assert len(after) == len(before)  # exactly once each
    # cold lists untouched row-for-row
    split_ids = {int(l) for l in rep["new_list_ids"]}
    hot_parents = {
        lid
        for _, lid in before
        if (lid not in {l for _, l in after})
        or any(v for v, l in after if l in split_ids)
    }
    for lid in {l for _, l in before}:
        if lid in split_ids:
            continue
        b = {v for v, l in before if l == lid}
        a = {v for v, l in after if l == lid}
        if b != a:  # only the split parents may change
            assert a < b and rep["n_split"] >= 1
    # hottest list shrank in absolute terms too
    sizes_after: dict = {}
    for _, lid in after:
        sizes_after[lid] = sizes_after.get(lid, 0) + 1
    assert max(sizes_after.values()) < hot_before

    # stats sidecar: incremental update == full recompute
    cents = spark.read.parquet(path + "/centroids")
    lists = spark.read.parquet(path + "/lists")
    recomputed = (
        lists.join(
            cents.withColumnRenamed("__list", "list_id"), "list_id"
        )
        .select(cosine_similarity(F.col("__v"), F.col("__cent")).alias("c"))
        .agg(F.avg("c"))
        .collect()[0][0]
    )
    stored = spark.read.parquet(path + "/stats").collect()[0][
        "mean_assigned_cos"
    ]
    assert stored == pt.approx(recomputed, rel=1e-9)


def test_rebalance_noop_when_balanced(spark, tmp_path):
    from spark_alchemy_spark.operators.similarity import (
        build_ivf_index,
        rebalance_ivf_index,
    )

    df = _mk_clustered(spark, tmp_path, n_plants=0)
    path = str(tmp_path / "idx2")
    build_ivf_index(df, "vec_id", "embedding", path, n_centroids=4)
    before = sorted(
        (int(r["vec_id"]), int(r["list_id"]))
        for r in spark.read.parquet(path + "/lists")
        .select("vec_id", "list_id")
        .collect()
    )
    rep = rebalance_ivf_index(spark, path, "vec_id", split_ratio=2.0)
    assert rep["n_split"] == 0 and rep["rows_moved"] == 0
    assert rep["max_share_after_ppm"] == rep["max_share_before_ppm"]
    after = sorted(
        (int(r["vec_id"]), int(r["list_id"]))
        for r in spark.read.parquet(path + "/lists")
        .select("vec_id", "list_id")
        .collect()
    )
    assert after == before


def test_rebalance_skips_degenerate_identical_list(spark, tmp_path):
    """A hot list whose vectors all share ONE direction cannot split
    (Lloyd degenerates to one nonempty child): it must be SKIPPED —
    overwriting the parent partition with zero rows would strand the
    old files — and reported as such."""
    from spark_alchemy_spark.operators.similarity import rebalance_ivf_index

    dim = 8
    rows = []
    for c in range(2):  # cold lists 1 and 2: 10 distinct vectors each
        for i in range(10):
            v = [0.0] * dim
            v[c + 1] = 1.0 + i / 100.0
            rows.append((c * 100 + i, v, c + 1))
    for i in range(80):  # hot list 0: ALL the same direction
        v = [0.0] * dim
        v[0] = 1.0
        rows.append((10_000 + i, v, 0))
    # hand-built index layout (global k-means would merge/relabel these
    # clusters unpredictably; the degenerate-skip contract is about the
    # REBALANCE step, so pin its input exactly)
    df = spark.createDataFrame(
        rows, "vec_id long, __v array<double>, list_id long"
    )
    path = str(tmp_path / "idx3")
    df.repartition("list_id").write.partitionBy("list_id").parquet(
        path + "/lists"
    )
    cents = []
    for c in range(3):
        v = [0.0] * dim
        v[0 if c == 0 else c] = 1.0
        cents.append((c, v))
    spark.createDataFrame(
        cents, "__list long, __cent array<double>"
    ).write.parquet(path + "/centroids")
    before = sorted(
        int(r["vec_id"])
        for r in spark.read.parquet(path + "/lists").select("vec_id").collect()
    )
    rep = rebalance_ivf_index(spark, path, "vec_id", split_ratio=2.0)
    assert rep["skipped_degenerate"] >= 1 and rep["n_split"] == 0
    after = sorted(
        int(r["vec_id"])
        for r in spark.read.parquet(path + "/lists").select("vec_id").collect()
    )
    assert after == before


def test_rebalance_stats_correct_after_appends(spark, tmp_path):
    """Round-6 review finding: the incremental /stats math must stay
    exact when the split list contains APPENDED rows — i.e. /stats is
    the running (n, mean) over every indexed row (append folds itself
    in after its drift comparison), not a build-time-only snapshot."""
    from spark_alchemy_spark.operators.dedup import cosine_similarity
    from spark_alchemy_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        rebalance_ivf_index,
    )

    df = _mk_clustered(spark, tmp_path, n_plants=0)
    path = str(tmp_path / "idx4")
    build_ivf_index(df, "vec_id", "embedding", path, n_centroids=4)
    # append a hot batch: 60 same-direction plants (cluster 0's axis)
    plants = spark.createDataFrame(
        [
            (20_000 + i, [1.0 + i / 1000.0] + [0.0] * 7)
            for i in range(60)
        ],
        "vec_id long, embedding array<double>",
    )
    append_ivf_index(plants, "vec_id", "embedding", path)
    stats1 = spark.read.parquet(path + "/stats").collect()[0]
    assert int(stats1["n"]) == 160  # append folded itself in
    rep = rebalance_ivf_index(spark, path, "vec_id", split_ratio=2.0)
    assert rep["n_split"] >= 1
    stored = spark.read.parquet(path + "/stats").collect()[0]
    assert int(stored["n"]) == 160
    cents = spark.read.parquet(path + "/centroids")
    recomputed = (
        spark.read.parquet(path + "/lists")
        .join(cents.withColumnRenamed("__list", "list_id"), "list_id")
        .select(cosine_similarity(F.col("__v"), F.col("__cent")).alias("c"))
        .agg(F.avg("c"))
        .collect()[0][0]
    )
    assert float(stored["mean_assigned_cos"]) == pytest.approx(
        recomputed, rel=1e-9
    )
    assert float(stored["mean_assigned_cos"]) <= 1.0 + 1e-9  # a real mean


def test_rank_auc_single_class_fails_loudly(spark):
    """A single-class label must raise (AUC undefined), never return a
    silent NULL."""
    from spark_alchemy_spark.operators.probe import rank_auc_ppm

    df = spark.createDataFrame([(i, 1) for i in range(10)], "s int, pos int")
    with pytest.raises(Exception, match="single-class"):
        rank_auc_ppm(df, "s", "pos").collect()


def test_cross_pairs_kernel_string_ids(spark):
    """The kernel's output schema follows the caller's id type — string
    ids (urls) must work on the DEFAULT probe-all streaming path."""
    from spark_alchemy_spark.operators.dedup import _cross_pairs_cosine_blocked

    a = spark.createDataFrame(
        [("u/a", [1.0, 0.0]), ("u/b", [0.0, 1.0])],
        "__id string, __v array<double>",
    )
    b = spark.createDataFrame(
        [("s/x", [1.0, 0.0]), ("s/y", [0.7, 0.7])],
        "__id string, __v array<double>",
    )
    got = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in _cross_pairs_cosine_blocked(a, b, 0.9).collect()
    }
    assert got == {("u/a", "s/x", 1.0)}


def test_word_syms_empty_word_is_empty(spark):
    """sequence(1,0) DESCENDS: '' must produce [] (cross-encoder
    identity), not two empty symbols."""
    from spark_alchemy_spark.operators.bpe import word_syms

    df = spark.createDataFrame([("",), ("ab",)], "w string")
    got = {
        r["w"]: r["s"]
        for r in df.select("w", word_syms(F.col("w")).alias("s")).collect()
    }
    assert got[""] == []
    assert got["ab"] == ["61", "62"]


def test_contrastive_triplets_match_brute_force(spark):
    """The mined triplet set must equal an exact Python replay:
    best positive = max cosine >= 0.95 (ties to lowest id), hardest
    negative = max ROUNDED cosine <= 0.5 (ties to lowest id) — the
    kernel's slack-retention argument is what makes the blocked path
    exact, so verify it end to end on data with planted duplicates,
    near-boundary negatives, and a zero-norm row."""
    import math
    import random

    from spark_alchemy_spark.operators.similarity import (
        mine_contrastive_triplets,
    )

    rng = random.Random(21)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    for k in range(6):  # planted duplicate groups -> anchors exist
        rows[30 + k] = (30 + k, [x * 1.001 for x in rows[k][1]])
    rows.append((99, [0.0] * 8))  # zero-norm: excluded everywhere
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    got = {
        tuple(r)
        for r in mine_contrastive_triplets(
            df, "vec_id", "vec", pos_threshold=0.95, neg_max=0.5
        ).collect()
    }

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        nu = math.sqrt(sum(a * a for a in u))
        nv = math.sqrt(sum(b * b for b in v))
        return d / (nu * nv) if nu and nv else None

    vecs = {i: v for i, v in rows if any(x != 0 for x in v)}

    def r4(x):  # HALF_UP like Spark/DuckDB round(x, 4)
        from decimal import ROUND_HALF_UP, Decimal

        return float(Decimal(repr(x)).quantize(Decimal("0.0001"),
                                                rounding=ROUND_HALF_UP))

    want = set()
    for a in vecs:
        cands = [
            (r4(cos(vecs[a], vecs[b])), b) for b in vecs if b != a
        ]
        pos = [(c, b) for c, b in cands if c >= 0.95]
        neg = [(c, b) for c, b in cands if c <= 0.5]
        if not pos or not neg:
            continue
        pc, pb = max(pos, key=lambda t: (t[0], -t[1]))
        nc, nb = max(neg, key=lambda t: (t[0], -t[1]))
        want.add((a, pb, nb, pc, nc))
    assert got == want and len(want) >= 12


def test_hard_negative_kernel_boundary_poison(spark):
    """Round-6 second-review finding: a row whose raw cosine clears the
    eligibility slack but ROUNDS ABOVE neg_max (here 0.50006 -> 0.5001)
    must not anchor the group-local max — with the old single-mask
    retention it evicted the true hardest negative sitting more than
    2.1e-4 below it."""
    import math

    from spark_alchemy_spark.operators.dedup import (
        _cross_hard_negative_candidates_blocked,
    )
    from pyspark.sql import functions as F

    a = spark.createDataFrame([(1, [1.0, 0.0])], "__id long, __v array<double>")
    rows = [
        (10, [0.50006, math.sqrt(1 - 0.50006**2)]),  # rounds to 0.5001
        (20, [0.4, math.sqrt(1 - 0.16)]),            # the true winner
        (30, [0.9, math.sqrt(1 - 0.81)]),            # ineligible
    ]
    b = spark.createDataFrame(rows, "__id long, __v array<double>")
    cand = _cross_hard_negative_candidates_blocked(a, b, 0.5, blocks=1)
    best = (
        cand.withColumn("c", F.round("__cos", 4))
        .filter(F.col("c") <= 0.5)
        .orderBy(F.desc("c"), "id_b")
        .limit(1)
        .collect()
    )
    assert best and best[0]["id_b"] == 20 and best[0]["c"] == 0.4
