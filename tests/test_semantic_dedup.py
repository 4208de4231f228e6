"""Semantic dedup (SemDeDup-style) tests: probe-all bucketed path vs
the delegated exact kernel, selective-probe recall on planted tight
duplicates, and transitive component collapse."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row

SF = "/root/testdata/sf0.001"


def _pairs_set(df):
    return {(r["id_a"], r["id_b"], r["cos"]) for r in df.collect()}


def test_probe_all_bucketed_equals_blocked_kernel(spark):
    """nprobe = n_centroids makes the candidate set provably all pairs;
    the bucketed machinery (forced) must emit exactly what the blocked
    BLAS kernel (the delegation target) emits."""
    from spark_alchemy_spark.operators.dedup import semantic_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    delegated = semantic_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.4, n_centroids=8, nprobe=8
    )
    bucketed = semantic_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.4, n_centroids=8, nprobe=8,
        _force_bucketed=True,
    )
    got_d, got_b = _pairs_set(delegated), _pairs_set(bucketed)
    assert got_d == got_b and got_d  # identical and non-empty


def _planted_corpus(spark, seed=7):
    """32 well-separated base vectors + 3 planted tight duplicate
    groups (cos > 0.999 within group): a(0,1,2 chain), b(10,11),
    c(20,21)."""
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(32, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i, v in enumerate(base):
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    for vid, src in [(100, 0), (101, 0), (110, 10), (120, 20)]:
        dup = base[src] + rng.normal(scale=1e-3, size=16)
        rows.append(Row(vec_id=vid, embedding=[float(x) for x in dup]))
    return spark.createDataFrame(rows)


def test_planted_duplicates_found_at_nprobe_1(spark):
    """Tight duplicates (the SemDeDup regime) share a top-1 cluster by
    construction, so the classic nprobe=1 within-cluster prune finds
    every planted pair that brute force finds."""
    from spark_alchemy_spark.operators.dedup import semantic_dup_pairs

    corpus = _planted_corpus(spark)
    exact = _pairs_set(
        semantic_dup_pairs(
            corpus, "vec_id", "embedding", threshold=0.99,
            n_centroids=8, nprobe=8,
        )
    )
    clustered = _pairs_set(
        semantic_dup_pairs(
            corpus, "vec_id", "embedding", threshold=0.99,
            n_centroids=8, nprobe=1,
        )
    )
    assert exact, "planted duplicates must be found by brute force"
    assert clustered == exact
    found_ids = {frozenset((a, b)) for a, b, _ in exact}
    assert frozenset((0, 100)) in found_ids
    assert frozenset((10, 110)) in found_ids
    assert frozenset((20, 120)) in found_ids


def test_components_collapse_transitively(spark):
    """0~100 and 0~101 (and 100~101) collapse to one component with the
    minimum id as canonical survivor."""
    from spark_alchemy_spark.operators.dedup import semantic_dedup_components

    corpus = _planted_corpus(spark)
    comps = {
        r["comp"]: (r["n_members"], r["min_id"], r["max_id"], r["n_dropped"])
        for r in semantic_dedup_components(
            corpus, "vec_id", "embedding", threshold=0.99,
            n_centroids=8, nprobe=8,
        ).collect()
    }
    assert comps[0] == (3, 0, 101, 2)
    assert comps[10] == (2, 10, 110, 1)
    assert comps[20] == (2, 20, 120, 1)


def test_selective_probe_is_subset_of_exact(spark):
    """On the near-random driver embeddings (weak 0.4-band pairs, the
    anti-SemDeDup regime) a selective probe returns a SUBSET of the
    exact pairs — never an invented pair, never a wrong cosine."""
    from spark_alchemy_spark.operators.dedup import semantic_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = _pairs_set(
        semantic_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.4,
            n_centroids=8, nprobe=8,
        )
    )
    selective = _pairs_set(
        semantic_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.4,
            n_centroids=8, nprobe=2,
        )
    )
    assert selective <= exact


def test_bucketed_path_plan_has_no_corpus_cartesian(spark):
    """Scale contract for the selective-probe path: the only
    nested-loop join in the plan is the centroid-broadcast scoring
    stage (16 rows); candidates come from an equi-join on the cluster
    id, never a corpus x corpus cartesian."""
    from spark_alchemy_spark.operators.dedup import semantic_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pairs = semantic_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.4, n_centroids=8, nprobe=2
    )
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    # one BNLJ per centroid crossJoin (corpus scoring); queries re-use
    # the same broadcast — anything beyond 2 means a corpus-sized
    # nested loop crept in
    assert final.count("BroadcastNestedLoopJoin") <= 2, final


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_hsettings = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_hsettings
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_vecs=st.integers(min_value=4, max_value=24),
    dim=st.sampled_from([4, 8]),
    threshold=st.sampled_from([0.3, 0.6, 0.9]),
    k=st.sampled_from([2, 4]),
)
def test_probe_all_equals_kernel_property(spark, seed, n_vecs, dim, threshold, k):
    """Property law: for ANY corpus, probe-all through the forced
    bucketed machinery equals the delegated blocked kernel — the
    equality the gate entry's delegation rests on, across random
    vector sets (including degenerate near-parallel and zero-ish
    vectors), dimensions, thresholds, and cluster counts."""
    rng = np.random.default_rng(seed)
    m = rng.normal(size=(n_vecs, dim))
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(m)
    ]
    emb = spark.createDataFrame(rows)

    from spark_alchemy_spark.operators.dedup import semantic_dup_pairs

    delegated = _pairs_set(
        semantic_dup_pairs(
            emb, "vec_id", "embedding", threshold=threshold,
            n_centroids=k, nprobe=k, seed=7,
        )
    )
    bucketed = _pairs_set(
        semantic_dup_pairs(
            emb, "vec_id", "embedding", threshold=threshold,
            n_centroids=k, nprobe=k, seed=7, _force_bucketed=True,
        )
    )
    assert delegated == bucketed


def _ref_pretok(text: str) -> list[str]:
    """Python replay of the shared pre-tokenization rule
    (``operators.bpe.PRE_TOKEN_RE``): lowercase, then letter runs /
    digit runs / other-non-space runs, splitting on ASCII whitespace
    — category-based so it needs no regex engine at all."""
    import unicodedata

    def cls(ch):
        if ch in " \t\n\x0b\f\r":
            return None
        cat = unicodedata.category(ch)
        if cat.startswith("L"):
            return "L"
        if cat.startswith("N"):
            return "N"
        return "P"

    out, cur, cur_cls = [], "", None
    for ch in text.lower():
        c = cls(ch)
        if c != cur_cls or c is None:
            if cur:
                out.append(cur)
            cur, cur_cls = ("", None) if c is None else (ch, c)
        else:
            cur += ch
    if cur:
        out.append(cur)
    return out


def _ref_hash_embedding(text: str, dim: int) -> list[float]:
    import hashlib

    vec = [0.0] * dim
    for w in _ref_pretok(text):
        h = hashlib.md5(w.encode()).hexdigest()
        b = int(h[:4], 16) % dim
        vec[b] += 1 if int(h[4], 16) % 2 == 0 else -1
    return vec


def test_doc_hash_embeddings_match_python_replay(spark):
    """The hashing-trick embedding must replay exactly in plain Python
    (shared pre-tokenization, md5 bucket + ±1 sign per token, signed
    counts per bucket) — the portability property the SQL oracle
    relies on.  'Hello, world!' now contributes ',' and '!' as
    punctuation tokens (byte-level pre-tokenizer, round 6)."""
    from spark_alchemy_spark.operators.dedup import doc_hash_embeddings

    docs = spark.createDataFrame(
        [(1, "Hello, world! hello"), (2, ""), (3, "a  b-4")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["vec"] for r in doc_hash_embeddings(docs, dim=8).collect()}

    assert _ref_pretok("Hello, world! hello") == [
        "hello", ",", "world", "!", "hello"
    ]
    assert got[1] == _ref_hash_embedding("Hello, world! hello", 8)
    assert got[3] == _ref_hash_embedding("a  b-4", 8)
    assert 2 not in got  # zero-token doc has no embedding row
    assert all(len(v) == 8 for v in got.values())


def test_semantic_components_driver_guard_matches_distributed(
    spark, monkeypatch
):
    """The counted driver union–find and the distributed propagation
    must produce identical components (forced via DRIVER_PAIR_LIMIT)."""
    import spark_alchemy_spark.operators.dedup as dedup_mod
    from spark_alchemy_spark.operators.dedup import semantic_dedup_components

    corpus = _planted_corpus(spark)
    kw = dict(threshold=0.99, n_centroids=8, nprobe=8)
    via_driver = {
        tuple(r)
        for r in semantic_dedup_components(
            corpus, "vec_id", "embedding", **kw
        ).collect()
    }
    monkeypatch.setattr(dedup_mod, "DRIVER_PAIR_LIMIT", 0)
    via_distributed = {
        tuple(r)
        for r in semantic_dedup_components(
            corpus, "vec_id", "embedding", **kw
        ).collect()
    }
    assert via_driver == via_distributed and via_driver


@_hsettings
@given(
    texts=st.lists(
        st.text(alphabet="ab c!X4.-", min_size=0, max_size=20),
        min_size=1,
        max_size=6,
    ),
    dim=st.sampled_from([4, 8]),
)
def test_doc_hash_embeddings_property(spark, texts, dim):
    """Property law: for ANY text (mixed case, punctuation, digits,
    repeated spaces, empties) the hashing-trick embedding equals the
    Python replay of the shared pre-tokenization — the
    engine-portability contract the SQL oracle rests on."""
    from spark_alchemy_spark.operators.dedup import doc_hash_embeddings

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["vec"]
        for r in doc_hash_embeddings(docs, dim=dim).collect()
    }

    for i, t in enumerate(texts):
        if _ref_pretok(t):
            vec = _ref_hash_embedding(t, dim)
            assert got[i] == vec, (t, got[i], vec)
        else:
            assert i not in got


def test_sqrt_n_default_holds_recall(spark):
    """The sqrt(n) production default (n_centroids=None): planted
    recall must hold at the DERIVED setting — identical plants found
    at 100% (structural: identical vectors share the centroid ranking
    bit-for-bit), 1.001x-scaled plants >= 99% (the battery entry's
    contract, here at scaled centroids instead of the pinned 16)."""
    import random

    from pyspark.sql import functions as F

    from spark_alchemy_spark.operators.dedup import semantic_dup_pairs

    rng = random.Random(13)
    dim, n = 16, 400
    rows = []
    for i in range(n):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((i, v))
    base_ids = [i for i in range(n) if i % 20 == 0]
    for i in base_ids:
        rows.append((i + 10_000_000, list(rows[i][1])))  # identical
        rows.append((i + 20_000_000, [x * 1.001 for x in rows[i][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_dup_pairs(
        df, "vec_id", "embedding", threshold=0.95,
        n_centroids=None, nprobe=2, seed=42,
    )
    got = {
        (int(r["id_a"]), int(r["id_b"]))
        for r in pairs.filter(F.col("id_b") >= 10_000_000).collect()
    }
    exact = sum((i, i + 10_000_000) in got for i in base_ids)
    scaled = sum((i, i + 20_000_000) in got for i in base_ids)
    assert exact == len(base_ids)  # structural 100%
    assert scaled * 100 >= 99 * len(base_ids)


def test_sqrt_n_default_derivation_paths(spark):
    """n_centroids=None derives from the corpus count, or from a
    passed centroid table's row count — and an explicit value is
    never overridden (the battery entry's determinism contract)."""
    from spark_alchemy_spark.operators.dedup import semantic_dup_pairs
    from spark_alchemy_spark.operators.similarity import train_ivf_centroids

    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # corpus-derived: sqrt(100) = 10 centroids > nprobe=2 -> the
    # selective path runs (not the probe-all kernel); smoke the result
    pairs = semantic_dup_pairs(
        df, "vec_id", "embedding", threshold=0.99,
        n_centroids=None, nprobe=2, seed=1,
    )
    assert {"id_a", "id_b", "cos"} == set(pairs.columns)
    pairs.count()  # executes the derived-k plan
    # centroid-table-derived: k comes from the table, and nprobe >= k
    # must still delegate to the exact kernel (2 >= 2)
    cents = train_ivf_centroids(df, "embedding", n_centroids=2, seed=1)
    all_pairs = semantic_dup_pairs(
        df, "vec_id", "embedding", threshold=0.99,
        n_centroids=None, nprobe=2, centroids=cents, seed=1,
    )
    plan = all_pairs._jdf.queryExecution().toString()
    assert "FlatMapGroupsInPandas" in plan  # the blocked BLAS kernel
