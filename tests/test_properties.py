"""Property-based laws (hypothesis): operator equivalences that must
hold on arbitrary inputs, not just the battery fixtures.

Example counts are kept small — every example pays a Spark action —
but the generators explore nulls, duplicates, skew and empty inputs,
which is exactly where hand-written fixtures go stale.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spark_alchemy_spark.functions import sketches as S
from spark_alchemy_spark.operators.skew import salted_join

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=0, max_value=5)  # few keys -> forced collisions


@_settings
@given(
    left=st.lists(keys, min_size=0, max_size=30),
    right=st.lists(keys, min_size=0, max_size=20),
)
def test_salted_join_equals_plain_join(spark, left, right):
    """Salting is pure physical layout: result multiset == plain join."""
    l = spark.createDataFrame([(k, i) for i, k in enumerate(left)] or None, "k long, lv long") \
        if left else spark.createDataFrame([], "k long, lv long")
    r = spark.createDataFrame([(k, i) for i, k in enumerate(right)] or None, "k long, rv long") \
        if right else spark.createDataFrame([], "k long, rv long")
    plain = sorted(map(tuple, l.join(r, "k").collect()))
    salted = sorted(map(tuple, salted_join(l, r, on="k", salt=4).collect()))
    assert salted == plain


@_settings
@given(
    a=st.lists(st.integers(min_value=-50, max_value=50), max_size=40),
    b=st.lists(st.integers(min_value=-50, max_value=50), max_size=40),
)
def test_theta_set_algebra_equals_python_sets(spark, a, b):
    """Theta sketch algebra == Python set algebra while in exact mode."""
    rows = [(x, None) for x in a] + [(None, y) for y in b]
    if not rows:
        return
    df = spark.createDataFrame(rows, "a long, b long")
    sk = df.agg(
        S.theta_init_agg("a", 12).alias("sa"), S.theta_init_agg("b", 12).alias("sb")
    )
    got = sk.select(
        S.theta_cardinality(S.theta_union_row("sa", "sb", 12)).alias("u"),
        S.theta_cardinality(S.theta_intersection_row("sa", "sb")).alias("i"),
        S.theta_cardinality(S.theta_difference_row("sa", "sb")).alias("d"),
    ).collect()[0]
    sa, sb = set(a), set(b)
    if not a or not b:
        # null-algebra branch: missing side -> union degrades to the
        # other side, intersection/difference -> NULL sketch
        assert got["u"] == len(sa | sb)
        assert got["i"] is None and got["d"] is None
        return
    assert (got["u"], got["i"], got["d"]) == (
        len(sa | sb),
        len(sa & sb),
        len(sa - sb),
    )


@_settings
@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=60,
    ),
    p=st.floats(min_value=0.05, max_value=0.95),
)
def test_kll_quantile_is_exact_order_statistic(spark, vals, p):
    """KLL in exact mode == the inclusive-rank order statistic.

    The expected index mirrors DataSketches' tail rounding: the
    natural rank ``p * n`` is rounded to 1e-7 absolute (half-up, as
    Java ``Math.round``) BEFORE the inclusive ceil, so float dust just
    above an integer rank snaps back down.  Measured on the engine
    (n=20): natural rank 1 + 2e-8 returns the rank-1 value while
    1 + 2e-7 returns rank 2 — a plain ``ceil(p * n)`` misreads the
    former (hypothesis found p=nextafter(0.05) doing exactly that)."""
    df = spark.createDataFrame([(v,) for v in vals], "d double")
    got = df.agg(S.kll_init_agg("d", 65535).alias("sk")).select(
        S.kll_quantile("sk", p).alias("q"), S.kll_count("sk").alias("n")
    ).collect()[0]
    srt = sorted(vals)
    assert got["n"] == len(vals)
    nr = math.floor(p * len(vals) * 1e7 + 0.5) / 1e7
    assert got["q"] == srt[max(0, math.ceil(nr) - 1)]


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_left_nulls(spark, how):
    """Left salted join keeps unmatched left rows exactly once."""
    l = spark.createDataFrame([(1, 10), (2, 20)], "k long, lv long")
    r = spark.createDataFrame([(1, 100)], "k long, rv long")
    out = sorted(
        map(tuple, salted_join(l, r, on="k", salt=4, how=how).collect())
    )
    if how == "inner":
        assert out == [(1, 10, 100)]
    else:
        assert out == [(1, 10, 100), (2, 20, None)]


@given(
    st.lists(st.floats(min_value=0.0, max_value=1.0), min_size=1, max_size=8),
)
@settings(max_examples=200, deadline=None)
def test_fraction_threshold_monotone_and_bounded(fracs):
    """Bigger fraction -> lexicographically bigger hex threshold, so a
    sample at fraction f is a SUBSET of the sample at f' > f (nested
    samples — the property that makes mix changes incremental)."""
    from spark_alchemy_spark.operators.prep import fraction_threshold

    ts = [fraction_threshold(f) for f in fracs]
    for f, t in zip(fracs, ts):
        assert t == "g" or (len(t) == 8 and t <= "ffffffff")
    pairs = sorted(zip(fracs, ts))
    for (f1, t1), (f2, t2) in zip(pairs, pairs[1:]):
        assert t1 <= t2


@given(
    st.dictionaries(
        st.text(alphabet="abcdef", min_size=1, max_size=4),
        st.integers(min_value=1, max_value=10**9),
        min_size=1,
        max_size=8,
    ),
    st.floats(min_value=0.0, max_value=1.0),
)
@settings(max_examples=200, deadline=None)
def test_temperature_fractions_laws(counts, alpha):
    """Keep-fractions are in (0, 1], the max is exactly 1 (dominant
    stratum kept whole), and alpha=1 keeps everything."""
    from spark_alchemy_spark.operators.prep import temperature_fractions

    fr = temperature_fractions(counts, alpha=alpha)
    assert set(fr) == set(counts)
    assert all(0 < v <= 1.0 + 1e-12 for v in fr.values())
    assert abs(max(fr.values()) - 1.0) < 1e-12
    one = temperature_fractions(counts, alpha=1.0)
    assert all(abs(v - 1.0) < 1e-12 for v in one.values())


@given(
    st.integers(min_value=0, max_value=(1 << 12) - 1),
    st.integers(min_value=0, max_value=(1 << 12) - 1),
)
@settings(max_examples=200, deadline=None)
def test_zorder_interleave_is_invertible(a, b):
    """The Morton key loses nothing: de-interleaving the bits recovers
    both coordinates exactly (bijective on the grid), so range
    pruning on the key can never conflate distinct cells."""
    z = 0
    for j in range(12):
        z |= ((a >> j) & 1) << (2 * j)
        z |= ((b >> j) & 1) << (2 * j + 1)
    ra = sum(((z >> (2 * j)) & 1) << j for j in range(12))
    rb = sum(((z >> (2 * j + 1)) & 1) << j for j in range(12))
    assert (ra, rb) == (a, b)


def test_zorder_key_matches_python_interleave(spark):
    """The Column expression computes the same Morton key as the plain
    Python interleave (the property the oracle also pins, asserted here
    over a dense grid)."""
    import pyspark.sql.functions as F

    from spark_alchemy_spark.sources.zorder import zorder_key

    df = spark.range(256).select(
        (F.col("id") % 16).alias("a"), (F.col("id") / 16).cast("long").alias("b")
    )
    rows = df.select("a", "b", zorder_key("a", "b", bits=4).alias("z")).collect()
    for r in rows:
        z = 0
        for j in range(4):
            z |= ((r["a"] >> j) & 1) << (2 * j)
            z |= ((r["b"] >> j) & 1) << (2 * j + 1)
        assert r["z"] == z


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=0,
        max_size=25,
    )
)
@_settings
def test_connected_components_equals_union_find(spark, edges):
    """Distributed min-label CC and the driver-side union-find are
    independent implementations of the same closure; on arbitrary
    graphs (self-loops, cycles, duplicate edges, empty) both must
    assign every node the same min-id component."""
    from spark_alchemy_spark.operators.dedup import pairs_to_comp_map
    from spark_alchemy_spark.operators.graph import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    cc = {
        r["node"]: r["comp"]
        for r in connected_components(df, "id_a", "id_b").collect()
    }
    # reference: python union-find over the same pairs
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = {n for e in edges for n in e}
    expected = {n: find(n) for n in nodes}
    assert cc == expected
    # and the driver union-find behind pairs_to_comp_map (a 25-pair list
    # is under its guard) gives the same map, so the same non-min losers
    driver = {r["node"]: r["comp"] for r in pairs_to_comp_map(df).collect()}
    assert driver == expected
    losers = {n for n, c in driver.items() if n != c}
    assert losers == {n for n, c in expected.items() if n != c}


@given(
    docs=st.lists(
        st.lists(st.integers(0, 30), min_size=5, max_size=40),
        min_size=2,
        max_size=4,
    )
)
@_settings
def test_minhash_estimate_tracks_exact_jaccard(spark, docs):
    """MinHash(64) signature similarity must track exact shingle-set
    Jaccard within the sketch's statistical envelope (std ~
    sqrt(j(1-j)/64) <= 0.0625; 4 std = 0.25) on arbitrary token
    streams — the law that justifies signature-only verification in
    minhash_lsh_pairs."""
    from spark_alchemy_spark.operators.dedup import minhash_signature

    texts = [" ".join(f"w{t}" for t in d) for d in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    n = 3
    sigs = {
        r["id"]: r["sig"]
        for r in df.select(
            "id",
            minhash_signature(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, size(split(text, ' ')) - {n - 1}),"
                        f" i -> concat_ws(' ', slice(split(text, ' '), i, {n})))"
                    )
                ),
                num_perm=64,
            ).alias("sig"),
        ).collect()
    }

    def shingles(d):
        toks = [f"w{t}" for t in d]
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            sa, sb = shingles(docs[a]), shingles(docs[b])
            if not sa or not sb or sigs[a] is None or sigs[b] is None:
                continue
            exact = len(sa & sb) / len(sa | sb)
            est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / 64.0
            assert abs(est - exact) <= 0.25, (exact, est)


def test_lsh_pair_estimate_is_minhash_signature_agreement(spark):
    """minhash_lsh_pairs builds its signatures as one generated SQL
    string; for every pair it returns, ``est_jaccard`` must be exactly
    the share of equal positions in ``minhash_signature`` over the two
    documents' distinct shingles, so the property above covers it."""
    from spark_alchemy_spark.functions.text import exploded_shingles
    from spark_alchemy_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signature,
    )

    base = [f"w{t}" for t in range(30)]
    texts = [
        " ".join(base),
        " ".join(base[:25] + ["x1", "x2", "x3", "x4", "x5"]),
        " ".join(base[5:] + ["y1", "y2"]),
        " ".join(base[::-1]),
        " ".join(f"z{t}" for t in range(20)),
        " ".join(base[:12] + [f"z{t}" for t in range(12)]),
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    pairs = minhash_lsh_pairs(df, "id", "text", threshold=0.2).collect()
    assert len(pairs) >= 3
    sigs = {
        r["id"]: r["sig"]
        for r in exploded_shingles(df, "id", "text", 3)
        .groupBy("id")
        .agg(minhash_signature(F.collect_set("__s"), num_perm=64).alias("sig"))
        .collect()
    }
    for r in pairs:
        agree = sum(
            x == y for x, y in zip(sigs[r["id_a"]], sigs[r["id_b"]])
        )
        # est_jaccard = round(agree / 64, 4): k/64 has at most six
        # decimals, so the rounded value still names k uniquely
        assert round(r["est_jaccard"] * 64) == agree, (r, agree)


# ---------------------------------------------------------------------------
# round-3 operators: geo radius join + bounded k-core laws
# ---------------------------------------------------------------------------


@_settings
@given(
    pts=st.lists(
        st.tuples(
            st.floats(min_value=-59.9, max_value=59.9, allow_nan=False),
            st.floats(min_value=-179.9, max_value=179.9, allow_nan=False),
        ),
        min_size=2,
        max_size=25,
    ),
    radius=st.sampled_from([50.0, 200.0, 800.0]),
)
def test_radius_join_equals_brute_force(spark, pts, radius):
    """Grid-cell candidate generation is pure pruning: the pair set
    must equal the O(n^2) haversine filter on ARBITRARY points
    (including near-duplicate points, cell-boundary straddlers, and
    antimeridian neighbors from the full lon range)."""
    from pyspark.sql import Row

    from spark_alchemy_spark.operators.geo import haversine_km, radius_join

    df = spark.createDataFrame(
        [Row(id=i, lat=la, lon=lo) for i, (la, lo) in enumerate(pts)]
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in radius_join(
            df, "id", "lat", "lon", radius_km=radius, max_abs_lat=60.0
        ).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    want = {
        (r["id_a"], r["id_b"])
        for r in (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .withColumn(
                "d",
                haversine_km(
                    F.col("a.lat"), F.col("a.lon"), F.col("b.lat"), F.col("b.lon")
                ),
            )
            .filter(F.col("d") < radius)
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        ).collect()
    }
    assert got == want


def _kcore_reference(edges, k, rounds):
    """Pure-python bounded peel over a set of canonical (a, b) edges."""
    cur = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    for _ in range(rounds):
        deg = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {v for v, d in deg.items() if d >= k}
        cur = {(a, b) for a, b in cur if a in keep and b in keep}
    deg = {}
    for a, b in cur:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    return {(v, d) for v, d in deg.items() if d >= k}


@_settings
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=0,
        max_size=25,
    ),
    k=st.sampled_from([2, 3]),
)
def test_kcore_bounded_matches_reference(spark, edges, k):
    """kcore_bounded == the obvious sequential peel on arbitrary small
    graphs (dups, self-loops, both directions, disconnected bits)."""
    from pyspark.sql import Row

    from spark_alchemy_spark.operators.graph import kcore_bounded

    if not edges:
        return
    df = spark.createDataFrame([Row(src=a, dst=b) for a, b in edges])
    got = {
        (r["v"], r["deg"])
        for r in kcore_bounded(df, k=k, rounds=3).collect()
    }
    assert got == _kcore_reference(edges, k, 3)


@_settings
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=-100, max_value=100),  # value
            st.integers(min_value=0, max_value=6),       # weight (incl. 0)
        ),
        min_size=1,
        max_size=25,
    ),
    rank=st.sampled_from([0.1, 0.5, 0.9, 1.0]),
)
def test_kll_weighted_quantile_equals_exact_in_exact_mode(spark, data, rank):
    """Below KLL capacity the sketch retains every offered value, so
    the weighted quantile must equal the exact order statistic of the
    weight-expanded multiset (inclusive convention: smallest value
    whose cumulative weight >= rank * total)."""
    from spark_alchemy_spark.functions.sketches import kll_weighted_quantiles

    total = sum(w for _, w in data)
    if total == 0:
        return  # all-zero weights: no offered values, sketch is NULL
    df = spark.createDataFrame(
        [(float(v), w) for v, w in data], "v double, w int"
    ).withColumn("g", F.lit(1))
    out = kll_weighted_quantiles(df, ["g"], "v", "w", ranks=[rank]).collect()[0]
    expanded = sorted(v for v, w in data for _ in range(w))
    idx = max(0, math.ceil(rank * len(expanded)) - 1)
    assert out["n_weight"] == len(expanded)
    assert out[f"q_{str(rank).replace('.', '_')}"] == float(expanded[idx])


@_settings
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # user
            st.sampled_from(["a", "b", None]),        # type (incl. NULL)
            st.integers(min_value=0, max_value=5),    # ts (forced ties)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_longest_streak_matches_python_reference(spark, events):
    """Window-algebra longest_streak vs a literal python scan of the
    same (ts, event_id)-ordered events: best run (first-on-tie), run
    length, and row count must agree for every user — including NULL
    types (NULL == NULL continues a run) and duplicate timestamps
    (event_id breaks ties)."""
    from spark_alchemy_spark.operators.temporal import longest_streak

    rows = [(u, t, ts, i) for i, (u, t, ts) in enumerate(events)]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts long, event_id long"
    )
    got = {
        r["user_id"]: (r["best_type"], r["best_streak"], r["n_rows"])
        for r in longest_streak(
            df, "user_id", "event_type", ["ts", "event_id"]
        ).collect()
    }

    expected = {}
    by_user: dict[int, list] = {}
    for u, t, ts, i in rows:
        by_user.setdefault(u, []).append((ts, i, t))
    for u, evs in by_user.items():
        evs.sort()
        best_t, best, run, prev = None, 0, 0, object()
        for _, _, t in evs:
            run = run + 1 if t == prev else 1
            prev = t
            if run > best:  # strict: first run in order wins ties
                best, best_t = run, t
        expected[u] = (best_t, best, len(evs))
    assert got == expected


@_settings
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # user
            st.sampled_from(["a", "b", None]),        # type (incl. NULL)
            st.integers(min_value=0, max_value=20),   # ts
        ),
        min_size=1,
        max_size=40,
    ),
    bucket_width=st.sampled_from([1, 2, 5]),
)
def test_longest_streak_bucketed_equals_exact(spark, events, bucket_width):
    """The skew-resilient bucketed variant must equal the exact
    single-window operator for ANY bucket width — width 1 forces every
    multi-row run to re-join across bucket boundaries through the
    suffix+prefix chain, width 5 mixes pure and multi-run buckets."""
    from spark_alchemy_spark.operators.temporal import (
        longest_streak,
        longest_streak_bucketed,
    )

    rows = [(u, t, ts, i) for i, (u, t, ts) in enumerate(events)]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts long, event_id long"
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
            df,
            "user_id",
            "event_type",
            "ts",
            "event_id",
            bucket=F.floor(F.col("ts") / bucket_width),
        ).collect()
    }
    assert bucketed == exact


@_settings
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),    # user
            st.integers(min_value=0, max_value=400),  # ts seconds
        ),
        min_size=1,
        max_size=40,
    ),
    bucket_width=st.sampled_from([30, 100, 1000]),
)
def test_sessionize_bucketed_equals_exact(spark, events, bucket_width):
    """Bucketed sessionization must assign the IDENTICAL session id to
    every row as the single-window operator — including sessions that
    span bucket boundaries (boundary gap <= the session gap) and ids
    that must NOT merge across a boundary when the gap is exceeded."""
    from spark_alchemy_spark.operators.temporal import (
        sessionize,
        sessionize_bucketed,
    )

    rows = [(u, ts, i) for i, (u, ts) in enumerate(events)]
    df = spark.createDataFrame(rows, "user_id long, ts_s long, row_id long")
    df = df.withColumn("ts", F.timestamp_seconds("ts_s"))
    gap = 60
    exact = {
        (r["user_id"], r["row_id"], r["session_id"])
        for r in sessionize(df, "user_id", "ts", gap).collect()
    }
    bucketed = {
        (r["user_id"], r["row_id"], r["session_id"])
        for r in sessionize_bucketed(
            df,
            "user_id",
            "ts",
            gap,
            bucket=F.floor(F.col("ts_s") / bucket_width),
        ).collect()
    }
    assert bucketed == exact


@_settings
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)),  # (key, ts)
        min_size=1,
        max_size=20,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(-99, 99)),
        min_size=0,
        max_size=20,
    ),
    direction=st.sampled_from(["backward", "forward"]),
    bucket_width=st.sampled_from([7, 25, 1000]),
)
def test_as_of_join_bucketed_equals_exact(spark, left, right, direction, bucket_width):
    """The bucketed as-of join must produce the identical match set as
    the single-window operator for ANY bucket width and direction —
    including left rows whose bucket holds no right row at all (the
    cross-bucket carry path) and duplicate right timestamps (resolved
    by tie_break in both)."""
    from spark_alchemy_spark.operators.temporal import (
        as_of_join,
        as_of_join_bucketed,
    )

    l = spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(left)], "k long, lts long, lid long"
    )
    r = spark.createDataFrame(
        [(k, ts, v, i) for i, (k, ts, v) in enumerate(right)] or None,
        "k long, rts long, val long, rid long",
    ) if right else spark.createDataFrame([], "k long, rts long, val long, rid long")

    kw = dict(
        on="k", left_ts="lts", right_ts="rts", right_cols=["val", "rid"],
        tie_break="rid", direction=direction,
    )
    exact = {tuple(row) for row in as_of_join(l, r, **kw).collect()}
    bucketed = {
        tuple(row)
        for row in as_of_join_bucketed(
            l, r, bucket=F.floor(F.col("__t") / bucket_width), **kw
        ).collect()
    }
    assert bucketed == exact


@_settings
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 2),                                  # key
            st.integers(0, 30),                                 # ts
            st.floats(-100, 100, allow_nan=False, width=32),    # value
        ),
        min_size=1,
        max_size=30,
    ),
    alpha=st.sampled_from([0.1, 0.5, 0.9]),
    bucket_width=st.sampled_from([1, 4, 100]),
)
def test_ewma_bucketed_matches_exact_within_tolerance(
    spark, events, alpha, bucket_width
):
    """The bucketed EWMA is the same linear recurrence with segments
    factored out (s = local0 + decay^i * s_init), so it must match the
    sequential operator to float-regrouping tolerance for any bucket
    width — width 1 exercises the carry on every row."""
    import math

    from spark_alchemy_spark.operators.temporal import ewma, ewma_bucketed

    rows = [(k, ts, float(v), i) for i, (k, ts, v) in enumerate(events)]
    df = spark.createDataFrame(rows, "k long, ts long, v double, tie long")
    kw = dict(
        key_col="k", ts_col="ts", value_col="v", alpha=alpha,
        order_tiebreak="tie",
    )
    exact = {
        (r["k"], r["tie"]): r["ewma"] for r in ewma(df, **kw).collect()
    }
    bucketed = {
        (r["k"], r["tie"]): r["ewma"]
        for r in ewma_bucketed(
            df, bucket=F.floor(F.col("ts") / bucket_width), **kw
        ).collect()
    }
    assert set(exact) == set(bucketed)
    for kk, v in exact.items():
        assert math.isclose(v, bucketed[kk], rel_tol=1e-9, abs_tol=1e-9), (
            kk, v, bucketed[kk]
        )


_words = st.sampled_from(["a", "b", "c"])
_doc = st.lists(_words, min_size=0, max_size=12)


@_settings
@given(docs=st.lists(_doc, min_size=1, max_size=6))
def test_strip_shared_spans_matches_reference(spark, docs):
    """strip_shared_spans == a sequential reference scan on tiny-
    alphabet corpora (3 words, len <= 12, k=3: heavy forced gram
    collisions exercise run merging, full cuts, and within-doc
    repeats)."""
    from spark_alchemy_spark.operators.dedup import strip_shared_spans

    k = 3
    toks = {i: ws for i, ws in enumerate(docs)}
    gram_docs: dict[tuple, set] = {}
    for i, ws in toks.items():
        for p in range(len(ws) - k + 1):
            gram_docs.setdefault(tuple(ws[p : p + k]), set()).add(i)
    dup = {g for g, s in gram_docs.items() if len(s) >= 2}
    expected = {}
    for i, ws in toks.items():
        cut: set[int] = set()
        for p in range(len(ws) - k + 1):
            if tuple(ws[p : p + k]) in dup:
                cut.update(range(p, p + k))
        kept = [w for j, w in enumerate(ws) if j not in cut]
        expected[i] = (len(kept), len(ws) - len(kept), " ".join(kept))

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in toks.items()],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_kept"], r["n_removed"], r["clean_text"])
        for r in strip_shared_spans(df, "doc_id", "text", k=k).collect()
    }
    assert got == expected


_ks_vals = st.lists(
    st.integers(min_value=0, max_value=9), min_size=1, max_size=25
)


@_settings
@given(a_vals=_ks_vals, b_vals=_ks_vals)
def test_ks_statistic_matches_reference(spark, a_vals, b_vals):
    """ks_statistic_ppm == floor-ppm of the classic two-sample D on
    arbitrary small-alphabet samples (heavy ties exercise the
    distinct-value aggregation path)."""
    from spark_alchemy_spark.operators.expectations import ks_statistic_ppm

    a = spark.createDataFrame([(float(v),) for v in a_vals], "v double")
    b = spark.createDataFrame([(float(v),) for v in b_vals], "v double")
    r = ks_statistic_ppm(a, b, "v").collect()[0]
    na, nb = len(a_vals), len(b_vals)
    expected = max(
        abs(
            sum(1 for v in a_vals if v <= x) * nb
            - sum(1 for v in b_vals if v <= x) * na
        )
        * 1_000_000
        // (na * nb)
        for x in sorted(set(a_vals) | set(b_vals))
    )
    assert (r["n_a"], r["n_b"], r["ks_ppm"]) == (na, nb, expected)


# ---------------------------------------------------------------------------
# Round-6 model-fitting laws (operators/probe.py)
# ---------------------------------------------------------------------------


@_settings
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=1),
        ),
        min_size=4,
        max_size=60,
    )
)
def test_auc_is_a_rank_statistic(spark, data):
    """AUC must be invariant under any strictly increasing score
    transform (it is a rank statistic), and complementary under score
    negation (trunc-to-ppm may split the odd ppm between the two)."""
    from spark_alchemy_spark.operators.probe import rank_auc_ppm

    labels = [y for _, y in data]
    if len(set(labels)) < 2:
        labels[0] = 1 - labels[0]  # AUC needs both classes
    rows = [(s, y) for (s, _), y in zip(data, labels)]
    df = spark.createDataFrame(rows, "s long, pos int")
    base = rank_auc_ppm(df, "s", "pos").collect()[0]["auc_ppm"]

    mono = spark.createDataFrame(
        [(3 * s + 11, y) for s, y in rows], "s long, pos int"
    )
    assert rank_auc_ppm(mono, "s", "pos").collect()[0]["auc_ppm"] == base

    neg = spark.createDataFrame([(-s, y) for s, y in rows], "s long, pos int")
    flipped = rank_auc_ppm(neg, "s", "pos").collect()[0]["auc_ppm"]
    assert abs(base + flipped - 1_000_000) <= 1


@_settings
@given(
    b0=st.integers(min_value=-20, max_value=20),
    b1=st.integers(min_value=-9, max_value=9),
    b2=st.integers(min_value=-9, max_value=9),
)
def test_ols_recovers_any_planted_integer_relation(spark, b0, b1, b2):
    """For a zero-residual integer system on a nondegenerate grid the
    exact-integer Cramer fit returns the planted coefficients EXACTLY
    (ppm integers) — for any signs and magnitudes."""
    from spark_alchemy_spark.operators.probe import fit_linear_probe_ppm

    rows = [
        (x1, x2, b0 + b1 * x1 + b2 * x2)
        for x1 in range(6)
        for x2 in range(4)
    ]
    df = spark.createDataFrame(rows, "x1 int, x2 int, y int")
    res = fit_linear_probe_ppm(df, ["x1", "x2"], "y")
    assert res["coeffs_ppm"] == [
        b0 * 1_000_000,
        b1 * 1_000_000,
        b2 * 1_000_000,
    ]


def test_grouped_fit_matches_global_fit_per_group(spark):
    """fit_grouped_probes_ppm on group g == fit_linear_probe_ppm on
    g's rows alone — the grouped aggregate is a pure fan-out."""
    import random

    from spark_alchemy_spark.operators.probe import (
        fit_grouped_probes_ppm,
        fit_linear_probe_ppm,
    )

    rng = random.Random(9)
    rows = [
        (g, rng.randint(0, 30), rng.randint(0, 20), rng.randint(0, 500))
        for g in ("a", "b", "c")
        for _ in range(40)
    ]
    df = spark.createDataFrame(rows, "g string, x1 int, x2 int, y int")
    grouped = {
        r["group"][0]: (r["n"], r["coeffs_ppm"], r["r2_ppm"])
        for r in fit_grouped_probes_ppm(df, ["g"], ["x1", "x2"], "y")
    }
    for g in ("a", "b", "c"):
        solo = fit_linear_probe_ppm(
            df.filter(F.col("g") == g), ["x1", "x2"], "y"
        )
        assert grouped[g] == (solo["n"], solo["coeffs_ppm"], solo["r2_ppm"])


@_settings
@given(
    na=st.integers(min_value=0, max_value=25),
    nb=st.integers(min_value=0, max_value=25),
    dim=st.integers(min_value=2, max_value=6),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_cross_kernel_equals_hof_reference(spark, na, nb, dim, seed):
    """The cross-set blocked kernel must equal the expression-path
    reference for ANY set sizes (including empty and singleton sides),
    dimensions, and data — it backs the streaming ingest verify and
    the triplet miner, so the law is load-bearing."""
    import random

    from spark_alchemy_spark.operators.dedup import (
        _cross_pairs_cosine_blocked,
        cosine_similarity,
    )

    rng = random.Random(seed)
    mk = lambda n, off: [
        (off + i, [rng.uniform(-1, 1) for _ in range(dim)])
        for i in range(n)
    ]
    a_rows, b_rows = mk(na, 0), mk(nb, 1000)
    # plant cross duplicates so matches exist when both sides do
    for k in range(min(na, nb, 3)):
        b_rows[k] = (1000 + k, list(a_rows[k][1]))
    schema = "__id long, __v array<double>"
    a = spark.createDataFrame(a_rows, schema)
    b = spark.createDataFrame(b_rows, schema)
    got = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in _cross_pairs_cosine_blocked(a, b, 0.8).collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in (
            a.alias("x")
            .crossJoin(b.alias("y"))
            .select(
                F.col("x.__id").alias("id_a"),
                F.col("y.__id").alias("id_b"),
                F.round(
                    cosine_similarity(F.col("x.__v"), F.col("y.__v")), 4
                ).alias("cos"),
            )
            .filter(F.col("cos") >= 0.8)
            .collect()
        )
    }
    assert got == want


# --- round-9: isotonic PAVA == Fraction minimax on ARBITRARY histograms ---

_hist_rows = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=9),   # n per score
        st.integers(min_value=0, max_value=9),   # pos per score (capped below)
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=200, deadline=None)
@given(_hist_rows)
def test_pava_equals_fraction_minimax(rows):
    """The driver PAVA core's trunc-ppm rates equal the classical
    minimax identity computed in exact Fractions on ANY histogram —
    the identity the quality_probe_isotonic oracle replays in SQL.
    Pure driver arithmetic: no Spark, so hypothesis can be generous."""
    from fractions import Fraction

    from spark_alchemy_spark.operators.probe import PPM, _pava_rates_ppm

    hist = [(s, n, min(p, n)) for s, (n, p) in enumerate(rows)]
    got = _pava_rates_ppm(hist)
    assert got == sorted(got)  # monotone non-decreasing
    b = len(hist)
    for k in range(b):
        best = None
        for i in range(k + 1):
            worst = None
            for j in range(k, b):
                n = sum(h[1] for h in hist[i:j + 1])
                p = sum(h[2] for h in hist[i:j + 1])
                f = Fraction(p, n)
                worst = f if worst is None or f < worst else worst
            best = worst if best is None or worst > best else best
        assert got[k] == best.numerator * PPM // best.denominator
