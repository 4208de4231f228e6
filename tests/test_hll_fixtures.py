"""Semantic-parity goldens ported from the reference test suite.

Fixtures F1-F4 of FIXTURES.md, from reference
alchemy/src/test/scala/com/swoop/alchemy/spark/expressions/hll/
HLLFunctionsTest.scala.  The goldens pin down null-skip,
array-as-value vs per-element, and map k->v chaining semantics; at
these tiny cardinalities any correct HLL estimates them exactly.

Note: the reference renders a NULL cardinality as 0 in its F4 goldens
(``null.asInstanceOf[Long]``); here nulls stay None and the expected
values say so explicitly.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import spark_alchemy_spark.functions as AF

ARR_INT = T.ArrayType(T.IntegerType())
MAP_SS = T.MapType(T.StringType(), T.StringType())
ARR_STR = T.ArrayType(T.StringType())

F1_SCHEMA = T.StructType(
    [
        T.StructField("c1", T.IntegerType()),
        T.StructField("c2", T.StringType()),
        T.StructField("c3", ARR_INT),
        T.StructField("c4", MAP_SS),
        T.StructField("c5", ARR_STR),
    ]
)

F1_ROWS = [
    (1, "a", [1, 2, 3], {"a": "A"}, []),
    (2, "b", [2, 3, 1], {"b": "B"}, [None]),
    (2, "b", [2, 3, 1], {"b": "B"}, [None, None]),
    (3, "c", [3, 1, 2], {"a": "A", "b": "B"}, None),
    (2, "b", [1, 1, 1], {"b": "B", "c": "C"}, None),
    (3, "c", [2, 2, 2], {"c": "C", "a": None}, None),
    (4, "d", None, None, None),
    (4, "d", None, None, None),
    (5, "e", [], {}, None),
    (5, "e", [], {}, None),
]


@pytest.fixture(scope="module")
def f1(spark):
    return spark.createDataFrame(F1_ROWS, F1_SCHEMA)


def _cardinalities(df):
    row = df.select(
        *[AF.hll_cardinality(c).alias(c) for c in df.columns]
    ).head()
    return list(row)


def test_f1_scalar_init_goldens(f1):
    """HLLFunctionsTest.scala:118-155 — per-row init, merge, estimate."""
    sketched = f1.select(
        AF.hll_init("c1").alias("a1"),
        AF.hll_init("c2").alias("a2"),
        AF.hll_init("c3", dtype=ARR_INT).alias("a3"),
        AF.hll_init("c4", dtype=MAP_SS).alias("a4"),
        AF.hll_init("c5", dtype=ARR_STR).alias("a5"),
        AF.hll_init_collection("c3", dtype=ARR_INT).alias("b3"),
        AF.hll_init_collection("c4", dtype=MAP_SS).alias("b4"),
        AF.hll_init_collection("c5", dtype=ARR_STR).alias("b5"),
    )
    merged = sketched.agg(
        *[AF.hll_merge(c).alias(c) for c in sketched.columns]
    )
    assert _cardinalities(merged) == [5, 5, 6, 6, 3, 3, 4, 0]


def test_f1_agg_goldens(f1):
    """HLLFunctionsTest.scala:191-228 — aggregate init variants."""
    agged = f1.agg(
        AF.hll_init_agg("c1").alias("a1"),
        AF.hll_init_agg("c2").alias("a2"),
        AF.hll_init_agg("c3", dtype=ARR_INT).alias("a3"),
        AF.hll_init_agg("c4", dtype=MAP_SS).alias("a4"),
        AF.hll_init_agg("c5", dtype=ARR_STR).alias("a5"),
        AF.hll_init_collection_agg("c3", dtype=ARR_INT).alias("b3"),
        AF.hll_init_collection_agg("c4", dtype=MAP_SS).alias("b4"),
        AF.hll_init_collection_agg("c5", dtype=ARR_STR).alias("b5"),
    )
    assert _cardinalities(agged) == [5, 5, 6, 6, 3, 3, 4, 0]


def test_f2_union_invariance(spark):
    """HLLFunctionsTest.scala:156-171, :229-244 — self-union keeps (4,4)."""
    rows = [(1, "a"), (2, "b"), (2, "b"), (3, "c"), (4, "d")]
    df = spark.createDataFrame(rows, "c1 int, c2 string")
    sketched = df.select(
        AF.hll_init("c1").alias("c1"), AF.hll_init("c2").alias("c2")
    )
    doubled = sketched.union(sketched)
    merged = doubled.agg(
        AF.hll_merge("c1").alias("c1"), AF.hll_merge("c2").alias("c2")
    )
    assert _cardinalities(merged) == [4, 4]

    agged = df.select(
        AF.hll_init_agg("c1").alias("c1"), AF.hll_init_agg("c2").alias("c2")
    )
    merged2 = agged.union(agged).agg(
        AF.hll_merge("c1").alias("c1"), AF.hll_merge("c2").alias("c2")
    )
    assert _cardinalities(merged2) == [4, 4]


def test_f3_row_merge_null_algebra(spark):
    """HLLFunctionsTest.scala:261-282 — goldens 1, 3, 2, 1, null."""
    rows = [
        ("a", "a", "a"),
        ("a", "b", "c"),
        ("a", "b", None),
        ("a", None, None),
        (None, None, None),
    ]
    df = spark.createDataFrame(rows, "c1 string, c2 string, c3 string")
    out = (
        df.select(
            AF.hll_init("c1").alias("c1"),
            AF.hll_init("c2").alias("c2"),
            AF.hll_init("c3").alias("c3"),
        )
        .select(AF.hll_cardinality(AF.hll_row_merge("c1", "c2", "c3")).alias("n"))
        .collect()
    )
    assert [r["n"] for r in out] == [1, 3, 2, 1, None]


def test_f3_row_merge_matches_pairwise_fold(spark):
    """hll_row_merge of N = 1..5 columns (lgK 9/10/11 mixed), with a NULL
    at each position in turn, writes the bytes of the pairwise left fold
    of hll_union over the row's non-NULL sketches; all NULL -> NULL."""
    lg_ks = [9, 10, 11, 10, 9]
    sketches = spark.range(600).agg(
        *[
            F.hll_sketch_agg(F.when(F.col("id") % 5 != i, F.col("id") * (i + 1)), lg)
            .alias(f"s{i}")
            for i, lg in enumerate(lg_ks)
        ]
    ).select("*", F.lit(None).cast("binary").alias("null"))
    merged, expected = [], []
    for n in range(1, 6):
        for null_at in [None, *range(n)]:
            names = ["null" if i == null_at else f"s{i}" for i in range(n)]
            present = [F.col(c) for c in names if c != "null"]
            fold = present[0] if present else F.lit(None).cast("binary")
            for c in present[1:]:
                fold = F.hll_union(fold, c, True)
            merged.append(AF.hll_row_merge(*names).alias(f"m{len(merged)}"))
            expected.append(fold.alias(f"e{len(expected)}"))
    row = sketches.select(*merged, *expected).head()
    got = [row[f"m{i}"] for i in range(len(merged))]
    want = [row[f"e{i}"] for i in range(len(expected))]
    assert got == want
    assert got[1] is None and got[0] is not None  # N=1: NULL at 0, none


def test_f3_intersection(spark):
    """HLLFunctionsTest.scala:296-338 — (5, 0) and null algebra (0, null)."""
    rows = [
        ("a", "e", "f"),
        ("b", "d", "g"),
        ("c", "c", "h"),
        ("d", "b", "i"),
        ("e", "a", "j"),
    ]
    df = spark.createDataFrame(rows, "c1 string, c2 string, c3 string")
    agged = df.agg(
        AF.hll_init_agg("c1").alias("c1"),
        AF.hll_init_agg("c2").alias("c2"),
        AF.hll_init_agg("c3").alias("c3"),
    )
    row = agged.select(
        AF.hll_intersect_cardinality("c1", "c2").alias("i12"),
        AF.hll_intersect_cardinality("c2", "c3").alias("i23"),
    ).head()
    assert (row["i12"], row["i23"]) == (5, 0)

    nulls = spark.createDataFrame(
        [("a", None, None), ("b", None, None)], "c1 string, c2 string, c3 string"
    )
    agged2 = nulls.agg(
        AF.hll_init_agg("c1").alias("c1"),
        AF.hll_init_agg("c2").alias("c2"),
        AF.hll_init_agg("c3").alias("c3"),
    )
    row2 = agged2.select(
        AF.hll_intersect_cardinality("c1", "c2").alias("i12"),
        AF.hll_intersect_cardinality("c2", "c3").alias("i23"),
    ).head()
    assert (row2["i12"], row2["i23"]) == (0, None)


def test_f4_literal_edge_cases(spark):
    """HLLFunctionsTest.scala:92-116 — simple types and collections.

    Reference goldens (0 there means NULL via ``asInstanceOf[Long]``):
    init: NULL int -> null, '' -> 1, array(1,2,3) as value -> 1;
    init_collection: NULL array -> null, array() -> 0, map() -> 0,
    array(1,2,3) -> 3.
    """
    df = spark.range(1).select(
        F.lit(None).cast("int").alias("n"),
        F.lit("").alias("s"),
        F.array(F.lit(1), F.lit(2), F.lit(3)).alias("a"),
        F.lit(None).cast(ARR_INT).alias("na"),
        F.array().cast(ARR_INT).alias("ea"),
        F.create_map().cast(MAP_SS).alias("em"),
    )
    sketched = df.select(
        AF.hll_init("n").alias("v_null"),
        AF.hll_init("s").alias("v_empty_str"),
        AF.hll_init("a", dtype=ARR_INT).alias("v_arr"),
        AF.hll_init_collection("na", dtype=ARR_INT).alias("c_null"),
        AF.hll_init_collection("ea", dtype=ARR_INT).alias("c_empty_arr"),
        AF.hll_init_collection("em", dtype=MAP_SS).alias("c_empty_map"),
        AF.hll_init_collection("a", dtype=ARR_INT).alias("c_arr"),
    )
    row = sketched.select(
        *[AF.hll_cardinality(c).alias(c) for c in sketched.columns]
    ).head()
    assert row["v_null"] is None
    assert row["v_empty_str"] == 1
    assert row["v_arr"] == 1
    assert row["c_null"] is None
    assert row["c_empty_arr"] == 0
    assert row["c_empty_map"] == 0
    assert row["c_arr"] == 3


F5_NESTED = [
    # (type, values distinct only to a type-aware hash, distinct count)
    (ARR_STR, [[], [None], [None, None]], 3),
    (
        T.StructType([T.StructField(f, T.IntegerType()) for f in ("foo", "bar")]),
        [(None, 1), (1, None)],
        2,
    ),
]


@pytest.mark.parametrize("dtype, values, distinct", F5_NESTED, ids=["array", "struct"])
def test_f5_nested_input_needs_dtype(spark, dtype, values, distinct):
    """FIXTURES.md F5: nested values that plain xxhash64 collides (it
    skips null elements and fields) sketch distinctly with ``dtype``;
    without it the hash raises an error naming ``dtype`` instead of
    silently reading fewer distinct values."""
    df = spark.createDataFrame([(v,) for v in values], T.StructType([T.StructField("v", dtype)]))
    typed = df.agg(AF.hll_cardinality(AF.hll_init_agg("v", dtype=dtype)).alias("n"))
    assert typed.head()["n"] == distinct
    for untyped in (
        df.agg(AF.hll_init_agg("v").alias("sk")),
        df.select(AF.cardinality_hash("v").alias("h")),
    ):
        with pytest.raises(Exception, match="dtype"):
            untyped.collect()


def test_primitive_hash_plans_no_nested_check(spark):
    """The nested-input check folds away at plan time on primitive
    inputs (``typeof`` is foldable): no raise_error reaches the
    optimized plan, so primitives pay nothing per row."""
    s = F.col("id").cast("string")
    df = spark.range(3).select(F.col("id"), s.alias("s"), s.cast("binary").alias("b"))
    hashed = df.select(
        *[AF.cardinality_hash(c).alias(f"h_{c}") for c in df.columns],
        AF.element_hashes(F.array("s")).alias("e"),
    )
    optimized = hashed._jdf.queryExecution().optimizedPlan().toString()
    assert "raise_error" not in optimized
    assert "xxhash64" in optimized


def test_error_bound_validation():
    """HLLFunctionsTest.scala:55-71 — 0.39 accepted, 0.40 raises."""
    from spark_alchemy_spark.conf import precision_from_error

    assert precision_from_error(0.39) == 4
    with pytest.raises(ValueError):
        precision_from_error(0.40)
    assert precision_from_error(0.05) == 9


def test_bound_hll(spark):
    b = AF.bound_hll(0.02)
    df = spark.createDataFrame([(i % 7,) for i in range(50)], "x int")
    n = df.agg(AF.hll_cardinality(b.hll_init_agg("x")).alias("n")).head()["n"]
    assert n == 7
    with pytest.raises(ValueError):
        AF.bound_hll(0.5)
