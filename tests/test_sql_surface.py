"""SQL-name registration tests: all nine reference names resolve from
pure SQL text (reference NativeFunctionRegistration.scala:20-26,
name list HLLFunctionRegistration.scala:8-18) to the expression their
DataFrame twin builds, with the null algebra, the reference's SQL
signatures (nested inputs, literal relativeSD, variadic row merge) and
byte-identical sketches, so sketches built through either surface merge
without double counting.  Also pins the Python xxhash64 (pyxxh) against
Spark's JVM xxhash64 and the dense HLL_8 writer against Spark's reader."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_alchemy_spark.conf import DEFAULT_ERROR_CONF_KEY
from spark_alchemy_spark.functions import hll
from spark_alchemy_spark.functions.sketch_codec import ds_parse


@pytest.fixture()
def registered(spark):
    hll.register(spark)
    return spark


def test_all_nine_names_resolve(registered):
    spark = registered
    spark.createDataFrame(
        [(1, 10, ["a", "b"]), (1, 20, ["b", "c", None]), (1, None, None),
         (2, 30, []), (3, None, None)],
        "g long, x long, arr array<string>",
    ).createOrReplaceTempView("t9")
    rows = spark.sql(
        """
        SELECT g,
               hll_cardinality(hll_init_agg(x)) AS c_agg,
               hll_cardinality(hll_init_collection_agg(arr)) AS c_coll,
               hll_cardinality(hll_merge(hll_init(x))) AS c_scalar,
               hll_cardinality(hll_merge(hll_init_collection(arr))) AS c_coll_scalar
        FROM t9 GROUP BY g ORDER BY g
        """
    ).collect()
    # g=1: x in {10,20}; arr elements {a,b,c} (null element skipped)
    assert tuple(rows[0]) == (1, 2, 3, 2, 3)
    # g=2: one x; empty array -> cardinality-0 sketch (not NULL)
    assert tuple(rows[1]) == (2, 1, 0, 1, 0)
    # g=3: all-null group -> NULL sketches everywhere
    assert tuple(rows[2]) == (3, None, None, None, None)


def test_sql_and_dataframe_sketches_merge_without_double_count(registered):
    """If the SQL and DataFrame surfaces ever hashed differently, merging
    sketches of the SAME data would inflate the estimate.  Identical
    estimates alone and merged == identical hashing end to end."""
    spark = registered
    df = spark.range(1000).select((F.col("id") % 500).alias("x"))
    df.createOrReplaceTempView("tmerge")
    sql_sk = spark.sql("SELECT hll_init_agg(x) AS sk FROM tmerge")
    df_sk = df.agg(hll.hll_init_agg("x").alias("sk"))
    alone = df_sk.select(hll.hll_cardinality("sk").alias("c")).collect()[0]["c"]
    merged = (
        sql_sk.unionAll(df_sk)
        .agg(hll.hll_cardinality(hll.hll_merge("sk")).alias("c"))
        .collect()[0]["c"]
    )
    assert merged == alone


def test_row_merge_intersect_convert_names(registered):
    spark = registered
    spark.range(1000).select((F.col("id") % 500).alias("x")).createOrReplaceTempView(
        "tconv"
    )
    row = spark.sql(
        """
        WITH a AS (SELECT hll_init_agg(x) sk FROM tconv WHERE x < 300),
             b AS (SELECT hll_init_agg(x) sk FROM tconv WHERE x >= 200)
        SELECT hll_cardinality(hll_row_merge(a.sk, b.sk)) AS u,
               hll_intersect_cardinality(a.sk, b.sk) AS i,
               agkn_cardinality(hll_convert(a.sk, 'DS', 'AGKN')) AS c_agkn,
               agkn_cardinality(hll_convert(hll_convert(a.sk, 'DS', 'STRM'),
                                            'STRM', 'AGKN')) AS c_chain
        FROM a, b
        """
    ).collect()[0]
    assert abs(row["u"] - 500) / 500 < 0.1
    assert 0 <= row["i"] <= 250  # true intersection is 100
    assert row["c_agkn"] == row["c_chain"]  # identical registers both routes


def test_string_binary_type_tag(registered):
    """'a' and CAST('a' AS BINARY) must sketch as TWO distinct values
    (reference CardinalityHashFunction.scala:24-25) — via SQL names and
    via the DataFrame API."""
    spark = registered
    row = spark.sql(
        """
        WITH a AS (SELECT hll_init_agg(s) sk FROM VALUES ('a') AS t(s)),
             b AS (SELECT hll_init_agg(CAST(s AS BINARY)) sk FROM VALUES ('a') AS t(s))
        SELECT hll_cardinality(hll_row_merge(a.sk, b.sk)) c FROM a, b
        """
    ).collect()[0]["c"]
    assert row == 2

    df = spark.createDataFrame([("a",)], "s string")
    est = (
        df.select(
            hll.hll_row_merge(
                hll.hll_init("s"), hll.hll_init(F.col("s").cast("binary"))
            ).alias("sk")
        )
        .select(hll.hll_cardinality("sk").alias("c"))
        .collect()[0]["c"]
    )
    assert est == 2


def test_register_creates_exactly_the_reference_names(spark):
    """register() adds the nine reference names plus agkn_cardinality
    and the seven theta/KLL names, and nothing else (temporary
    functions are per session)."""
    session = spark.newSession()
    before = {f.name for f in session.catalog.listFunctions()}
    hll.register(session)
    after = {f.name for f in session.catalog.listFunctions()}
    assert after - before == {
        "hll_init",
        "hll_init_collection",
        "hll_init_agg",
        "hll_init_collection_agg",
        "hll_merge",
        "hll_row_merge",
        "hll_cardinality",
        "hll_intersect_cardinality",
        "hll_convert",
        "agkn_cardinality",
        "theta_cardinality",
        "theta_union_row",
        "theta_intersection_row",
        "theta_difference_row",
        "kll_row_merge",
        "kll_quantile",
        "kll_count",
    }


@pytest.mark.parametrize(
    "sql, first_line",
    [
        (
            "SELECT hll_cardinality(id, id) FROM range(1)",
            "hll_cardinality: hll_cardinality takes 1 arguments, got 2",
        ),
        (
            "SELECT kll_quantile(kll_sketch_agg_double(CAST(id AS DOUBLE)))"
            " FROM range(3)",
            "kll_quantile: kll_quantile() missing 1 required positional"
            " argument: 'rank'",
        ),
        (
            "SELECT hll_init_agg(id, id) FROM range(3)",
            "hll_init_agg: argument id must be a non-NULL literal",
        ),
        (
            "SELECT hll_convert(hll_init_agg(id), 'DS', 'XYZ') FROM range(3)",
            "hll_convert: Unknown sketch byte format 'XYZ'",
        ),
        (  # a JVM error inside the builder keeps its own message
            "SELECT hll_init_agg(id, 1 / 0) FROM range(3)",
            "hll_init_agg: [DIVIDE_BY_ZERO]",
        ),
    ],
    ids=["arity", "missing_literal", "non_literal", "unknown_format", "jvm_error"],
)
def test_sql_builder_errors_name_the_function(registered, sql, first_line):
    """A call the builder rejects fails at analysis with an
    IllegalArgumentException whose first line names the SQL function,
    not a py4j error about the ``sql`` call."""
    from pyspark.errors import IllegalArgumentException

    with pytest.raises(IllegalArgumentException) as info:
        registered.sql(sql).collect()
    assert str(info.value).splitlines()[0].startswith(first_line)


NESTED_ROWS = [
    (0, 0, None, None, None),
    (1, 0, (1, "x"), [], {}),
    (2, 1, (None, "y"), [None], {"k": None}),
    (3, 1, (2, None), [(1, "x"), (None, None), None], {"k": 1, "j": 2}),
    (4, 2, None, None, None),
]
NESTED_SCHEMA = (
    "id int, g int, s struct<a: bigint, b: string>, "
    "a array<struct<a: bigint, b: string>>, m map<string, bigint>"
)


@pytest.mark.parametrize(
    "name, column",
    [
        ("hll_init", "s"),
        ("hll_init", "a"),
        ("hll_init", "m"),
        ("hll_init_agg", "s"),
        ("hll_init_agg", "a"),
        ("hll_init_agg", "m"),
        ("hll_init_collection", "a"),
        ("hll_init_collection", "m"),
        ("hll_init_collection_agg", "a"),
        ("hll_init_collection_agg", "m"),
    ],
)
def test_sql_and_dataframe_nested_images_are_byte_identical(registered, name, column):
    """struct, array<struct> and map inputs (NULL, [], [null] rows and an
    all-NULL group) give the same bytes through SQL and the DataFrame
    function of the same name."""
    spark = registered
    df = spark.createDataFrame(NESTED_ROWS, NESTED_SCHEMA).coalesce(1)
    df.createOrReplaceTempView("t_nested")
    sketch = getattr(hll, name)(column, dtype=df.schema[column].dataType).alias("sk")
    if name.endswith("_agg"):
        dataframe = df.groupBy("g").agg(sketch).orderBy("g")
        sql = f"SELECT g, {name}({column}) AS sk FROM t_nested GROUP BY g ORDER BY g"
    else:
        dataframe = df.select("id", sketch).orderBy("id")
        sql = f"SELECT id, {name}({column}) AS sk FROM t_nested ORDER BY id"
    expected = [tuple(r) for r in dataframe.collect()]
    assert [tuple(r) for r in spark.sql(sql).collect()] == expected
    assert expected[-1][1] is None  # a NULL row / an all-NULL group


def test_init_agg_literal_relative_sd(registered):
    """hll_init_agg(x, 0.01) resolves lgK 14 like the DataFrame call, and
    a relativeSD above 0.39 fails when the query is analyzed."""
    spark = registered
    df = spark.range(3000).select((F.col("id") % 1000).alias("x")).coalesce(1)
    df.createOrReplaceTempView("t_sd")
    sql = spark.sql("SELECT hll_init_agg(x, 0.01) AS sk FROM t_sd").collect()
    dataframe = df.agg(hll.hll_init_agg("x", 0.01).alias("sk")).collect()
    assert sql == dataframe
    assert ds_parse(bytes(sql[0]["sk"]))[1] == 14
    with pytest.raises(Exception, match="at most 0.39"):
        spark.sql("SELECT hll_init_agg(x, 0.40) AS sk FROM t_sd")


def test_row_merge_is_variadic_and_skips_nulls(registered):
    spark = registered
    rows = spark.sql(
        """
        WITH s AS (SELECT hll_init(1L) a, hll_init(2L) b, hll_init(3L) c)
        SELECT hll_cardinality(hll_row_merge(a, b, c)) AS abc,
               hll_cardinality(hll_row_merge(a, NULL, c)) AS a_c,
               hll_cardinality(hll_row_merge(NULL, b, NULL)) AS b,
               hll_row_merge(CAST(NULL AS BINARY), NULL, NULL) AS none,
               hll_row_merge(NULL, NULL) AS nulls
        FROM s
        """
    ).collect()[0]
    assert tuple(rows) == (3, 2, 1, None, None)


def test_row_merge_plans_one_union_per_row(registered):
    """A 6-column hll_row_merge, DataFrame and variadic SQL, plans at most
    N - 1 hll_union calls: the row fold references its accumulator once,
    where a when() chain repeating it grows 3^N."""
    spark = registered
    names = [f"c{i}" for i in range(6)]
    df = spark.range(3).select(
        *[hll.hll_init(F.col("id") + i).alias(c) for i, c in enumerate(names)]
    )
    df.createOrReplaceTempView("t_rm6")
    sql = spark.sql(f"SELECT hll_row_merge({', '.join(names)}) AS sk FROM t_rm6")
    dataframe = df.select(hll.hll_row_merge(*names).alias("sk"))
    for merged in (sql, dataframe):
        analyzed = merged._jdf.queryExecution().analyzed().toString()
        assert 1 <= analyzed.count("hll_union(") <= len(names) - 1
    assert sql.collect() == dataframe.collect()


def test_session_relative_sd_resolves_at_analysis(registered):
    """spark.alchemy.hll.relativeSD set after register() decides the lgK
    of the SQL queries analyzed after it."""
    spark = registered
    previous = spark.conf.get(DEFAULT_ERROR_CONF_KEY, None)
    lg_ks = []
    try:
        for sd in ("0.05", "0.01"):
            spark.conf.set(DEFAULT_ERROR_CONF_KEY, sd)
            for q in ("SELECT hll_init(7L) AS sk", "SELECT hll_init_agg(7L) AS sk"):
                lg_ks.append(ds_parse(bytes(spark.sql(q).collect()[0]["sk"]))[1])
    finally:
        if previous is None:
            spark.conf.unset(DEFAULT_ERROR_CONF_KEY)
        else:
            spark.conf.set(DEFAULT_ERROR_CONF_KEY, previous)
    assert lg_ks == [9, 9, 14, 14]


def test_hll_convert_format_names(registered):
    """Both surfaces take format names through conf.sketch_format
    (case-insensitive, 'streamlib' = STRM); in SQL they must be literals."""
    spark = registered
    df = spark.range(200).agg(hll.hll_init_agg("id").alias("sk"))
    df.createOrReplaceTempView("t_convert")
    strm = df.select(hll.hll_convert("sk", "ds", "streamlib").alias("c"))
    agkn = strm.select(hll.hll_convert("c", "streamlib", "agkn").alias("c"))
    sql = spark.sql(
        "SELECT hll_convert(hll_convert(sk, 'ds', 'streamlib'), 'StreamLib', 'Agkn') AS c "
        "FROM t_convert"
    )
    assert agkn.collect() == sql.collect()
    with pytest.raises(Exception, match="must be a non-NULL literal"):
        spark.sql("SELECT hll_convert(sk, CAST(rand() AS STRING), 'AGKN') FROM t_convert")
    with pytest.raises(Exception, match="Unknown sketch byte format '1'"):
        spark.sql("SELECT hll_convert(sk, 1, 'AGKN') FROM t_convert")


def test_pyxxh_matches_jvm_xxhash64(spark):
    from spark_alchemy_spark.functions.pyxxh import (
        xxh64_bytes,
        xxh64_int,
        xxh64_long,
        xxh64_longs,
    )

    longs = [0, 1, -1, 42, 2**62 + 12345, -(2**60) - 7]
    jvm = [
        r[0]
        for r in spark.createDataFrame([(v,) for v in longs], "v long")
        .select(F.xxhash64("v"))
        .collect()
    ]
    assert jvm == [xxh64_long(v) for v in longs]
    assert jvm == [int(h) for h in xxh64_longs(np.array(longs, dtype=np.int64))]

    strs = ["", "a", "abc", "hello wo", "x" * 31, "x" * 32, "y" * 100, "héllo wörld"]
    jvm = [
        r[0]
        for r in spark.createDataFrame([(s,) for s in strs], "v string")
        .select(F.xxhash64("v"))
        .collect()
    ]
    assert jvm == [xxh64_bytes(s.encode("utf-8")) for s in strs]

    ints = [0, 1, -1, 2**31 - 1, -(2**31)]
    jvm = [
        r[0]
        for r in spark.createDataFrame([(v,) for v in ints], "v int")
        .select(F.xxhash64("v"))
        .collect()
    ]
    assert jvm == [xxh64_int(v) for v in ints]

    # the tagged seed chain used for BINARY values
    tag = 1234567
    jvm = [
        r[0]
        for r in spark.createDataFrame([("abc",)], "v string")
        .select(F.xxhash64(F.lit(tag).cast("long"), "v"))
        .collect()
    ]
    assert jvm == [xxh64_bytes(b"abc", xxh64_long(tag))]


def test_dense_image_readable_by_spark(spark):
    """serialize_dense output must be readable by Spark's JVM
    Datasketches expressions (estimate + union)."""
    from spark_alchemy_spark.functions.pyxxh import xxh64_longs
    from spark_alchemy_spark.functions.sketch_codec import (
        coupon_image,
        coupons_for_longs,
        union_images,
    )

    def image(hashes, lg_k):
        return coupon_image(np.unique(coupons_for_longs(hashes)), lg_k)

    hashes = xxh64_longs(np.arange(5000, dtype=np.int64))
    img = image(hashes, 12)  # dense: 5000 > 3 * 2^(12-5)
    assert len(img) == 40 + 4096
    est = (
        spark.createDataFrame([(img,)], "sk binary")
        .select(F.hll_sketch_estimate("sk").alias("c"))
        .collect()[0]["c"]
    )
    assert abs(est - 5000) / 5000 < 0.05

    # mixed-precision union downsamples to the smaller lgK
    a = image(hashes[:3000], 12)
    b = image(xxh64_longs(np.arange(2000, 6000, dtype=np.int64)), 10)
    u = union_images([a, None, b])
    est = (
        spark.createDataFrame([(u,)], "sk binary")
        .select(F.hll_sketch_estimate("sk").alias("c"))
        .collect()[0]["c"]
    )
    assert abs(est - 6000) / 6000 < 0.08
    assert union_images([None, None]) is None


# ---------------------------------------------------------------------------
# Oracle portability guard (VERDICT r4 task 2): the driver gate runs the
# ORACLES on whatever DuckDB version its box ships, and two rounds were
# burned on version drift (recursive-CTE semantics in r3, list_reduce
# lambda-fold miscompiles in r4).  These tests reject the banned
# constructs outright so no future DuckDB bump can flip a hash:
#
#   * ``list_reduce`` / ``reduce(`` — lambda folds with accumulators,
#     the r4 failure class;
#   * ``WITH RECURSIVE`` — the r3 failure class (replaced by unrolled
#     propagation / closed forms / powers tables);
#   * two-argument lambdas ``(a, b) ->`` — the accumulator/comparator
#     lambda family behind both (single-arg element-wise lambdas like
#     ``x -> len(x)`` are standard map semantics and stay allowed);
#   * list/struct/map-typed OUTPUT cells — the driver canonicalizer
#     sorts cell values, and nested-cell ordering/rendering is engine-
#     version territory (checked structurally via DESCRIBE, which
#     binds and type-checks every oracle without executing it).
# ---------------------------------------------------------------------------


def _oracle_sqls():
    import __spark_entry__ as entrymod

    return entrymod.oracle_sql()


def _strip_sql_comments(sql: str) -> str:
    import re

    return re.sub(r"--[^\n]*", "", sql)


def test_oracles_free_of_version_sensitive_constructs():
    import re

    banned = {
        "list_reduce fold": re.compile(r"list_reduce", re.I),
        "reduce() fold": re.compile(r"(?<![\w.])reduce\s*\(", re.I),
        "recursive CTE": re.compile(r"\brecursive\b", re.I),
        "two-arg lambda": re.compile(r"\(\s*\w+\s*,\s*\w+\s*\)\s*->"),
    }
    offenders = []
    for name, sql in _oracle_sqls().items():
        body = _strip_sql_comments(sql)
        for label, pat in banned.items():
            if pat.search(body):
                offenders.append(f"{name}: {label}")
    assert not offenders, (
        "version-sensitive DuckDB constructs in oracles (rewrite with "
        "joins/windows/GROUP BY or reshape the entry output): "
        + "; ".join(offenders)
    )


def test_oracle_output_columns_are_scalar_typed():
    import os

    import duckdb

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    from spark_alchemy_spark.sources import TABLES

    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(sf_dir, t + '.parquet')}'"
        )
    offenders = []
    for name, sql in _oracle_sqls().items():
        try:
            cols = con.sql(f"DESCRIBE {sql}").fetchall()
        except Exception as exc:  # bind failure is its own offense
            offenders.append(f"{name}: DESCRIBE failed: {exc}")
            continue
        for col, ctype, *_ in cols:
            up = ctype.upper()
            if "[]" in up or any(k in up for k in ("STRUCT", "MAP", "LIST")):
                offenders.append(f"{name}.{col}: {ctype}")
    assert not offenders, (
        "nested-typed oracle output cells (canonicalizer-unsafe, "
        "engine-version-sensitive rendering): " + "; ".join(offenders)
    )
