"""The per-row sketch writer (``RowSketch.java``, behind ``hll_init`` /
``hll_init_collection``) against the JVM aggregate and across surfaces.

1. For the same hashes in the same order, ``hll_init_collection``
   writes the bytes Spark's one-partition ``hll_sketch_agg`` writes, on
   both sides of every Datasketches promotion boundary.
2. The DataFrame and SQL ``hll_init`` / ``hll_init_collection`` write
   byte-identical images, NULL / empty / null-element / large rows
   included.
3. Without ``javac``, building the writer fails with an error naming it
   before any JVM starts; without the writer's class, ``hll_init*``
   fails with an error naming ``build_session``.
"""

from __future__ import annotations

import tempfile
import types

import pytest
from pyspark.sql import functions as F

from spark_alchemy_spark import session
from spark_alchemy_spark.conf import (
    DEFAULT_ERROR_CONF_KEY,
    error_from_precision,
    precision_from_error,
)
from spark_alchemy_spark.functions import hll

# (lgK, n): n on both sides of each boundary.  lgK < 8 promotes LIST ->
# dense at the 8th coupon; lgK >= 8 promotes SET -> dense above
# 3 * 2^(lgK-5) coupons (24, 48, 384 for lgK 8, 9, 12).
BOUNDARY_CASES = [
    (4, 1), (4, 7), (4, 8), (4, 30),
    (7, 7), (7, 8), (7, 200),
    (8, 7), (8, 8), (8, 24), (8, 25),
    (9, 48), (9, 49), (9, 100),
    (12, 384), (12, 385), (12, 5000),
]


def _relative_sd(lg_k: int) -> float:
    """A relativeSD that ``precision_from_error`` maps to ``lg_k``."""
    sd = error_from_precision(lg_k) * 1.01
    assert precision_from_error(sd) == lg_k
    return sd


@pytest.mark.parametrize("lg_k,n", BOUNDARY_CASES + [(9, 0)])
def test_writer_matches_hll_sketch_agg(spark, lg_k, n):
    """Byte-equality law: the per-row image of the hashes of ``0..n-1``
    is the image ``hll_sketch_agg`` builds from the same hashes in the
    same order, HIP accumulator and flags included."""
    jvm = spark.range(0, n, 1, 1).agg(
        F.hll_sketch_agg(F.xxhash64("id"), F.lit(lg_k))
    ).collect()[0][0]
    ids = F.sequence(F.lit(0).cast("bigint"), F.lit(n - 1).cast("bigint"))
    if not n:  # sequence(0, -1) counts down; zero ids is the empty array
        ids = F.array().cast("array<bigint>")
    ours = spark.range(1).select(
        hll.hll_init_collection(ids, _relative_sd(lg_k))
    ).collect()[0][0]
    assert bytes(ours) == bytes(jvm)


def test_missing_javac_is_named(monkeypatch, tmp_path):
    """With no cached jar and no ``javac`` on PATH, the jar helper names
    ``javac`` (it runs before ``build_session`` starts a JVM)."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setenv("PATH", "")
    with pytest.raises(RuntimeError, match="javac"):
        session.row_sketch_jar()
    assert list(tmp_path.iterdir()) == []


def test_session_without_writer_names_build_session(spark, monkeypatch):
    """A JVM that lacks ``spark_alchemy.RowSketch`` (a session not built
    by ``build_session``) gets an error naming ``build_session``, not
    py4j's "'JavaPackage' object is not callable"."""
    no_jar = types.SimpleNamespace(spark_alchemy=spark._jvm.no_such_package)
    no_jar_context = types.SimpleNamespace(_jvm=no_jar)
    monkeypatch.setattr(hll, "get_active_spark_context", lambda: no_jar_context)
    for init in (hll.hll_init, hll.hll_init_collection):
        with pytest.raises(RuntimeError, match="build_session"):
            init("x")


@pytest.fixture()
def lg_k_9(spark):
    """Session precision lgK 9 (relativeSD 0.05) for both surfaces; other
    tests set the session conf, so pin it here and restore it after."""
    previous = spark.conf.get(DEFAULT_ERROR_CONF_KEY, None)
    spark.conf.set(DEFAULT_ERROR_CONF_KEY, "0.05")
    hll.register(spark)
    yield spark
    if previous is None:
        spark.conf.unset(DEFAULT_ERROR_CONF_KEY)
    else:
        spark.conf.set(DEFAULT_ERROR_CONF_KEY, previous)
    hll.register(spark)


def test_dataframe_and_sql_row_images_are_byte_identical(lg_k_9):
    spark = lg_k_9
    big = list(range(300))
    spark.createDataFrame(
        [
            (0, None, None, None, None),
            (1, 7, "a", [], []),
            (2, -3, "", [None], [None]),
            (3, 2**62, "héllo", [5, None, 5, 6], ["x", None, "x", "y"]),
            (4, 11, "z", big, [str(v) for v in big]),
        ],
        "id int, x bigint, s string, xs array<bigint>, ss array<string>",
    ).createOrReplaceTempView("t_row_images")
    df = spark.table("t_row_images")
    dataframe = df.select(
        "id",
        hll.hll_init("x").alias("x"),
        hll.hll_init("s").alias("s"),
        hll.hll_init_collection("xs").alias("xs"),
        hll.hll_init_collection("ss").alias("ss"),
    ).orderBy("id").collect()
    sql = spark.sql(
        "SELECT id, hll_init(x) AS x, hll_init(s) AS s, "
        "hll_init_collection(xs) AS xs, hll_init_collection(ss) AS ss "
        "FROM t_row_images ORDER BY id"
    ).collect()
    assert [tuple(r) for r in dataframe] == [tuple(r) for r in sql]
    assert dataframe[0]["x"] is None and dataframe[0]["xs"] is None
    # 300 distinct elements at lgK 9 are past the SET capacity (48):
    # a 40-byte preamble + 512 registers, as hll_sketch_agg writes
    assert len(dataframe[4]["xs"]) == len(dataframe[4]["ss"]) == 552
