"""The per-row sketch writer (``sketch_codec.row_images``) against the
JVM and across surfaces.

1. For the same values, the writer holds the same coupons — or, once
   promoted, the same dense registers — as Spark's ``hll_sketch_agg``,
   on both sides of every Datasketches promotion boundary.
2. The DataFrame and SQL ``hll_init`` / ``hll_init_collection`` write
   byte-identical images, NULL / empty / null-element / large rows
   included.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_alchemy_spark.conf import DEFAULT_ERROR_CONF_KEY
from spark_alchemy_spark.functions import hll
from spark_alchemy_spark.functions.sketch_codec import ds_parse, row_images

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


@pytest.mark.parametrize("lg_k,n", BOUNDARY_CASES)
def test_writer_matches_hll_sketch_agg(spark, lg_k, n):
    hashed = spark.range(0, n, 1, 1).select(F.xxhash64("id").alias("h"))
    jvm = bytes(
        hashed.agg(F.hll_sketch_agg("h", F.lit(lg_k))).collect()[0][0]
    )
    hashes = np.array([r["h"] for r in hashed.collect()], dtype=np.int64)
    ours = row_images(
        hashes, np.zeros(n, dtype=np.int64), np.array([False]), lg_k
    )[0].as_py()
    jvm_kind, jvm_lg, jvm_payload = ds_parse(jvm)
    kind, lg, payload = ds_parse(ours)
    assert (kind, lg) == (jvm_kind, jvm_lg)
    if kind == "coupons":
        assert np.array_equal(np.sort(payload), np.sort(jvm_payload))
    else:
        assert np.array_equal(payload, jvm_payload)


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
