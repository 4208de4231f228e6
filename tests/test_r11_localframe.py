"""Round-11 equivalence laws.

1. ``local_frame`` must be observationally identical to
   ``spark.createDataFrame`` — same schema (names, types, order,
   nullability), same values bit-for-bit (floats included), same row
   order — for every shape the battery returns through it.
2. The fused one-action batch append (``_append_batch_fused``) must
   produce the same report and the same on-disk index as the
   two-action path it replaced: list_counts equal to an independent
   Spark recount, the (n, mean) stats fold equal to an independent
   full rescore, and the written rows conserved.
"""

import math
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from spark_alchemy_spark.localframe import local_frame
from spark_alchemy_spark.operators.similarity import (
    _assign_to_lists,
    _centroids_df,
    append_ivf_index,
    build_ivf_index,
    read_index_stats,
)

CASES = [
    ([(1, True, None)], "a long, b boolean, c boolean"),
    (
        [(5, 1.25, "x"), (6, float("nan"), None), (7, float("-inf"), 'q"\n\\')],
        "n long, v double, s string",
    ),
    ([(i, "ab", "cd", 7) for i in range(8)], "step int, l string, r string, n long"),
    (
        [(1, [1.0, 2.5, None], "up", 3), (2, [], "del", 0)],
        "vec_id long, embedding array<double>, op string, r int",
    ),
    ([], "a long, b string"),
    ([(None, [])], "a long, e array<string>"),
    (
        [(2**62 + 1234567, -1.7976931348623157e308, 5e-324)],
        "big long, mn double, tiny double",
    ),
    ([{"a": 1, "b": "x"}, {"b": None, "a": 2}, {"b": "y"}], "a long, b string"),
    ([(1, 2)], "a long, a long"),
]


@pytest.mark.parametrize("rows,ddl", CASES, ids=range(len(CASES)))
def test_local_frame_matches_createdataframe(spark, rows, ddl):
    old = spark.createDataFrame(rows, ddl)
    new = local_frame(spark, rows, ddl)
    assert old.schema == new.schema
    o, n = old.collect(), new.collect()
    # str() keeps NaN comparable and distinguishes 1 from True
    assert str(o) == str(n)


def test_local_frame_falls_back_on_unsafe_types(spark):
    import datetime

    rows = [(1, datetime.date(2024, 1, 2))]
    ddl = "a long, d date"
    new = local_frame(spark, rows, ddl)
    assert str(new.collect()) == str(spark.createDataFrame(rows, ddl).collect())


@pytest.fixture(scope="module")
def fused_idx(spark):
    corpus = spark.createDataFrame(
        [
            (i, [float(i % 7 + 1), float((i * 3) % 5 + 1), float(i % 3)])
            for i in range(120)
        ],
        "vec_id long, embedding array<double>",
    )
    path = os.path.join(tempfile.gettempdir(), "r11_fused_append_idx")
    shutil.rmtree(path, ignore_errors=True)
    build_ivf_index(corpus, "vec_id", "embedding", path, n_centroids=4)
    yield path, corpus
    shutil.rmtree(path, ignore_errors=True)


def test_fused_batch_append_report_matches_recount(spark, fused_idx):
    path, corpus = fused_idx
    pre_n, pre_mean = read_index_stats(spark, path)
    pre_counts = {
        int(r["list_id"]): int(r["n"])
        for r in spark.read.parquet(path + "/lists")
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    batch = corpus.filter(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    rep = append_ivf_index(batch, "vec_id", "embedding", path)
    assert rep["skipped_replay"] is False
    assert rep["n_appended"] == 30

    # list_counts must equal the Spark recount diff, exactly
    post_counts = {
        int(r["list_id"]): int(r["n"])
        for r in spark.read.parquet(path + "/lists")
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    diff = {
        lid: post_counts[lid] - pre_counts.get(lid, 0)
        for lid in post_counts
        if post_counts[lid] != pre_counts.get(lid, 0)
    }
    assert rep["list_counts"] == diff
    assert sum(rep["list_counts"].values()) == 30

    # batch_mean must equal an independent Spark rescore of the batch
    cents = _centroids_df(spark, path)
    m = (
        _assign_to_lists(batch, "vec_id", "embedding", cents)
        .agg(F.avg("__best_cos").alias("m"))
        .collect()[0]["m"]
    )
    assert abs(rep["batch_mean_cos"] - float(m)) < 1e-12
    assert rep["build_mean_cos"] == pre_mean

    # the stats fold is the exact running pair over every row
    post_n, post_mean = read_index_stats(spark, path)
    assert post_n == pre_n + 30
    expect_mean = (pre_mean * pre_n + rep["batch_mean_cos"] * 30) / (pre_n + 30)
    assert math.isclose(post_mean, expect_mean, rel_tol=0, abs_tol=1e-15)


def test_fused_batch_append_empty_batch_is_noop(spark, fused_idx):
    path, corpus = fused_idx
    pre = read_index_stats(spark, path)
    rep = append_ivf_index(
        corpus.filter(F.col("vec_id") < 0), "vec_id", "embedding", path
    )
    assert rep["n_appended"] == 0
    assert rep["list_counts"] == {}
    assert rep["drift_ratio"] == 1.0
    assert read_index_stats(spark, path) == pre


def _list_files(path):
    return {
        (int(d.name.split("=", 1)[1]), f.name)
        for d in os.scandir(os.path.join(path, "lists"))
        if d.is_dir()
        for f in os.scandir(d.path)
        if f.name.endswith(".parquet")
    }


def test_fused_batch_append_count_mismatch_names_written_files(
    spark, monkeypatch, tmp_path
):
    """A footer/observed count mismatch raises after the rows are on
    disk; in batch mode no intent covers them, so the error must name
    every (list_id, file) pair the append wrote."""
    import pyarrow.parquet as pq

    corpus = spark.createDataFrame(
        [(i, [float(i % 5 + 1), float(i % 3 + 1)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "idx")
    build_ivf_index(corpus, "vec_id", "embedding", path, n_centroids=2)
    before = _list_files(path)
    real = pq.ParquetFile

    class InflatedFooter:
        def __init__(self, *args, **kwargs):
            rows = real(*args, **kwargs).metadata.num_rows + 1
            self.metadata = type("Meta", (), {"num_rows": rows})

    monkeypatch.setattr(pq, "ParquetFile", InflatedFooter)
    batch = corpus.select((F.col("vec_id") + 100).alias("vec_id"), "embedding")
    with pytest.raises(RuntimeError, match="second writer") as err:
        append_ivf_index(batch, "vec_id", "embedding", path)
    written = _list_files(path) - before
    assert written
    for lid, fname in written:
        assert f"({lid}, {fname!r})" in str(err.value)
