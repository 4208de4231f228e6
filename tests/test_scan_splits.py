"""Scan-split sizing: each parquet row group of a file gets its own
task.

Spark reads a row group in the split that holds its midpoint, and it
sizes splits as ``min(maxPartitionBytes, max(openCost, bytesPerCore))``
with ``bytesPerCore = (bytes + files * openCost) / cores``.  With
Spark's 4 MiB default open cost, four 2 MiB row groups on 8 cores get
4 MiB splits: 2 of the 3 partitions hold 2 row groups each, and the
third none.  ``build_session`` lowers the open cost to 1 MiB, so the
splits are smaller than a row group.
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import spark_alchemy_spark.functions as AF

ROW_GROUPS = 4
ROWS_PER_GROUP = 1 << 18  # 2 MiB of int64 per row group


def _write_row_groups(path):
    rng = np.random.default_rng(11)
    x = rng.integers(-(1 << 62), 1 << 62, ROW_GROUPS * ROWS_PER_GROUP)
    # random values, no dictionary, no compression: each row group
    # really is 2 MiB on disk
    pq.write_table(
        pa.table({"x": x}), path, row_group_size=ROWS_PER_GROUP,
        use_dictionary=False, compression="none",
    )
    assert pq.ParquetFile(path).metadata.num_row_groups == ROW_GROUPS
    return x


def test_each_row_group_gets_its_own_partition(spark, tmp_path):
    path = str(tmp_path / "rg.parquet")
    x = _write_row_groups(path)
    df = spark.read.parquet(path)

    sizes = df.rdd.glom().map(len).collect()
    assert sum(sizes) == len(x)
    assert max(sizes) <= ROWS_PER_GROUP, sizes

    # the estimate does not depend on the split: the same registers come
    # out of Spark's default 4 MiB open cost (2 partitions of 2 row
    # groups).  A one-partition read is no reference here: a sketch that
    # never went through a union keeps Datasketches' HIP estimate, while
    # a union reports the composite estimate of the same registers.
    def estimate():
        return (
            spark.read.parquet(path)
            .agg(AF.hll_cardinality(AF.hll_init_agg("x")))
            .first()[0]
        )

    est = estimate()
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(4 << 20))
    try:
        assert spark.read.parquet(path).rdd.getNumPartitions() == 3
        assert estimate() == est
    finally:
        spark.conf.set(key, old)
    exact = len(np.unique(x))
    assert abs(est - exact) / exact < 0.15  # 3x the 0.05 default error
