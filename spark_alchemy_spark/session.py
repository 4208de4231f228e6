"""SparkSession factory tuned for this engine.

Defaults follow the 100 TB design notes in README: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow enabled
for the pandas-UDF paths, and shuffle partitioning sized by the caller
(tests/bench use the local core count; a real cluster sizes this to
2-3x its total cores).

Scan splits follow Spark's rule

    maxSplitBytes = min(maxPartitionBytes, max(openCost, bytesPerCore))
    bytesPerCore  = (total bytes + files * openCost) / cores

and a parquet row group is read by the split that holds its midpoint.
The open cost is lowered from 4 MiB to 1 MiB so that a file of
core-sized row groups gets one task per row group instead of leaving a
core idle (arithmetic at ``spark.sql.files.openCostInBytes`` below).
Callers can override it through ``extra_conf``.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "spark-alchemy-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # Make this package importable in executor Python workers regardless of
    # the driver's cwd (UDF closures are pickled by reference).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    conf = dict(extra_conf or {})
    derby_home = os.path.join(tempfile.gettempdir(), f"derby_home_{os.getpid()}")
    if not os.path.isdir(derby_home):
        os.makedirs(derby_home, exist_ok=True)
        # the metastore is worthless after this process dies; reap it so
        # per-pid isolation doesn't leak one Derby tree per run
        import atexit
        import shutil

        atexit.register(shutil.rmtree, derby_home, ignore_errors=True)
    # In local mode the driver JVM IS the cluster.  4g (not more): on
    # lazily-backed VMs a large -Xmx causes first-touch page-fault
    # storms as the heap grows (measured: a 16g heap ran the battery
    # 2-3x SLOWER than 1g); 4g keeps broadcast + sketch + memory-sink
    # headroom without that penalty.  Override with
    # SPARK_GRAFT_DRIVER_MEM or spark.driver.memory in extra_conf.
    driver_mem = conf.pop(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Joins (optimization guide §3.1): let the planner pick a
        # shuffled-hash join when its size conditions hold instead of
        # always sorting both sides, and let AQE rewrite a planned
        # sort-merge to shuffled-hash at runtime when every post-
        # shuffle partition is small (64m/partition keeps the build
        # side bounded well under executor memory at any scale; the
        # fact-fact joins that must stay sort-merge exceed it).  Same
        # results, fewer sorts.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", "64m"),
        )
        # I/O (guide §6): zstd parquet — smaller files than snappy at
        # similar read speed; applies to every temp tree the lifecycle
        # entries write and to user outputs alike
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Scan splits (rule in the module docstring).  With the 4 MiB
        # default open cost, one 14.2 MiB file of four 3.55 MiB row
        # groups on 4 cores gets (14.2 + 4) / 4 = 4.55 MiB splits, which
        # hold 1, 2, 1 and 0 row groups: one task does twice its share
        # while a core idles.  At 1 MiB the splits are (14.2 + 1) / 4 =
        # 3.80 MiB and each row group gets its own task; at 8 and 32
        # cores the 1.90 MiB and 1 MiB splits still put each row-group
        # midpoint in a split of its own.
        .config("spark.sql.files.openCostInBytes", str(1 << 20))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs cross the JVM/Python boundary Arrow-batched
        # (ArrowEvalPythonUDTF) instead of row-pickling — the last
        # BatchEvalPython in the battery's plans goes away with this
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # default 300s trips under throttled/contended windows (the
        # round-2 driver run was 2.9x slower than the same commit run
        # locally); the timeout exists to catch hangs, not slow hosts
        .config("spark.sql.broadcastTimeout", "1800")
        # the driver testdata stores TIMESTAMP(NANOS) parquet, which Spark
        # rejects unless read as long (converted back in sources/tpch.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        # keep managed-table state (bucketed tables) and the derby
        # metastore out of the caller's cwd; the derby home is per-pid
        # because the embedded metastore takes an exclusive db.lck — two
        # JVMs sharing it (e.g. a harness smoke-check overlapping the
        # bench, or a zombie from a killed run) fail at first catalog use
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "spark_alchemy_warehouse"),
        )
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={derby_home}",
        )
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark
