"""The benchmark workloads (ingest, rollup) and the layer probes
(SQL surface + export, dedup) that every traced run adds.

Each workload splits into the benchmark's side (``generate``: seeded
inputs plus exact answers, and ``check``: compare an op's output with
them) and the program's side (``prep``/``open``/``op``: only public
calls into ``spark_alchemy_spark``).  ``op`` is what the harness times;
``check`` runs after the clock stops, and a failed check is counted,
never raised.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from spark_alchemy_spark import functions as AF
from spark_alchemy_spark.conf import error_from_precision, precision_from_error, DEFAULT_RELATIVE_SD
from spark_alchemy_spark.functions import agkn, pyxxh, sketch_codec, strm
from spark_alchemy_spark.functions.hashing import BINARY_SEED
from spark_alchemy_spark.operators.dedup import minhash_lsh_pairs
from spark_alchemy_spark.operators.graph import connected_components

from . import datagen

LG_K = precision_from_error(DEFAULT_RELATIVE_SD)
#: Relative standard error of one lgK sketch, from the program's own
#: precision formula; checks allow five of them.
SIGMA = error_from_precision(LG_K)
#: Timed runs of each write-path prefix in a traced run.  A layer's time
#: is the difference of two prefix medians, and an odd count keeps one
#: slow run out of each median.
PREFIX_REPS = 3


def within(est: float, exact: float, spread: float | None = None) -> bool:
    """``est`` is within 5 sigma of ``exact`` (plus 2 for rounding at
    tiny counts); ``spread`` widens the scale for derived estimates."""
    return abs(est - exact) <= 5 * SIGMA * (exact if spread is None else spread) + 2


@dataclass
class OpOut:
    """What one op produced: the payload the check reads, the work done
    (``items``), the result rows it returned or wrote, and sub-timings."""

    kind: str
    items: int
    result_rows: int
    payload: object = None
    plan_ms: float | None = None
    parts: dict = field(default_factory=dict)
    cpu_s: float = 0.0  # CPU time of the driver process tree during the op


@dataclass
class Check:
    errors: list[str] = field(default_factory=list)
    rel_errs: list[float] = field(default_factory=list)

    def expect(self, ok: bool, msg: str) -> None:
        if not ok:
            self.errors.append(msg)

    def estimate(self, label: str, est, exact: int) -> None:
        if est is None:
            self.errors.append(f"{label}: NULL estimate, exact {exact}")
            return
        self.expect(within(est, exact), f"{label}: estimate {est} vs exact {exact}")
        if exact:
            self.rel_errs.append(abs(est - exact) / exact)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def sketch_pipeline(spark, events_path: str, device_type):
    """The write path: event log -> one sketch row per
    (day, country, campaign), over the BIGINT and the struct column."""
    return (
        spark.read.parquet(events_path)
        .groupBy("day", "country", "campaign")
        .agg(
            AF.hll_init_agg("user_id").alias("users"),
            AF.hll_init_agg("device", dtype=device_type).alias("devices"),
        )
    )


def prefix_layers(spark, events_path: str, device_type) -> dict[str, float]:
    """Layer times of the write path from prefix pipelines: scan, +hash,
    +aggregate (each into a ``noop`` sink), then the full pipeline into
    parquet; a layer's time is the difference of neighbouring prefixes."""
    from spark_alchemy_spark.functions.hashing import cardinality_hash

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def read():
        return spark.read.parquet(events_path)

    out_dir = os.path.join(os.path.dirname(events_path), "prefix-full")
    scan = _median_time(lambda: noop(read()), PREFIX_REPS)
    hashed = _median_time(
        lambda: noop(
            read().select(
                "day", "country", "campaign",
                cardinality_hash("user_id").alias("h1"),
                cardinality_hash("device", device_type).alias("h2"),
            )
        ),
        PREFIX_REPS,
    )
    agg = _median_time(lambda: noop(sketch_pipeline(spark, events_path, device_type)), PREFIX_REPS)
    full = _median_time(
        lambda: sketch_pipeline(spark, events_path, device_type).write.mode("overwrite").parquet(out_dir),
        PREFIX_REPS,
    )
    return {
        "sources.scan_s": scan,
        "functions.hashing.hash_s": hashed - scan,
        "functions.hll.init_agg_s": agg - hashed,
        "sources.write_s": full - agg,
    }


def _median_time(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class Workload:
    name = ""
    #: Untimed ops before the measurement window.
    warmup_ops = 1
    #: Measured op counts are whole multiples of this (a query rotation).
    rotation = 1
    #: ``rel_err.rms`` is scored on the first this many ops, whatever
    #: the number the timing window reaches.
    accuracy_ops = 1

    def __init__(self, sizes: datagen.Sizes, work_dir: str, source: "Workload | None" = None):
        self.sz = sizes
        self.dir = work_dir
        #: The workload a layer probe reads its sketch table from.
        self.source = source

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    # benchmark side -------------------------------------------------------
    def generate(self, rng: np.random.Generator) -> None:
        raise NotImplementedError

    def check(self, spark, out: OpOut) -> Check:
        raise NotImplementedError

    def check_all(self, spark, outs: list[OpOut]) -> list[Check]:
        return [self.check(spark, o) for o in outs]

    # program side ---------------------------------------------------------
    def prep(self, spark) -> None:
        """One-time program work the ops depend on (not repeated)."""

    def open(self, spark) -> None:
        """Per-session set-up: registration and opening the inputs."""

    def op(self, spark, i: int) -> OpOut:
        raise NotImplementedError

    def bytes_per_group(self) -> float:
        return dir_bytes(self.sketches_path) / self.groups

    def layers(self, spark, outs: list[tuple[OpOut, float]]) -> dict[str, float]:
        """Traced-run extras: per-layer numbers measured from outside;
        ``outs`` holds the (output, seconds) of the run's untraced ops.
        Both workloads measure the write path on the pipeline that built
        their sketch table, plus their own ops' planning time."""
        return {
            **prefix_layers(spark, self.events_path, self.device_type),
            "functions.hll.plan_ms": statistics.median(o.plan_ms for o, _ in outs),
            "sources.sketch_bytes_per_group": self.bytes_per_group(),
        }


class Ingest(Workload):
    """Write path: one batch job per op, event-log parquet -> one sketch
    row per (day, country, campaign) over the BIGINT and the struct
    column -> sketch parquet."""

    name = "ingest"
    #: Jobs keep getting faster, and the JVM heap keeps growing, for the
    #: first few after launch.
    warmup_ops = 4

    def generate(self, rng):
        ev = datagen.events(rng, self.sz)
        datagen.write_parquet(ev.table, self.path("events.parquet"))
        self.truth = datagen.ingest_truth(ev, self.sz)
        self.groups = self.truth.groups

    def open(self, spark):
        self.events_path = self.path("events.parquet")
        self.device_type = spark.read.parquet(self.events_path).schema["device"].dataType

    def op(self, spark, i):
        out_path = self.path(f"sketches/op={i}")
        t0 = time.perf_counter()
        df = sketch_pipeline(spark, self.events_path, self.device_type)
        df.schema
        plan_ms = 1000 * (time.perf_counter() - t0)
        df.write.mode("overwrite").parquet(out_path)
        self.sketches_path = out_path
        return OpOut("ingest", self.sz.events, self.truth.groups, payload=out_path, plan_ms=plan_ms)

    def check_all(self, spark, outs):
        """One Spark job reads back every measured op's output (each in
        its own ``op=i`` directory) and merges it per (day, country)."""
        if not outs:
            return []
        ops = [int(o.payload.rsplit("=", 1)[1]) for o in outs]
        rows = (
            spark.read.parquet(self.path("sketches"))
            .filter(F.col("op").isin(ops))
            .groupBy("op", "day", "country")
            .agg(
                F.count("*").alias("n"),
                AF.hll_cardinality(AF.hll_merge("users")).alias("users"),
                AF.hll_cardinality(AF.hll_merge("devices")).alias("devices"),
            )
            .collect()
        )
        by_op: dict[int, list] = {}
        for r in rows:
            by_op.setdefault(r["op"], []).append(r)
        return [self._check_rows(by_op.get(i, [])) for i in ops]

    def _check_rows(self, rows) -> Check:
        c = Check()
        n = sum(r["n"] for r in rows)
        c.expect(n == self.truth.groups, f"sketch rows {n} != non-empty groups {self.truth.groups}")
        c.expect(
            len(rows) == len(self.truth.users_by_day_country),
            f"{len(rows)} (day, country) rollups, expected {len(self.truth.users_by_day_country)}",
        )
        for r in rows:
            key = r["day"] * self.sz.countries + r["country"]
            c.estimate(f"users{key}", r["users"], self.truth.users_by_day_country.get(key, 0))
            c.estimate(f"devices{key}", r["devices"], self.truth.devices_by_day_country.get(key, 0))
        return c


class SqlSurface(Workload):
    """Layer probe for the SQL surface and the Postgres export, run in
    traced runs over the sketch table the workload (``source``) wrote
    last.  One op is a raw-row slice through ``hll_init``,
    ``hll_init_agg``, ``hll_init_collection`` and ``hll_merge``, plus an
    AGKN + STRM export of every sketch."""

    name = "sql_surface"
    #: Export rows whose STRM image is re-estimated in the driver check.
    strm_checks = 200

    SQL_INIT = (
        "SELECT day, hll_cardinality(hll_init_agg(user_id)) AS agg, "
        "hll_cardinality(hll_merge(hll_init(user_id))) AS init, "
        "hll_cardinality(hll_merge(hll_init_collection(items))) AS coll "
        "FROM slice GROUP BY day"
    )
    EXPORT = (
        "SELECT hll_cardinality(users) AS ds, "
        "agkn_cardinality(hll_convert(users, 'DS', 'AGKN')) AS agkn, "
        "hll_convert(users, 'DS', 'STRM') AS strm FROM sketches"
    )

    def generate(self, rng):
        self.slice = datagen.sql_slice(rng, self.sz)
        datagen.write_parquet(self.slice.table, self.path("slice.parquet"))

    def open(self, spark):
        AF.register(spark)
        spark.read.parquet(self.path("slice.parquet")).createOrReplaceTempView("slice")
        self.sketches = spark.read.parquet(self.source.sketches_path)
        self.sketches.createOrReplaceTempView("sketches")

    def op(self, spark, i):
        t0 = time.perf_counter()
        sql_rows = spark.sql(self.SQL_INIT).collect()
        t1 = time.perf_counter()
        export = spark.sql(self.EXPORT).collect()
        t2 = time.perf_counter()
        return OpOut(
            "sql_surface", self.sz.slice_rows, len(sql_rows) + len(export),
            payload=(sql_rows, export),
            parts={"sql_s": t1 - t0, "export_s": t2 - t1},
        )

    def check(self, spark, out):
        c = Check()
        sql_rows, export = out.payload
        c.expect(len(sql_rows) == len(self.slice.users_by_day), f"{len(sql_rows)} SQL days")
        for r in sql_rows:
            users = self.slice.users_by_day.get(r["day"], 0)
            c.estimate(f"sql_agg{r['day']}", r["agg"], users)
            c.estimate(f"sql_init{r['day']}", r["init"], users)
            c.estimate(f"sql_coll{r['day']}", r["coll"], self.slice.items_by_day.get(r["day"], 0))
        c.expect(len(export) > 0, "export returned no sketches")
        for k, r in enumerate(export):
            c.expect(within(r["agkn"], r["ds"]), f"AGKN {r['agkn']} vs DS {r['ds']}")
            if k < self.strm_checks:
                est = strm.strm_cardinality(bytes(r["strm"]))
                c.expect(within(est, r["ds"]), f"STRM {est} vs DS {r['ds']}")
        return c

    def layers(self, spark, outs):
        """Driver-side kernel timings on samples of the probe's own
        inputs (the slice's user ids, the sketches ingest wrote), plus
        the probe's SQL and export throughput."""
        import pyarrow.parquet as pq

        user_ids = pq.read_table(self.path("slice.parquet"), columns=["user_id"])["user_id"]
        user_ids = user_ids.combine_chunks()
        sketches = self.sketches.select("users").limit(400).toArrow()["users"].to_pylist()
        sketches = [bytes(b) for b in sketches]
        seed = pyxxh.xxh64_long(BINARY_SEED)
        hashes = pyxxh.hash_arrow_values(user_ids, seed)
        coupons = sketch_codec.coupons_for_longs(hashes)[:2000]
        agkn_images = [agkn.ds_to_agkn(b) for b in sketches]
        n_vals, n_sk = len(hashes), len(sketches)
        per = {
            "functions.pyxxh.hash_arrow_values_ns_per_value": (
                lambda: pyxxh.hash_arrow_values(user_ids, seed), 1e9 / n_vals),
            "functions.sketch_codec.coupons_for_longs_ns_per_value": (
                lambda: sketch_codec.coupons_for_longs(hashes), 1e9 / n_vals),
            "functions.sketch_codec.serialize_coupons_us_per_sketch": (
                lambda: [sketch_codec.serialize_coupons((int(c),), LG_K) for c in coupons],
                1e6 / len(coupons)),
            "functions.sketch_codec.union_images_us_per_image": (
                lambda: sketch_codec.union_images(sketches), 1e6 / n_sk),
            "functions.agkn.ds_to_agkn_us_per_sketch": (
                lambda: [agkn.ds_to_agkn(b) for b in sketches], 1e6 / n_sk),
            "functions.agkn.agkn_cardinality_us_per_sketch": (
                lambda: [agkn.agkn_cardinality(b) for b in agkn_images], 1e6 / n_sk),
            "functions.strm.ds_to_strm_us_per_sketch": (
                lambda: [strm.ds_to_strm(b) for b in sketches], 1e6 / n_sk),
        }
        out = {name: _median_time(fn, 3) * scale for name, (fn, scale) in per.items()}
        out["sql.init_rows_per_s"] = self.sz.slice_rows / statistics.median(
            o.parts["sql_s"] for o, _ in outs
        )
        out["sql.export_sketches_per_s"] = statistics.median(
            (o.result_rows - len(o.payload[0])) / o.parts["export_s"] for o, _ in outs
        )
        return out


class Rollup(Workload):
    """Read path: one client, closed loop, issuing a seeded rotation of
    DataFrame rollups (merge by dimension, filtered merge, segment
    intersection, row merge of two sketch columns) over a sketch table
    the program built with the same pipeline ``ingest`` measures."""

    name = "rollup"
    rotation = len(datagen.QUERY_KINDS)
    warmup_ops = 4 * rotation
    accuracy_ops = 8 * rotation

    def generate(self, rng):
        ev = datagen.events(rng, self.sz)
        datagen.write_parquet(ev.table, self.path("events.parquet"))
        self.queries = datagen.query_pool(rng, self.sz, ev)
        self.groups = datagen.ingest_truth(ev, self.sz).groups

    def prep(self, spark):
        self.events_path = self.path("events.parquet")
        self.sketches_path = self.path("sketches")
        self.device_type = spark.read.parquet(self.events_path).schema["device"].dataType
        sketch_pipeline(spark, self.events_path, self.device_type).write.mode(
            "overwrite"
        ).parquet(self.sketches_path)

    def open(self, spark):
        self.sk = spark.read.parquet(self.sketches_path)

    def query(self, q):
        sk = self.sk.filter(F.col("day").between(q.lo, q.hi))
        if q.kind == "merge_by_day_country":
            return sk.groupBy("day", "country").agg(
                AF.hll_cardinality(AF.hll_merge("users")).alias("est")
            )
        if q.kind == "merge_campaign":
            return sk.filter(F.col("campaign") == q.campaign).agg(
                AF.hll_cardinality(AF.hll_merge("users")).alias("est")
            )
        if q.kind == "intersect":
            return sk.agg(
                AF.hll_merge(F.when(F.col("country") == q.country, F.col("users"))).alias("a"),
                AF.hll_merge(F.when(F.col("campaign") == q.campaign, F.col("users"))).alias("b"),
            ).select(
                AF.hll_cardinality("a").alias("a"),
                AF.hll_cardinality("b").alias("b"),
                AF.hll_intersect_cardinality("a", "b").alias("both"),
            )
        return sk.agg(
            AF.hll_merge("users").alias("u"), AF.hll_merge("devices").alias("d")
        ).select(AF.hll_cardinality(AF.hll_row_merge("u", "d")).alias("est"))

    def op(self, spark, i):
        q = self.queries[i % len(self.queries)]
        t0 = time.perf_counter()
        df = self.query(q)
        df.schema
        plan_ms = 1000 * (time.perf_counter() - t0)
        rows = df.collect()
        return OpOut(q.kind, 1, len(rows), payload=(q, rows), plan_ms=plan_ms)

    def check(self, spark, out):
        c = Check()
        q, rows = out.payload
        if q.kind == "merge_by_day_country":
            got = {r["day"] * self.sz.countries + r["country"]: r["est"] for r in rows}
            c.expect(set(got) == set(q.exact), f"(day, country) keys {sorted(got)} != {sorted(q.exact)}")
            for k, exact in q.exact.items():
                c.estimate(f"day_country{k}", got.get(k), exact)
        elif q.kind == "intersect":
            r, e = rows[0], q.exact
            for k in ("a", "b"):
                if e[k]:
                    c.expect(within(r[k], e[k]), f"segment {k}: {r[k]} vs {e[k]}")
            if e["a"] and e["b"]:
                c.expect(
                    within(r["both"], e["both"], e["a"] + e["b"]),
                    f"intersection {r['both']} vs {e['both']}",
                )
        else:
            c.expect(len(rows) == 1, f"{len(rows)} rows")
            est = rows[0]["est"] if rows else None
            if q.exact[0] == 0:
                c.expect(est is None, f"empty selection estimated {est}")
            else:
                c.estimate(q.kind, est, q.exact[0])
        return c


class Dedup(Workload):
    """Layer probe for the dedup operators, run in traced runs:
    MinHash-LSH pairs over a seeded corpus with planted near-duplicates,
    then connected components over the pairs."""

    name = "dedup"
    threshold = 0.6

    def generate(self, rng):
        self.corpus = datagen.corpus(rng, self.sz)
        datagen.write_parquet(self.corpus.table, self.path("docs.parquet"))
        self.n_docs = self.corpus.table.num_rows
        # recall is judged on planted pairs clearly above the threshold:
        # a 64-permutation MinHash estimate has sigma ~0.06 near it
        texts = self.corpus.texts
        self.must_find = {
            (a, b) for a, b in self.corpus.planted
            if datagen.jaccard(texts[a], texts[b]) >= self.threshold + 0.1
        }

    def open(self, spark):
        self.docs = spark.read.parquet(self.path("docs.parquet"))

    def op(self, spark, i):
        t0 = time.perf_counter()
        pairs = minhash_lsh_pairs(
            self.docs, "doc_id", "text", threshold=self.threshold
        ).localCheckpoint(eager=True)
        t1 = time.perf_counter()
        comps = connected_components(pairs).collect()
        t2 = time.perf_counter()
        rows = pairs.collect()
        return OpOut(
            "dedup", self.n_docs, len(rows), payload=(rows, comps),
            parts={"lsh_s": t1 - t0, "cc_s": t2 - t1},
        )

    def check(self, spark, out):
        c = Check()
        rows, comps = out.payload
        texts = self.corpus.texts
        comp = {r["node"]: r["comp"] for r in comps}
        found = set()
        near = 0
        for r in rows:
            a, b = r["id_a"], r["id_b"]
            found.add((a, b))
            near += datagen.jaccard(texts[a], texts[b]) >= self.threshold - 0.2
            c.expect(comp.get(a) is not None and comp.get(a) == comp.get(b),
                     f"pair ({a}, {b}) split across components")
        hit = len(self.must_find & found)
        out.parts["recall"] = hit / max(len(self.must_find), 1)
        c.expect(out.parts["recall"] >= 0.9, f"recall {hit}/{len(self.must_find)}")
        c.expect(near >= 0.95 * len(rows), f"precision {near}/{len(rows)}")
        return c

    def layers(self, spark, outs):
        return {
            "operators.dedup.minhash_lsh_pairs_s": statistics.median(o.parts["lsh_s"] for o, _ in outs),
            "operators.graph.connected_components_s": statistics.median(o.parts["cc_s"] for o, _ in outs),
            "operators.dedup.pairs_found": float(outs[-1][0].result_rows),
            "operators.dedup.docs_per_s": self.n_docs / statistics.median(dt for _, dt in outs),
            "operators.dedup.pair_recall": statistics.median(o.parts["recall"] for o, _ in outs),
        }


WORKLOADS = {w.name: w for w in (Ingest, Rollup)}
#: Layers the end-to-end workloads do not reach, probed in every traced
#: run (README.md says why they are not workloads).
PROBES = (SqlSurface, Dedup)
