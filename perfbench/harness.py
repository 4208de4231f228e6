"""Run one workload: generate inputs, set up, warm up, measure, check.

Untraced runs (``trace=False``) produce the end-to-end metrics.  A
traced run alternates plain and traced measurement blocks (a traced
block's session writes Spark's event log and tags every op's jobs with
the op id as job group), then measures the workload's layers from
outside, and reports the per-layer metrics with the tracing overhead:
the traced-block median op time minus the plain-block median.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np

from . import datagen
from .tracing import Tracer, jvm_gc_s, spark_layer_metrics, tree_cpu_s, tree_peak_rss_mb
from .workloads import PROBES, WORKLOADS, OpOut, Workload

#: Warm session set-ups per run; ``setup_s`` is their median.
SETUP_REPS = 3
#: Recorded ops per layer probe, after its warm-up.
PROBE_OPS = 1

END_TO_END = {"setup_s": "s", "op_ms.p50": "ms", "items_per_s": "1/s", "rel_err.rms": "ratio"}
PER_LAYER = {
    "sources.scan_s": "s",
    "functions.hashing.hash_s": "s",
    "functions.hll.init_agg_s": "s",
    "sources.write_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "functions.hll.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "sources.rows_scanned_per_result_row": "ratio",
    "sources.sketch_bytes_per_group": "bytes",
    "functions.pyxxh.hash_arrow_values_ns_per_value": "ns",
    "functions.sketch_codec.coupons_for_longs_ns_per_value": "ns",
    "functions.sketch_codec.serialize_coupons_us_per_sketch": "us",
    "functions.sketch_codec.union_images_us_per_image": "us",
    "functions.agkn.ds_to_agkn_us_per_sketch": "us",
    "functions.agkn.agkn_cardinality_us_per_sketch": "us",
    "functions.strm.ds_to_strm_us_per_sketch": "us",
    "sql.init_rows_per_s": "1/s",
    "sql.export_sketches_per_s": "1/s",
    "operators.dedup.minhash_lsh_pairs_s": "s",
    "operators.graph.connected_components_s": "s",
    "operators.dedup.pairs_found": "count",
    "operators.dedup.docs_per_s": "1/s",
    "operators.dedup.pair_recall": "ratio",
    "process.cpu_per_op_s": "s",
    "session.build_session_s": "s",
    "bench.datagen_s": "s",
    "bench.warmup_s": "s",
    "bench.trace_overhead_ms": "ms",
}


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    return float(np.percentile(np.asarray(values, dtype=float), q))


def rms(values) -> float:
    return float(np.sqrt(np.mean(np.square(values)))) if len(values) else 0.0


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 size: str, work_dir: str):
        self.wl = WORKLOADS[workload](datagen.SIZES[size], work_dir)
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work_dir = work_dir
        self.spark = None
        self.outs: list[tuple[OpOut, float, bool]] = []  # (out, seconds, traced)
        self.attempted = self.failed = 0
        #: Relative errors of each of the workload's checked ops, in op
        #: order (empty for a failed op); the accuracy metrics read the
        #: first ``wl.accuracy_ops`` of them.
        self.op_rel_errs: list[list[float]] = []
        self.tracer = Tracer(os.path.join(work_dir, "eventlog")) if trace else None
        self._op_seq = 0

    # sessions -------------------------------------------------------------
    def session(self, traced: bool = False):
        from spark_alchemy_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        conf = {"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"}
        if traced:
            os.makedirs(self.tracer.eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(self.tracer.eventlog_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        n = cores()
        self.spark = build_session(
            f"perfbench-{self.wl.name}", master=f"local[{n}]",
            shuffle_partitions=n, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # ops ------------------------------------------------------------------
    def one_op(self, wl: Workload, traced: bool = False):
        """Time one op.  Returns (output or None if it raised, seconds)."""
        i = self._op_seq
        self._op_seq += 1
        span = self.tracer.begin(self.spark, f"op-{i}", wl.name) if traced else None
        gc0 = jvm_gc_s(self.spark) if traced else 0.0
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            out = wl.op(self.spark, i)
        except Exception:  # a failed op counts against the error rate
            traceback.print_exc(file=sys.stderr)
            out = None
        dt = time.perf_counter() - t0
        if out is not None:
            out.cpu_s = tree_cpu_s(os.getpid()) - cpu0
        if span is not None:
            span["kind"] = out.kind if out else "failed"
            span["jvm_gc_s"] = jvm_gc_s(self.spark) - gc0
            self.tracer.end(self.spark, span, out.result_rows if out else 0)
        return out, dt

    def checked(self, wl: Workload, timed: list) -> list[tuple[OpOut, float]]:
        """Check ops after their timing window and count them; returns
        the (output, seconds) of the ops that passed."""
        done = [out for out, _ in timed if out is not None]
        try:
            checks = dict(zip(map(id, done), wl.check_all(self.spark, done)))
        except Exception:  # a check that cannot run is a failed check
            traceback.print_exc(file=sys.stderr)
            checks = {}
        passed = []
        for out, dt in timed:
            self.attempted += 1
            chk = checks.get(id(out))
            if wl is self.wl:
                self.op_rel_errs.append(chk.rel_errs if chk else [])
            if chk is None or chk.errors:
                self.failed += 1
                if chk is not None:
                    log(f"check failed ({out.kind}): {chk.errors[:3]}")
                continue
            passed.append((out, dt))
        return passed

    def measure(self, seconds: float, traced: bool = False, min_ops: int = 1) -> None:
        """Run ops back to back until ``seconds`` have passed, at least
        ``min_ops`` and a whole number of the workload's rotations, then
        check them."""
        deadline = time.perf_counter() + seconds
        timed = []
        while (
            len(timed) < min_ops
            or len(timed) % self.wl.rotation
            or time.perf_counter() < deadline
        ):
            timed.append(self.one_op(self.wl, traced))
        self.outs += [(o, dt, traced) for o, dt in self.checked(self.wl, timed)]

    def complete_accuracy_set(self) -> None:
        """Run, untimed but checked, the ops of the accuracy set (the
        workload's first ``accuracy_ops``) that the timing window did
        not reach, so ``rel_err.rms`` does not depend on speed."""
        self.checked(
            self.wl, [self.one_op(self.wl) for _ in range(self._op_seq, self.wl.accuracy_ops)]
        )

    @property
    def rel_errs(self) -> list[float]:
        return [e for errs in self.op_rel_errs[: self.wl.accuracy_ops] for e in errs]

    def warm(self, wl: Workload, ops: int) -> None:
        """Untimed ops on the current session: the first ops on a fresh
        session, and more so on a JVM fresh from launch, run several
        times slower, so measured ops never follow a fresh session."""
        try:
            for i in range(ops):
                wl.op(self.spark, -1 - i)
        except Exception:  # the measured ops fail too, and are counted
            traceback.print_exc(file=sys.stderr)

    def probe(self, cls) -> dict[str, float]:
        """Run a layer probe on the current session: one warm-up op,
        then PROBE_OPS checked ops; returns the probe's layer metrics."""
        p = cls(self.wl.sz, self.work_dir, source=self.wl)
        p.generate(np.random.default_rng(self.seed))
        p.open(self.spark)
        self.warm(p, p.warmup_ops)
        outs = self.checked(p, [self.one_op(p) for _ in range(PROBE_OPS)])
        return p.layers(self.spark, outs) if outs else {}

    # the run --------------------------------------------------------------
    def run(self) -> dict:
        layer: dict[str, float] = {}
        t0 = time.perf_counter()
        self.wl.generate(np.random.default_rng(self.seed))
        layer["bench.datagen_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.session()
        layer["session.build_session_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.wl.prep(self.spark)
        self.wl.open(self.spark)
        self.warm(self.wl, self.wl.warmup_ops)
        layer["bench.warmup_s"] = time.perf_counter() - t0
        log(f"session {layer['session.build_session_s']:.2f}s "
            f"warmup {layer['bench.warmup_s']:.2f}s")
        if self.trace:
            # plain / traced / plain / traced blocks, each on a fresh,
            # warmed session
            for traced in (False, True, False, True):
                self.session(traced)
                self.wl.open(self.spark)
                self.warm(self.wl, 1)
                self.measure(self.seconds / 4, traced)
            plain = [(o, dt) for o, dt, t in self.outs if not t]
            layer["process.cpu_per_op_s"] = statistics.median(o.cpu_s for o, _ in plain)
            layer.update(self.wl.layers(self.spark, plain))
            for cls in PROBES:
                layer.update(self.probe(cls))
        else:
            self.measure(self.seconds, min_ops=3)
            self.complete_accuracy_set()
        # set-up is timed after the measurement, on a warm JVM, so the
        # measured ops never follow a fresh session
        setups = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.session()
            self.wl.open(self.spark)
            setups.append(time.perf_counter() - t0)
        log(f"setups {[round(x, 2) for x in setups]}")
        log(f"measured {len(self.outs)} ops: {[round(dt, 3) for _, dt, _ in self.outs]} s, "
            f"process-tree CPU {[round(o.cpu_s, 2) for o, _, _ in self.outs]} s")
        peak_mb = tree_peak_rss_mb(os.getpid())
        self.stop()
        return self.result(setups, peak_mb, layer)

    def result(self, setups, peak_mb, layer) -> dict:
        times = [dt for _, dt, _ in self.outs]
        e2e = {
            "setup_s": statistics.median(setups),
            "op_ms.p50": 1000 * statistics.median(times) if times else 0.0,
            "items_per_s": sum(o.items for o, _, _ in self.outs) / sum(times) if times else 0.0,
            "rel_err.rms": rms(self.rel_errs),
        }
        self.report(e2e, setups, peak_mb)
        if self.trace:
            spans = self.tracer.write(os.path.join(self.work_dir, "spans.json"))
            layer.update(spark_layer_metrics(spans))
            layer["spark.gc_s"] = statistics.fmean(op["jvm_gc_s"] for op in spans["ops"])
            plain = [dt for _, dt, t in self.outs if not t]
            traced = [dt for _, dt, t in self.outs if t]
            if plain and traced:
                layer["bench.trace_overhead_ms"] = 1000 * (
                    statistics.median(traced) - statistics.median(plain)
                )
            for k, u in PER_LAYER.items():
                print(f"{k} = {layer.get(k, 0.0):.6g} {u}")
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        return {
            "correct": self.attempted > 0 and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def report(self, e2e: dict, setups: list[float], peak_mb: float) -> None:
        """Human-readable lines: the end-to-end metrics, then the ungated
        peak memory (README.md says why) and the workload's own named
        metrics, with units and sample counts."""
        print(f"workload {self.wl.name} seed {self.seed} cores {cores()} "
              f"ops {self.attempted} failed {self.failed} setups {len(setups)}")
        print(f"error_rate = {self.failed / max(self.attempted, 1):.4f} ratio")
        for k, v in e2e.items():
            print(f"{k} = {v:.6g} {END_TO_END[k]}")
        print(f"peak_rss_mb = {peak_mb:.6g} MB")
        for k, v, u in self.named_metrics():
            print(f"{k} = {v:.6g} {u}")

    def named_metrics(self):
        times = [dt for _, dt, _ in self.outs]
        if not times:
            return []
        if self.wl.name == "ingest":
            return [
                ("ingest_rows_per_s", self.wl.sz.events * len(times) / sum(times), "rows/s"),
                ("ingest_job_s.p50", statistics.median(times), "s"),
                ("sketch_table_bytes_per_group", self.wl.bytes_per_group(), "bytes"),
            ]
        lat = [dt * 1000 for dt in times]
        return [
            ("rollup_latency_ms.p50", statistics.median(lat), "ms"),
            (f"rollup_latency_ms.p95[n={len(lat)}]", percentile(lat, 95), "ms"),
            ("rollup_qps", len(lat) / (sum(lat) / 1000), "1/s"),
            (f"rollup_rel_err.p95[n={len(self.rel_errs)}]", percentile(self.rel_errs, 95), "ratio"),
            ("sketch_table_bytes_per_group", self.wl.bytes_per_group(), "bytes"),
        ]
