"""The benchmark's own tests: every workload's output checks run on
tiny inputs, and a wrong output raises the error count instead of an
exception.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.harness import END_TO_END, PER_LAYER, Run  # noqa: E402


def test_metrics_match_benchmark_json():
    """The harness reports exactly the metrics, with the units, that
    BENCHMARK.json declares."""
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def tiny(workload: str, tmp_path, trace: bool = False) -> Run:
    return Run(workload, seed=7, seconds=0, trace=trace, size="tiny", work_dir=str(tmp_path))


@pytest.mark.parametrize("workload", ["ingest", "rollup"])
def test_tiny_workload_passes_every_check(workload, tmp_path):
    result = tiny(workload, tmp_path).run()
    assert result["attempted"] >= 3
    assert result["failed"] == 0
    assert result["correct"] is True
    assert set(result["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", ["ingest", "rollup"])
def test_traced_tiny_run_reports_every_layer(workload, tmp_path):
    """The traced run also runs the SQL-surface and dedup probes, whose
    ops are checked and counted like the workload's own."""
    result = tiny(workload, tmp_path, trace=True).run()
    assert result["failed"] == 0
    assert list(result["metrics"]) == list(PER_LAYER)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["spark.jobs_per_op"] >= 1
    assert m["operators.dedup.pairs_found"] >= 1
    assert m["functions.agkn.ds_to_agkn_us_per_sketch"] > 0
    assert m["sources.scan_s"] > 0
    assert os.path.exists(os.path.join(str(tmp_path), "spans.json"))


def test_rel_err_does_not_depend_on_speed(tmp_path):
    """A longer window reaches more queries, but accuracy is scored on
    the same fixed first ``accuracy_ops`` queries."""
    short = tiny("rollup", tmp_path / "short").run()
    run = Run("rollup", seed=7, seconds=3, trace=False, size="tiny", work_dir=str(tmp_path / "long"))
    long = run.run()
    assert len(run.outs) > 4
    assert long["failed"] == short["failed"] == 0
    assert long["metrics"]["rel_err.rms"] == short["metrics"]["rel_err.rms"]


def test_wrong_output_raises_error_rate_not_exception(tmp_path):
    run = tiny("rollup", tmp_path)
    generate = run.wl.generate

    def corrupt_answers(rng):
        generate(rng)
        for q in run.wl.queries:
            q.exact = {k: 3 * v + 50 for k, v in q.exact.items()}

    run.wl.generate = corrupt_answers
    result = run.run()
    assert result["attempted"] >= 3
    assert result["failed"] == result["attempted"]
    assert result["correct"] is False


def test_failing_op_is_counted_not_raised(tmp_path):
    run = tiny("ingest", tmp_path)
    op = run.wl.op

    def flaky(spark, i):
        if i % 2:
            raise RuntimeError("injected failure")
        return op(spark, i)

    run.wl.op = flaky
    result = run.run()
    assert 0 < result["failed"] < result["attempted"]
    assert result["correct"] is False
