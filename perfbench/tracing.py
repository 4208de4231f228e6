"""Outside-in measurement helpers: process-tree peak RSS and CPU time,
and the Spark event-log fold that attributes task metrics to benchmark ops.

Spans are kept in memory while the benchmark runs (``Tracer.ops``) and
folded with the event log only after the traced Spark sessions have
stopped, so tracing adds no driver work inside a timed op beyond the
job-group property Spark already carries.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
        except OSError:  # process ended between glob and open
            continue
        pid = int(data[: data.index(" ")])
        ppid = int(data[data.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(pid)
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in kids.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the peak resident memory (the kernel's high-water mark) of
    every live descendant of ``root``: the driver JVM and its Python
    workers.  Unlike polling, it cannot miss a short peak."""
    return sum(_hwm_kb(p) for p in descendants(root)) / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants, including
    reaped children (so ended Python workers still count)."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def jvm_gc_s(spark) -> float:
    """Cumulative GC seconds of the driver JVM, which in local mode also
    runs every executor task."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


class Tracer:
    """Op spans of one traced run plus the event-log fold.

    ``begin``/``end`` bracket one benchmark op; the op id doubles as the
    Spark job group so every job (and so every stage and task) the op
    triggers can be attributed to it afterwards.
    """

    def __init__(self, eventlog_dir: str):
        self.eventlog_dir = eventlog_dir
        self.ops: list[dict] = []

    def begin(self, spark, op_id: str, kind: str) -> dict:
        spark.sparkContext.setJobGroup(op_id, kind)
        span = {"op": op_id, "kind": kind, "start": time.time(), "end": None, "result_rows": 0}
        self.ops.append(span)
        return span

    def end(self, spark, span: dict, result_rows: int) -> None:
        span["end"] = time.time()
        span["result_rows"] = result_rows
        spark.sparkContext.setJobGroup("", "")

    def fold(self) -> dict:
        """Read every event log under ``eventlog_dir`` and nest task
        metrics as op -> job -> stage spans."""
        jobs: dict[tuple[str, int], dict] = {}
        stage_job: dict[tuple[str, int], tuple[str, int]] = {}
        stages: dict[tuple[str, int], dict] = {}
        for path in sorted(glob.glob(os.path.join(self.eventlog_dir, "*"))):
            app = os.path.basename(path)
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        key = (app, ev["Job ID"])
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        jobs[key] = {
                            "job": ev["Job ID"], "group": group,
                            "start": ev["Submission Time"] / 1000.0, "end": None,
                            "stages": [],
                        }
                        for sid in ev.get("Stage IDs", []):
                            stage_job[(app, sid)] = key
                    elif kind == "SparkListenerJobEnd":
                        job = jobs.get((app, ev["Job ID"]))
                        if job is not None:
                            job["end"] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerTaskEnd":
                        skey = (app, ev["Stage ID"])
                        st = stages.setdefault(skey, _empty_stage(ev["Stage ID"]))
                        _add_task(st, ev.get("Task Metrics") or {})
        for skey, st in stages.items():
            jkey = stage_job.get(skey)
            if jkey in jobs:
                jobs[jkey]["stages"].append(st)
        by_group: dict[str, list[dict]] = {}
        for job in jobs.values():
            by_group.setdefault(job["group"], []).append(job)
        for span in self.ops:
            span["jobs"] = sorted(by_group.get(span["op"], []), key=lambda j: j["start"])
        return {"ops": self.ops}

    def write(self, path: str) -> dict:
        spans = self.fold()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(spans, f)
        return spans


def _empty_stage(stage_id: int) -> dict:
    return {
        "stage": stage_id, "tasks": 0, "executor_cpu_ns": 0, "gc_ms": 0,
        "shuffle_write_bytes": 0, "spill_bytes": 0, "records_read": 0,
    }


def _add_task(st: dict, m: dict) -> None:
    st["tasks"] += 1
    st["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
    st["gc_ms"] += m.get("JVM GC Time", 0)
    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
    st["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)


def _covered_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_layer_metrics(spans: dict) -> dict[str, float]:
    """Per-op Spark metrics (means over traced ops) from folded spans."""
    per_op = []
    rows_read = rows_out = 0
    for op in spans["ops"]:
        stages = [st for j in op["jobs"] for st in j["stages"]]
        per_op.append(
            {
                "exec_ms": 1000.0 * _covered_s(
                    [(j["start"], j["end"]) for j in op["jobs"] if j["end"] is not None]
                ),
                "jobs": len(op["jobs"]),
                "tasks": sum(st["tasks"] for st in stages),
                "shuffle": sum(st["shuffle_write_bytes"] for st in stages),
                "spill": sum(st["spill_bytes"] for st in stages),
                "cpu_s": sum(st["executor_cpu_ns"] for st in stages) / 1e9,
            }
        )
        rows_read += sum(st["records_read"] for st in stages)
        rows_out += op["result_rows"]
    if not per_op:
        return {}

    def mean(key: str) -> float:
        return float(statistics.fmean(p[key] for p in per_op))

    return {
        "spark.exec_ms": mean("exec_ms"),
        "spark.jobs_per_op": mean("jobs"),
        "spark.tasks_per_op": mean("tasks"),
        "spark.shuffle_write_bytes": mean("shuffle"),
        "spark.spill_bytes": mean("spill"),
        "spark.executor_cpu_s": mean("cpu_s"),
        "sources.rows_scanned_per_result_row": rows_read / max(rows_out, 1),
    }
