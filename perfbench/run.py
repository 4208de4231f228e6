"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,rollup} --seed N \
        --seconds S --trace {0,1} [--size {full,tiny}]

Run from the repository root.  Prints human-readable metric lines, then
one JSON object as the last line of standard output.  Every file the run
writes (inputs, Spark scratch, event logs, temp files) stays under
``.perfbench_out/`` in the repository root and is removed at the end,
except the traced run's spans file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "rollup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def confine(work: str) -> None:
    """Point every scratch location (Python and JVM temp files, Spark
    local dirs, the metastore) into the run's own directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files: the JVM would put them in /tmp whatever tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def shutdown_jvm() -> None:
    """Close the gateway JVM launched by pyspark and wait for it (and
    through it, the Python worker daemon) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "spark_alchemy_spark", "__init__.py")):
        print("perfbench: spark_alchemy_spark package not found next to perfbench/",
              file=sys.stderr)
        return 2
    out_root = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(out_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    confine(work)
    sys.path.insert(0, ROOT)
    from perfbench.harness import Run

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.size, work)
    # a terminated run still stops the JVM it launched (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result = run.run()
    finally:
        run.stop()
        shutdown_jvm()
        from perfbench.tracing import descendants

        if descendants(os.getpid()):
            print("perfbench: child processes still running at exit", file=sys.stderr)
    spans = os.path.join(work, "spans.json")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(out_root, f"spans-{args.workload}-{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
