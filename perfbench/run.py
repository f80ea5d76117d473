#!/usr/bin/env python3
"""Repository benchmark for the opensearch_spark engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed``
(``perfbench/gen.py``) and written to parquet before any timing; the
engine only ever sees that parquet and the `_search` bodies. The run sets
up a Spark session at ``local[nproc]``, warms it, measures the workload
for ``--seconds``, checks every output against an independent exhaustive
BM25 (``perfbench/oracle.py``) and prints, as its last stdout line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (see perfbench/README.md for both lists and the workloads).
Scratch data lives in ``perfbench/_work`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

WORKLOADS = ("search_hot", "search_selective")
DEADLINE_S = 175       # hard stop: no result is printed past it


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


class Bench:
    """One benchmark run: environment, Spark session, inputs, workload."""

    def __init__(self, args):
        self.args = args
        self.ncpu = len(os.sched_getaffinity(0))
        self.work = HERE / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
        self.attempted = 0
        self.failures: list[str] = []
        self.diag: dict = {}         # extra diagnostics from the workload

    # ---------- environment ----------
    def prepare_env(self) -> None:
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True)
        os.environ["TMPDIR"] = str(tmp)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p])
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # the short-lived launcher JVM would write hsperfdata under /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = \
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    def start_spark(self):
        from opensearch_spark.session import get_spark

        tmp = self.work / "tmp"
        self.spark = get_spark(
            "perfbench", master=f"local[{self.ncpu}]",
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.local.dir": str(self.work / "spark"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                # a pre-touched fixed heap keeps the JVM's share of
                # peak_pss_mb from depending on when G1 grows the heap
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                    "-Xms2g -XX:+AlwaysPreTouch",
                "spark.ui.showConsoleProgress": "false",
            })
        return self.spark

    def stop_spark(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        spark.stop()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        self.spark = None

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"check failed: {what}", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    try:
        import opensearch_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"opensearch_spark is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import workloads
    from perfbench.tracing import HostNoise, descendants

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    noise = HostNoise()
    bench = Bench(args)
    shutil.rmtree(bench.work, ignore_errors=True)
    bench.prepare_env()
    try:
        result = workloads.run(bench)
    finally:
        bench.stop_spark()
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
            except (ProcessLookupError, ChildProcessError):
                pass
        shutil.rmtree(bench.work, ignore_errors=True)
        signal.alarm(0)
    print(json.dumps({"diagnostics": noise.report()
                      | bench.diag
                      | {"workload": args.workload, "seed": args.seed,
                         "failures": bench.failures[:20]}}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
