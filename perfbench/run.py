#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload bootstrap --seed 1 --seconds 15 --trace 0

Runs one workload against the engine in this checkout and prints, as
the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics and writes the spans to ``.perfbench/<workload>-spans.jsonl``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("bootstrap", "live_tail")
CPUS = "3"  # one core of four stays free for live_tail's load generator
# a fixed-size heap (-Xms = -Xmx): resident memory plateaus during warm-up
# instead of following the collector's heap resizing
HEAP = "2g"


class Context:
    """What every workload gets: the session, its scratch directory, the
    seed, the measuring time and the trace instruments."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool) -> None:
        from perfbench.probe import SparkCounters, Tracer

        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.counters = SparkCounters(spark)


def _environment(work: str) -> None:
    """Keep every file the run writes inside the checkout and pin the
    session shape before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str):
    from xxt_cdc_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench")
    _environment(work)
    # fail fast, before any set-up, when the engine is not in the checkout
    import xxt_cdc_spark  # noqa: F401

    from perfbench import bootstrap, layers, live_tail, querypass

    run_dir = os.path.join(work, args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.monotonic()
    spark = start_session(work)
    session_s = time.monotonic() - t0
    try:
        ctx = Context(spark, run_dir, args.seed, args.seconds, bool(args.trace))
        module = {"bootstrap": bootstrap, "live_tail": live_tail}
        out = module[args.workload].run(ctx, T_START)
        if ctx.trace and not out["failed"]:
            ctx.tracer.enabled = True
            per_query, q_failed = querypass.run(ctx, querypass.QUERIES[args.workload])
            out["attempted"] += len(querypass.QUERIES[args.workload])
            out["failed"] += q_failed
            for name, value in per_query.items():
                layers.put(out["layers"], name, value)
        if ctx.trace:
            out["layers"]["session.start_s"] = (session_s, "s")
            if not out["failed"] and set(out["layers"]) != set(layers.UNITS):
                raise RuntimeError(f"per-layer names differ: {sorted(out['layers'])}")
            ctx.tracer.write(os.path.join(work, f"{args.workload}-spans.jsonl"))
    finally:
        # stop the JVM and wait for it: it exits once its stdin closes,
        # and stops the Python workers it started on the way down
        jvm = spark.sparkContext._gateway.proc
        spark.stop()
        jvm.stdin.close()
        jvm.wait(timeout=60)
    shutil.rmtree(run_dir, ignore_errors=True)
    ok = out["failed"] == 0
    # a run with a failed operation reports the failure, not a number
    metrics = (out["layers"] if ctx.trace else out["e2e"]) if ok else {}
    print(json.dumps({
        "correct": ok,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
