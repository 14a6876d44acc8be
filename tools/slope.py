#!/usr/bin/env python
"""Time-vs-scale-factor slope measurement (r3 verdict #6: convert the
100× plan *arguments* into at least one measured decade).

Runs one registry query (or the CDC sink-apply bench) in THIS process
at one sf dir, best-of-N, and prints a JSON line. The wrapper loop in
the Makefile/SCALING.md runs each (query, sf) in a fresh process so
numbers are session-residue-free (same protocol as tools/solo_query.py),
then slope = t(sf1) / t(sf0.1) against the 10x data growth: linear
scaling => slope ~10 with fixed parallelism, sublinear on this box
while 32 cores are not yet saturated at sf0.1.

Usage: python tools/slope.py <query_name|sink_apply> <sf_dir> [runs]
"""

from __future__ import annotations

# runnable as `python tools/<name>.py` from anywhere — the repo
# root is one level up from this file (same as tools/sweep.py)
import os as _os
import sys as _sys
_sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))

import json
import os
import sys
import time


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2]
    n_runs = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir  # bench helpers read it

    from xxt_cdc_spark.session import get_spark

    spark = get_spark(f"slope-{name}", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/orders.parquet").count()  # JVM warmup

    runs = []
    rows = None
    if name in ("sink_apply", "sink_apply_sharded"):
        import bench

        bench.SF_DIR = sf_dir
        fn = bench.bench_sink_apply if name == "sink_apply" else bench.bench_sink_apply_sharded
        for _ in range(n_runs):
            r = fn(spark)
            runs.append(round(r["sec"], 3))
            rows = r["events"]
    else:
        from xxt_cdc_spark.queries import QUERIES

        for _ in range(n_runs):
            # cold cache per run (dedup queries persist() intermediate
            # frames; CacheManager plan-match would let run 2 skip the
            # scan+shingle stages entirely, understating the slope),
            # warm JVM/JIT — the honest steady-state plan cost
            spark.catalog.clearCache()
            t0 = time.monotonic()
            QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(round(time.monotonic() - t0, 3))
        spark.catalog.clearCache()
    print(
        json.dumps(
            {"query": name, "sf_dir": sf_dir, "best_sec": min(runs), "runs": runs, "rows": rows}
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
