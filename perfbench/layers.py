"""The per-layer metrics a traced run prints, and the measurements both
workloads share.

Every traced run prints every name below. A layer the workload does
not exercise reads 0 (``bootstrap`` runs no micro-batch; ``live_tail``
runs no snapshot), which is itself the prediction for that pairing:
the layer does no work there. So does a query the run's part of the
query pass leaves out (``querypass.QUERIES``).
"""

from __future__ import annotations

import json
import os
import time

from xxt_cdc_spark.streaming.binlog_source import BinlogStreamReader, read_binlog_stream

from perfbench.probe import median

# the per-layer names and units are the ones BENCHMARK.json declares
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(_ROOT, "BENCHMARK.json")) as _f:
    UNITS = {m["name"]: m["unit"] for m in json.load(_f)["per_layer"]}


def blank() -> dict[str, tuple[float, str]]:
    return {name: (0.0, unit) for name, unit in UNITS.items()}


def put(layers: dict, name: str, value: float) -> None:
    layers[name] = (float(value), UNITS[name])


def put_spark(layers: dict, counters: list[dict]) -> None:
    """Median over runs of the Spark counters of each run."""
    for name in ("shuffle_write_bytes", "shuffle_write_records"):
        put(layers, f"operators.{name}", median([c[name] for c in counters]))
    for name in ("executor_cpu_s", "gc_s", "jobs", "tasks", "spill_bytes"):
        put(layers, f"spark.{name}", median([c[name] for c in counters]))


def binlog_source(ctx, log: str) -> tuple[float, float]:
    """The binlog source on its own, over the workload's log: events per
    second of batch execution in a noop drain (the Python decode), and
    the median time of one ``latestOffset`` call, timed directly while
    a reader walks the log in trigger-sized steps."""
    q = (
        read_binlog_stream(ctx.spark, log)
        .writeStream.format("noop")
        .option("checkpointLocation", os.path.join(ctx.work, "decode.ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with ctx.tracer.span("binlog_source.drain"):
        q.awaitTermination()
    rows = ms = 0.0
    for p in q.recentProgress:
        p = json.loads(p.json)
        if p.get("numInputRows"):
            rows += p["numInputRows"]
            ms += float(p["durationMs"]["triggerExecution"])
    reader = BinlogStreamReader({"path": log})
    reader.initialOffset()
    calls, prev = [], None
    with ctx.tracer.span("binlog_source.latestOffset"):
        while True:
            t0 = time.perf_counter()
            end = reader.latestOffset()
            calls.append((time.perf_counter() - t0) * 1e3)
            if end == prev:
                break
            prev = end
    return rows / (ms / 1e3), median(calls)
