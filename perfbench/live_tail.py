"""``live_tail``: the streaming tail under an open-loop load.

``loadgen.py`` appends I/U/D records over a 20k-key space at a fixed
rate to the binlog; ``CDCStreamPipeline`` over ``read_binlog_stream``
applies them with the product's default 1 s trigger and
``low_latency_apply_fn`` (driver-side Arrow collect, one vectorized
writer) into sqlite.

One query and one generator run through a warm-up period and then the
measured window of ``--seconds``; only events due inside the window
count. Each event's lag runs from its due time to the return of the
``foreachBatch`` call that applied it: the batch is found by mapping the
query progress' ``endOffset`` onto the generator's byte offsets.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np

from xxt_cdc_spark.streaming.binlog_source import read_binlog_stream
from xxt_cdc_spark.streaming.pipeline import CDCStreamPipeline, low_latency_apply_fn

from perfbench import layers, sink
from perfbench.bootstrap import PAYLOAD_DDL
from perfbench.probe import TreeMeter, median

RATE = 5000.0  # events/s; about half busy on local[3]
WARM_S = 20.0  # warm-up before the window: the cold backlog, codegen, JIT
LEAD_S = 1.5  # the generator's start-up before its first due time
DRAIN_TIMEOUT_S = 60.0
TAIL_BATCHES = 10  # micro-batches that must lie beyond the tail percentile
PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
          "triggerExecution")


def now() -> float:
    return time.clock_gettime(time.CLOCK_MONOTONIC)


def _sleep_until(t: float) -> None:
    while (dt := t - now()) > 0:
        time.sleep(min(dt, 0.5))


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        p = json.loads(p.json)
        src = (p.get("sources") or [{}])[0]
        end = src.get("endOffset")
        end = json.loads(end) if isinstance(end, str) else end
        out.append({"batch": p["batchId"], "rows": int(p.get("numInputRows") or 0),
                    "end": int(end["pos"]) if end else 0, "ms": p.get("durationMs") or {}})
    return out


def _committed(q) -> int:
    return max((p["end"] for p in _progress(q)), default=0)


def run(ctx, t_start: float) -> dict:
    spark, d, tracer = ctx.spark, ctx.work, ctx.tracer
    log, db = os.path.join(d, "log"), os.path.join(d, "target.db")
    spans_dir, dead_dir = os.path.join(d, "spans"), os.path.join(d, "dead")
    os.makedirs(log)
    os.makedirs(spans_dir)
    open(os.path.join(log, "binlog.000001"), "w").close()
    sink.make_target(db)
    plain, timed = sink.writer_factory(db), sink.writer_factory(db, spans_dir)
    # the writer of each batch is chosen when the batch runs: only
    # batches that run with tracing on pay for the writer's spans
    batch_traced = {"on": False}
    inner = low_latency_apply_fn(
        lambda: timed() if batch_traced["on"] else plain(),
        ["o_orderkey"],
        payload_expr=f"from_json(coalesce(after, before), '{PAYLOAD_DDL}')",
        dead_letter_dir=dead_dir,
    )
    done: dict[int, float] = {}  # batch id -> return of its foreachBatch call
    # traced batches: foreachBatch ms, writer ms, statements, retries
    sink_ms: dict[int, tuple[float, float, int, int]] = {}

    def apply_fn(df, batch_id: int) -> None:
        t0 = now()
        with tracer.span("sinks.foreach_batch", batch=batch_id) as sp:
            batch_traced["on"] = sp is not None
            inner(df, batch_id)
        t1 = now()
        done[batch_id] = t1
        if sp is not None:
            spans = sink.drain_spans(spans_dir)
            tracer.add(spans, sp["id"])
            sink_ms[batch_id] = (
                (t1 - t0) * 1e3,
                sum(s["end"] - s["start"] for s in spans) * 1e3,
                sum(s["statements"] for s in spans),
                sum(s["retries"] for s in spans),
            )

    pipe = CDCStreamPipeline(
        spark=spark,
        source=read_binlog_stream(spark, log, starting_position="earliest"),
        apply_fn=apply_fn,
        checkpoint_dir=os.path.join(d, "ckpt"),
    )
    q = pipe.start()
    out = os.path.join(d, "gen.npz")
    start = now() + LEAD_S
    # a traced run measures one window untraced and then one traced: the
    # difference is the tracing overhead
    w0 = start + WARM_S
    wm = w0 + ctx.seconds
    w1 = wm + ctx.seconds if ctx.trace else wm
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
         "--log", log, "--out", out, "--seed", str(ctx.seed), "--rate", str(RATE),
         "--seconds", str(w1 - start), "--start", repr(start)],
    )
    try:
        tracer.enabled = False
        _sleep_until(w0)
        setup_s = now() - t_start
        with TreeMeter(exclude=frozenset({gen.pid})) as meter:
            _sleep_until(wm)
            tracer.enabled = ctx.trace
            mark = ctx.counters.mark() if ctx.trace else None
            _sleep_until(w1)
            counters = ctx.counters.since(mark) if ctx.trace else None
        gen.wait(timeout=60)
        if gen.returncode != 0:
            raise RuntimeError(f"load generator exited with {gen.returncode}")
        g = np.load(out)
        final = int(g["end_off"][-1])
        deadline = now() + DRAIN_TIMEOUT_S
        while _committed(q) < final and now() < deadline and q.isActive:
            time.sleep(0.2)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        q.stop()
    prog = sorted((p for p in _progress(q) if p["rows"]), key=lambda p: p["batch"])
    return _report(ctx, g, prog, done, sink_ms, counters, log, db, dead_dir, (w0, wm, w1),
                   setup_s, meter)


def _tail(lag_ms: np.ndarray, batch: np.ndarray) -> tuple[float, float]:
    """The lag at the highest percentile beyond which the events of at
    least ``TAIL_BATCHES`` micro-batches lie, and that percentile.
    Events of one batch share a commit, so a tail that a few slow
    batches fill says little: walking down from the largest lag, the
    value is where the eleventh distinct batch first appears, so ten
    lie beyond it."""
    order = np.argsort(-lag_ms, kind="stable")
    seen: set[int] = set()
    for rank, i in enumerate(order):
        seen.add(int(batch[i]))
        if len(seen) > TAIL_BATCHES:
            return float(lag_ms[i]), 100.0 * (1 - rank / len(lag_ms))
    raise ValueError(f"fewer than {TAIL_BATCHES} micro-batches in the window")


def _report(ctx, g, prog, done, sink_ms, counters, log, db, dead_dir, window, setup_s,
            meter) -> dict:
    due, end_off = g["due"], g["end_off"]
    ends = np.array([p["end"] for p in prog])
    finished = np.array([done.get(p["batch"], np.inf) for p in prog] + [np.inf])
    # the batch of each event: the first whose end offset covers its record
    idx = np.searchsorted(ends, end_off, side="left")
    applied = idx < len(prog)
    lag_ms = (finished[idx] - due) * 1e3

    expected = {int(k): tuple(v) for k, v in json.loads(str(g["live"])).items()}
    dead = 0
    if os.path.isdir(dead_dir):
        for name in os.listdir(dead_dir):
            with open(os.path.join(dead_dir, name)) as f:
                dead += sum(1 for _ in f)
    failed = sink.mismatches(db, expected) + dead + int((~applied).sum())
    out = {"attempted": int(len(due)), "failed": int(failed), "e2e": {}, "layers": {}}
    if failed:
        return out

    w0, wm, w1 = window
    in_w = (due >= w0) & (due < wm)
    lw = lag_ms[in_w]
    if ctx.trace:
        _layers(ctx, out, g, prog, sink_ms, counters, log, idx, in_w, lag_ms, window)
        return out
    tail, _ = _tail(lw, idx[in_w])
    # sustained apply rate: rows of the batches that finished in the
    # window after its first one, over the time between their returns
    fin = [(done[p["batch"]], p["rows"]) for p in prog
           if p["batch"] in done and w0 <= done[p["batch"]] < wm]
    out["e2e"] = {
        "setup_s": (setup_s, "s"),
        "cpu_s": (meter.cpu_s, "s"),
        "peak_rss_mb": (meter.peak_rss / 2**20, "MB"),
        "throughput_eps": (sum(r for _, r in fin[1:]) / (fin[-1][0] - fin[0][0]), "1/s"),
        "lag_p50_ms": (float(np.percentile(lw, 50)), "ms"),
        "lag_tail_ms": (tail, "ms"),
    }
    return out


def _layers(ctx, out, g, prog, sink_ms, counters, log, idx, in_w, lag_ms, window) -> None:
    """Per-layer metrics from the traced second half of the window; the
    untraced first half is the baseline of the tracing overhead."""
    due = g["due"]
    w0, wm, w1 = window
    lw = lag_ms[in_w]
    lt = lag_ms[(due >= wm) & (due < w1)]
    traced = [p for p in prog if p["batch"] in sink_ms]
    fb = [sink_ms[p["batch"]][0] for p in traced]
    wr = [sink_ms[p["batch"]][1] for p in traced]
    L = out["layers"] = layers.blank()
    # means, not medians: the phases of a batch add up to its
    # triggerExecution, and their means do too
    for ph in PHASES:
        layers.put(L, f"pipeline.{ph}_mean_ms",
                   sum(float(p["ms"].get(ph, 0.0)) for p in traced) / len(traced))
    layers.put(L, "pipeline.batches", len(traced))
    layers.put(L, "pipeline.rows_per_batch", median([p["rows"] for p in traced]))
    layers.put(L, "pipeline.busy_fraction", sum(
        float(p["ms"].get("triggerExecution", 0.0)) for p in traced) / 1e3 / (w1 - wm))
    layers.put(L, "sinks.foreach_batch_ms", median(fb))
    layers.put(L, "sinks.writer_ms", median(wr))
    layers.put(L, "sinks.collect_ms", median([a - b for a, b in zip(fb, wr)]))
    layers.put(L, "sinks.statements_per_event", sum(sink_ms[p["batch"]][2] for p in traced)
               / sum(p["rows"] for p in traced))
    layers.put(L, "sinks.retries", sum(sink_ms[p["batch"]][3] for p in traced))
    layers.put_spark(L, [counters])
    in_t = (due >= wm) & (due < w1)
    layers.put(L, "live.tail_pct", _tail(lt, idx[in_t])[1])
    layers.put(L, "live.window_batches", len(set(idx[in_t].tolist())))
    layers.put(L, "live.generator_late_p99_ms", np.percentile(g["late"], 99) * 1e3)
    eps, latest_ms = layers.binlog_source(ctx, log)
    layers.put(L, "binlog_source.decode_eps", eps)
    layers.put(L, "binlog_source.latestOffset_ms", latest_ms)
    untraced = np.percentile(lw, 50)
    layers.put(L, "trace.overhead_pct", 100.0 * (np.percentile(lt, 50) - untraced) / untraced)
