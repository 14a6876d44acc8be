"""``bootstrap``: the snapshot → catchup watermark protocol in bulk.

``CDCEngine.start(enable_snapshot=True)`` over a seeded 150k-row
``orders`` snapshot (parquet) and a 75,975-event update/delete
changelog replayed through the ``xxt_binlog`` batch reader; apply is
the distributed ``apply_batch`` (LWW collapse + hash route over two
partitions) into a fresh sqlite PK table per run.

The changelog is the non-insert part of the package's own
``orders_changefeed`` over the snapshot, in its position order: 50,000
updates (every 3rd key), 4,546 redelivered updates (keys divisible by
33) and 21,429 deletes (every 7th key).

The binlog is written during set-up. The engine's position callback
reports the log's start until the snapshot has been read and its end
afterwards: the changelog "lands during the snapshot", which is the
overlap the watermark protocol absorbs, without paying the write in
the timed region.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from xxt_cdc_spark.changefeed import orders_changefeed, to_envelope
from xxt_cdc_spark.engine import CDCEngine
from xxt_cdc_spark.sinks.upsert import apply_batch
from xxt_cdc_spark.streaming.binlog_source import BinlogLogWriter, register

from perfbench import datagen, layers, sink
from perfbench.probe import TreeMeter, median

N_SNAPSHOT = 150_000
N_CHANGES = 75_975
EVENTS = N_SNAPSHOT + N_CHANGES
WARM_RUNS = 4
MIN_REPS = 2
PAYLOAD_DDL = (
    "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double,"
    " o_orderdate string, o_orderpriority string"
)


class Bootstrap:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.dir = ctx.work

    # -- set-up ---------------------------------------------------------------
    def prepare(self) -> None:
        spark = self.ctx.spark
        rng = np.random.default_rng(self.ctx.seed)
        os.makedirs(self.dir, exist_ok=True)
        table = datagen.orders_table(rng, N_SNAPSHOT, N_SNAPSHOT // 10)
        self.parquet = os.path.join(self.dir, "orders.parquet")
        pq.write_table(table, self.parquet)
        self.expected = datagen.orders_converged(table)
        cf = orders_changefeed(spark, self.dir).filter(F.col("op") != "I").withColumn(
            "o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
        env = to_envelope(cf, db="shop", ts_col=None).orderBy("pos_offset")
        records = env.drop("pos_file", "pos_offset").toArrow().to_pylist()
        if len(records) != N_CHANGES:
            raise RuntimeError(f"changelog has {len(records)} events, not {N_CHANGES}")
        self.log = os.path.join(self.dir, "log")
        self.log_file, self.log_end = BinlogLogWriter(self.log).append(records)
        register(spark)

    # -- one bootstrap -------------------------------------------------------
    def once(self, tag: str, traced: bool = False, check: bool = True) -> dict:
        """Run the whole protocol into a fresh target; returns timings,
        sink totals and (with ``check``) the number of wrong target rows."""
        spark, tracer = self.ctx.spark, self.ctx.tracer
        tracer.enabled = traced
        db = os.path.join(self.dir, f"{tag}.db")
        ckpt = os.path.join(self.dir, f"{tag}.ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        sink.make_target(db)
        spans_dir = os.path.join(self.dir, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        factory = sink.writer_factory(db, spans_dir if traced else None)
        visible = {"end": 0}
        t: dict = {"source_s": 0.0, "apply": [], "totals": [], "counters": [], "writer_s": 0.0}

        def current_position():
            return (self.log_file, visible["end"])

        def snapshot_source():
            t0 = time.monotonic()
            df = spark.read.parquet(self.parquet).select(
                F.lit("I").alias("op"),
                F.lit("").alias("pos_file"),
                F.lit(0).cast("long").alias("pos_offset"),
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
                "o_orderpriority",
            )
            visible["end"] = self.log_end  # the changelog landed during the scan
            t["source_s"] += time.monotonic() - t0
            return df

        def changelog(lo, hi):
            return (
                spark.read.format("xxt_binlog").option("path", self.log)
                .option("lowerBound", f"file:{lo[0]}:{lo[1]}")
                .option("upperBound", f"file:{hi[0]}:{hi[1]}")
                .load()
                .select("op", "pos_file", "pos_offset",
                        F.from_json(F.coalesce("after", "before"), PAYLOAD_DDL).alias("p"))
                .select("op", "pos_file", "pos_offset", "p.*")
            )

        def apply_fn(df):
            phase = "snapshot" if not t["apply"] else "catchup"
            mark = self.ctx.counters.mark() if traced else None
            t0 = time.monotonic()
            with tracer.span(f"sinks.apply_batch.{phase}") as sp:
                totals = apply_batch(df, factory, ["o_orderkey"], ["pos_file", "pos_offset"],
                                     num_partitions=2, arrow=True)
            t["apply"].append((t0, time.monotonic()))
            t["totals"].append(totals)
            if traced:
                t["counters"].append(self.ctx.counters.since(mark))
                spans = sink.drain_spans(spans_dir)
                t["writer_s"] += sum(s["end"] - s["start"] for s in spans)
                tracer.add(spans, sp["id"])

        engine = CDCEngine(spark=spark, snapshot_source=snapshot_source, changelog=changelog,
                           current_position=current_position, apply_fn=apply_fn,
                           checkpoint_dir=ckpt)
        mark = self.ctx.counters.mark() if traced else None
        with TreeMeter() as meter:
            t0 = time.monotonic()
            with tracer.span("engine.start"):
                stats = engine.start(enable_snapshot=True)
            wall = time.monotonic() - t0
        spark_counters = self.ctx.counters.since(mark) if traced else {}
        bad = sink.mismatches(db, self.expected) if check else 0
        os.remove(db)
        phases = {p["phase"]: p["sec"] for p in stats["phases"]}
        (s0, s1), (c0, c1) = t["apply"]
        return {
            "wall_s": wall, "cpu_s": meter.cpu_s, "peak_rss": meter.peak_rss, "bad_rows": bad,
            "snapshot_s": phases["SNAPSHOT"], "catchup_s": phases["CATCHUP"],
            "snapshot_source_s": t["source_s"], "snapshot_apply_s": s1 - s0,
            "catchup_apply_s": c1 - c0,
            # from the bootstrap's start to the return of each phase's apply
            "snapshot_done_ms": (s1 - t0) * 1e3, "catchup_done_ms": (c1 - t0) * 1e3,
            "totals": t["totals"], "counters": t["counters"], "writer_s": t["writer_s"],
            "spark": spark_counters, "traced": traced,
        }


def _log(label: str, r: dict) -> None:
    print(f"{label}: {r['wall_s']:.3f} s wall, {r['cpu_s']:.2f} s CPU", file=sys.stderr)


def run(ctx, t_start: float) -> dict:
    b = Bootstrap(ctx)
    b.prepare()
    # warm-up at full size into throwaway targets (codegen, JIT, Python
    # workers): CPU per bootstrap falls until the third or fourth
    for i in range(WARM_RUNS):
        _log(f"warm-up {i + 1}", b.once(f"warm{i}", check=False))
    setup_s = time.monotonic() - t_start

    # --seconds of timed bootstrap work: the correctness check and the
    # target's set-up between bootstraps do not use up the window
    reps: list[dict] = []
    while len(reps) < MIN_REPS or sum(r["wall_s"] for r in reps) < ctx.seconds:
        # a traced run alternates untraced and traced bootstraps
        reps.append(b.once(f"rep{len(reps)}", traced=ctx.trace and len(reps) % 2 == 1))
        _log(f"bootstrap {len(reps)}", reps[-1])
    failed = sum(r["bad_rows"] + sum(t["failures"] for t in r["totals"]) for r in reps)
    out = {"attempted": EVENTS * len(reps), "failed": failed, "e2e": {}, "layers": {}}
    if failed:
        return out
    plain = [r for r in reps if not r["traced"]]
    out["e2e"] = {
        "setup_s": (setup_s, "s"),
        "cpu_s": (median([r["cpu_s"] for r in plain]), "s"),
        "peak_rss_mb": (median([r["peak_rss"] for r in plain]) / 2**20, "MB"),
        "throughput_eps": (median([EVENTS / r["wall_s"] for r in plain]), "1/s"),
        # a bulk job has no per-event lag distribution: here the two lag
        # names carry the completion times of the snapshot and of catchup
        "lag_p50_ms": (median([r["snapshot_done_ms"] for r in plain]), "ms"),
        "lag_tail_ms": (median([r["catchup_done_ms"] for r in plain]), "ms"),
    }
    if ctx.trace:
        ctx.tracer.enabled = True
        out["layers"] = _layers(ctx, b, [r for r in reps if r["traced"]], plain)
    return out


def _layers(ctx, b: Bootstrap, traced: list[dict], plain: list[dict]) -> dict:
    def med(key):
        return median([r[key] for r in traced])

    L = layers.blank()
    layers.put(L, "engine.snapshot_s", med("snapshot_s"))
    layers.put(L, "engine.catchup_s", med("catchup_s"))
    # the SNAPSHOT phase minus its source and apply calls: the post-apply
    # snap.count() re-scan and the watermark writes
    layers.put(L, "engine.snapshot_other_s", median([
        r["snapshot_s"] - r["snapshot_source_s"] - r["snapshot_apply_s"] for r in traced]))
    layers.put(L, "sinks.apply_batch_snapshot_s", med("snapshot_apply_s"))
    layers.put(L, "sinks.apply_batch_catchup_s", med("catchup_apply_s"))
    layers.put(L, "sinks.writer_ms", med("writer_s") * 1e3)
    layers.put(L, "sinks.statements_per_event", median([
        sum(t["upserts"] + t["deletes"] for t in r["totals"]) / EVENTS for r in traced]))
    layers.put(L, "sinks.retries", sum(t["retries"] for r in traced for t in r["totals"]))
    # shuffle of the apply calls (collapse + route); the rest of Spark's
    # counters over the whole bootstrap
    layers.put_spark(L, [r["spark"] for r in traced])
    for name in ("shuffle_write_bytes", "shuffle_write_records"):
        layers.put(L, f"operators.{name}", median([
            sum(c[name] for c in r["counters"]) for r in traced]))
    eps, latest_ms = layers.binlog_source(ctx, b.log)
    layers.put(L, "binlog_source.decode_eps", eps)
    layers.put(L, "binlog_source.latestOffset_ms", latest_ms)
    untraced = median([r["wall_s"] for r in plain])
    layers.put(L, "trace.overhead_pct", 100.0 * (med("wall_s") - untraced) / untraced)
    return L
