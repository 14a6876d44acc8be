#!/usr/bin/env python
"""Sub-second trigger experiment for the Python foreachBatch apply
posture (r10 VERDICT item 4 — the last unmeasured lever on the 280 ms
P50 gate miss).

The standing stream phase drains 32 pre-written files with
availableNow + maxFilesPerTrigger=1, so each batch carries ~1/32 of the
sf0.1 changefeed (~7k rows) and its triggerExecution P50 bundles the
row-dependent apply cost with the fixed micro-batch floor (offset/
commit-log writes + Python dispatch). A LIVE pipeline does not have to
take 7k-row bites: with a processingTime trigger of T ms against a
steady input rate, the per-batch row count shrinks with T while the
fixed floor stays constant — this tool measures where that trade lands.

Posture matches the bench latency pass exactly (typed single-parse
envelope source -> driver-side vectorized apply with LWW collapse,
sqlite PK-upsert target, shuffle.partitions=4): one feeder thread
appends one JSON file every T ms (each file = rate*T/1000 events,
round-robin over the changefeed), the stream runs trigger(
processingTime=T), and per-batch durationMs.triggerExecution
percentiles + achieved events/s come from recentProgress — the same
metric the bench and BASELINE gate read.

Usage: python tools/trigger_curve.py [triggers_ms_csv] [rate_eps] [secs]
Defaults: 1000,500,250 / 5000 events/s / 25 s per point. One JSON line
per trigger setting. Run each invocation on an otherwise idle box.
"""

from __future__ import annotations

import json
import os
import sqlite3
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PAYLOAD_DDL = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate string, o_orderpriority string"
)


def _changefeed_rows(spark, sf_dir: str) -> list[str]:
    """The sf changefeed as typed-envelope JSON lines (nested row
    images, the Debezium wire shape the typed source single-parses)."""
    from xxt_cdc_spark.changefeed import orders_changefeed, to_envelope

    env = to_envelope(orders_changefeed(spark, sf_dir)).orderBy("pos_offset")
    out = []
    for r in env.collect():
        d = r.asDict()
        d["ts"] = d["ts"].isoformat() if d["ts"] else None
        for c in ("before", "after"):
            d[c] = json.loads(d[c]) if d[c] else None
        out.append(json.dumps(d))
    return out


def _parse_ts(ts: str | None) -> float | None:
    """StreamingQueryProgress 'timestamp' (ISO-8601, trailing Z) ->
    epoch seconds, None when absent/unparseable."""
    if not ts:
        return None
    try:
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(ts.replace("Z", "+00:00"))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.timestamp()
    except ValueError:
        return None


def _rate_span(batches, measured, trigger_ms, secs):
    """Denominator for the achieved-rate read: the ARRIVAL window of
    the measured batches' rows.

    The first measured batch's rows arrived during the trigger
    interval BEFORE its start timestamp, so the span is anchored at
    the previous (warm-up) batch's start — anchoring at the first
    measured start shrank the denominator by one interval and
    overstated the rate ~11% at few-batch counts (r12 ADVICE) —
    CLAMPED to one trigger interval before the first measured start: a
    slow warm-up batch (duration > trigger interval) would otherwise
    stretch the denominator past the arrival window and UNDERSTATE the
    rate (r13 ADVICE: 4348 vs true 5000 ev/s at tiny batch counts).
    Falls back to the nominal run duration when timestamps are absent.
    """
    span = 0.0
    if measured and measured[0][0] is not None and measured[-1][0] is not None:
        prev = batches[2] if len(batches) > 3 else None
        fallback_start = measured[0][0] - trigger_ms / 1000.0
        if prev is not None and prev[0] is not None:
            span_start = max(prev[0], fallback_start)
        else:
            span_start = fallback_start
        span = (measured[-1][0] - span_start) + measured[-1][1] / 1000.0
    if span <= 0:  # timestamps unavailable: fall back to nominal duration
        span = secs
    return span


def run_point(spark, lines: list[str], trigger_ms: int, rate_eps: int, secs: float) -> dict:
    from xxt_cdc_spark.obs.metrics import percentile
    from xxt_cdc_spark.sinks.upsert import JdbcUpsertWriter, apply_batch
    from xxt_cdc_spark.streaming.pipeline import (
        CDCStreamPipeline,
        read_typed_envelope_stream,
    )

    ORDERS_PAYLOAD = [
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    ]
    per_file = max(1, int(rate_eps * trigger_ms / 1000))
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        db = os.path.join(tmp, "t.db")
        con = sqlite3.connect(db)
        con.execute(
            "CREATE TABLE orders (o_orderkey INTEGER PRIMARY KEY, o_custkey INTEGER,"
            " o_orderstatus TEXT, o_totalprice REAL, o_orderdate TEXT, o_orderpriority TEXT)"
        )
        con.commit()
        con.close()

        def apply_fn(batch_df, _id):
            typed = batch_df.selectExpr(
                "op", "pos_file", "pos_offset", "coalesce(after, before) p"
            ).selectExpr("op", "pos_file", "pos_offset", "p.*")
            apply_batch(
                typed,
                lambda: JdbcUpsertWriter(
                    connect_fn=lambda: sqlite3.connect(db, timeout=60),
                    table="orders",
                    columns=ORDERS_PAYLOAD,
                    key_cols=["o_orderkey"],
                    dialect="sqlite",
                    batch_size=5000,
                    connection_init=[
                        "PRAGMA journal_mode=WAL",
                        "PRAGMA synchronous=OFF",
                    ],
                ),
                ["o_orderkey"],
                ["pos_offset"],
                num_partitions=None,
                collapse=True,
                driver_apply=True,
            )

        stop = threading.Event()

        def feeder():
            i = 0
            cursor = 0
            # one file per trigger interval, written atomically (tmp +
            # rename) so a half-written file is never listed
            while not stop.is_set():
                chunk = [lines[(cursor + j) % len(lines)] for j in range(per_file)]
                cursor = (cursor + per_file) % len(lines)
                p = os.path.join(src, f"f{i:06d}.json")
                with open(p + ".tmp", "w") as f:
                    f.write("\n".join(chunk) + "\n")
                os.rename(p + ".tmp", p)
                i += 1
                stop.wait(trigger_ms / 1000.0)

        th = threading.Thread(target=feeder, daemon=True)
        th.start()
        pipe = CDCStreamPipeline(
            spark=spark,
            source=read_typed_envelope_stream(
                spark, src, PAYLOAD_DDL, max_files_per_trigger=64
            ),
            apply_fn=apply_fn,
            checkpoint_dir=os.path.join(tmp, "ck"),
            trigger_interval=f"{trigger_ms} milliseconds",
        )
        q = pipe.start()
        time.sleep(secs)
        stop.set()
        q.stop()
        q.awaitTermination(60)
        th.join(5)

        batches = []  # (start_ts, duration_ms, rows) per non-empty batch
        for p in q.recentProgress:
            if not isinstance(p, dict):
                j = p.json() if callable(getattr(p, "json", None)) else p.json
                p = json.loads(j)
            if p.get("numInputRows"):
                batches.append(
                    (
                        _parse_ts(p.get("timestamp")),
                        float(p["durationMs"]["triggerExecution"]),
                        p["numInputRows"],
                    )
                )
        measured = batches[3:]  # JIT warm-up skip
        durs = [b[1] for b in measured]
        rows = sum(b[2] for b in measured)
        span = _rate_span(batches, measured, trigger_ms, secs)
        return {
            "trigger_ms": trigger_ms,
            "rate_eps": rate_eps,
            "rows_per_batch": per_file,
            "batches": len(durs),
            "p50_ms": percentile(durs, 0.5),
            "p95_ms": percentile(durs, 0.95),
            "p99_ms": percentile(durs, 0.99),
            "events_per_sec": round(rows / span) if measured else 0,
        }


def main() -> None:
    triggers = (
        [int(t) for t in sys.argv[1].split(",")] if len(sys.argv) > 1 else [1000, 500, 250]
    )
    rate = int(sys.argv[2]) if len(sys.argv) > 2 else 5000
    secs = float(sys.argv[3]) if len(sys.argv) > 3 else 25.0
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from xxt_cdc_spark.session import get_spark

    spark = get_spark(
        "trigger-curve", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "400")
    lines = _changefeed_rows(spark, sf_dir)
    try:
        # untimed warm point: compiles the plan + Python worker pool so
        # point 1's percentiles are not JIT-cold
        run_point(spark, lines, 500, 2000, 8.0)
        for t in triggers:
            print(json.dumps(run_point(spark, lines, t, rate, secs)), flush=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.stop()


if __name__ == "__main__":
    main()
