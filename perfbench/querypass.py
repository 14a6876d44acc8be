"""The query-layer pass that ends each traced run.

Registry queries over a seeded corpus at sf0.05: each is checked once
against the DuckDB oracle (which also warms it), then materialized
once with ``format("noop")`` while the status store is read around it.
This gives the ``queries``/``functions`` layer its per-query numbers;
no timed workload runs these queries (see README.md, "Why there is no
query_mix workload").

The eleven queries are split between the two traced runs, so that
neither exceeds the 180 s limit of one run on a slow host: the traced
``bootstrap`` run ends with the CDC-shaped ones, the traced
``live_tail`` run with the rest. A query the run does not pass reads 0.
"""

from __future__ import annotations

import os
import time

from perfbench import datagen

SF = 0.05
QUERIES = {
    "bootstrap": (
        "q1_pricing_summary",
        "cdc_apply_upsert",
        "cdc_temporal_join",
        "lead_lag_user_gaps",
        "stream_sessionize",
    ),
    "live_tail": (
        "dedup_minhash_lsh",
        "emb_neardup_fast",
        "text_tfidf_topk",
        "range_join_binned_global",
        "sketch_cm_heavy",
        "dq_orders_report",
    ),
}
METRICS = ("wall_s", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes", "jobs")


def run(ctx, queries: tuple[str, ...]) -> tuple[dict[str, float], int]:
    """Per-query metrics keyed ``queries.<name>.<metric>``, and the
    number of queries that raised or did not match the oracle."""
    from xxt_cdc_spark.oracle import compare, duckdb_con
    from xxt_cdc_spark.queries import ORACLE
    from xxt_cdc_spark.queries import QUERIES as REGISTRY

    corpus = os.path.join(ctx.work, "corpus")
    datagen.write_corpus(corpus, ctx.seed, SF)
    con = duckdb_con(corpus)
    failed = 0
    try:
        for name in queries:
            with ctx.tracer.span(f"queries.{name}.oracle"):
                try:
                    ok = compare(name, REGISTRY[name](ctx.spark, corpus), con, ORACLE[name]).ok
                except Exception:  # noqa: BLE001 - a query that raises is a failed operation
                    ok = False
            failed += not ok
    finally:
        con.close()
    out: dict[str, float] = {}
    for name in queries:
        mark = ctx.counters.mark()
        t0 = time.monotonic()
        with ctx.tracer.span(f"queries.{name}"):
            REGISTRY[name](ctx.spark, corpus).write.format("noop").mode("overwrite").save()
        c = dict(ctx.counters.since(mark), wall_s=time.monotonic() - t0)
        for metric in METRICS:
            out[f"queries.{name}.{metric}"] = c[metric]
    return out, failed
