"""Application entry point: ``python -m xxt_cdc_spark``.

Parity target: CDCApplication boot (reference CDCApplication.scala:16-96
— load config → validate → build engine → start management API → run).

Since the image has no MySQL/Kafka, the runnable replication mode here
is the file-envelope transport into a generic parquet latest-state
mirror: a directory of change-event JSON (CHANGE_EVENT_SCHEMA lines)
streams through the T5 filter and the LWW apply into a bucket-pruned
ParquetStateTable keyed by (db, table, key) — a queryable
"latest row image per key" mirror for ANY table mix, no per-table
schema required. The management API serves /api/v1/* and /metrics
while the pipeline runs. Swap the source for Kafka/Debezium
(read_kafka_envelope_stream) and the sink for JdbcUpsertWriter
dialects in a real deployment.

Usage:
  python -m xxt_cdc_spark --config cdc.toml --dry-run
  python -m xxt_cdc_spark --config cdc.toml \\
      --envelope-dir /data/changes --state-dir /data/mirror \\
      --available-now --api-port 8080
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="xxt_cdc_spark")
    ap.add_argument("--config", required=True, help="TOML or JSON CDCConfig file")
    ap.add_argument("--dry-run", action="store_true", help="validate config and exit")
    ap.add_argument("--envelope-dir", help="directory of change-event JSON lines (file transport)")
    ap.add_argument(
        "--binlog-dir",
        help="rotated binlog directory (xxt_binlog source-owned-offset transport; "
        "mutually exclusive with --envelope-dir)",
    )
    ap.add_argument(
        "--starting-position",
        help="binlog seek: earliest | latest | file:<name>:<off> (binlog transport only)",
    )
    ap.add_argument(
        "--starting-gtids",
        help="binlog GTID-mode seek: executed GTID set to skip (binlog transport only)",
    )
    ap.add_argument("--state-dir", help="parquet latest-state mirror root")
    ap.add_argument("--api-port", type=int, default=0, help="management API port (0 = ephemeral)")
    ap.add_argument(
        "--available-now", action="store_true",
        help="drain currently-available input then exit (catchup mode, C28/T8)",
    )
    return ap


def run_pipeline(cfg, args, spark=None):
    """Assemble and run the file-envelope → state-mirror pipeline.
    Returns (query, state_table, api_server, api) for the caller to
    manage (tests drive this directly; main() blocks on the query). Every
    request to the API reads the running query's progress."""
    from pyspark.sql import functions as F

    from xxt_cdc_spark.api import ManagementAPI
    from xxt_cdc_spark.model.states import CDCState
    from xxt_cdc_spark.obs.metrics import MetricsSnapshot, snapshot_from_query
    from xxt_cdc_spark.operators.table_filter import TableFilter
    from xxt_cdc_spark.session import get_spark
    from xxt_cdc_spark.sinks.parquet_state import ParquetStateTable
    from xxt_cdc_spark.streaming.pipeline import CDCStreamPipeline, read_envelope_stream

    spark = spark or get_spark("xxt-cdc")
    state = ParquetStateTable(
        spark, args.state_dir, key_cols=["db", "table", "key"],
        n_buckets=cfg.parallelism.partition_count,
    )
    if not state.exists():
        state.init(
            spark.createDataFrame(
                [],
                "db string, table string, key string, after string,"
                " pos_file string, pos_offset long",
            )
        )

    def apply_fn(batch_df, _batch_id) -> None:
        state.apply(
            batch_df.select(
                "db", "table", "key", "after", "pos_file", "pos_offset", "op"
            ),
            order_cols=["pos_file", "pos_offset"],
        )

    table_filter = None
    if cfg.include_databases or cfg.exclude_databases or cfg.include_tables or cfg.exclude_tables:
        table_filter = TableFilter(
            cfg.include_databases, cfg.exclude_databases,
            cfg.include_tables, cfg.exclude_tables,
        )
    if getattr(args, "binlog_dir", None):
        from xxt_cdc_spark.streaming.binlog_source import read_binlog_stream

        source = read_binlog_stream(
            spark,
            args.binlog_dir,
            starting_position=getattr(args, "starting_position", None),
            starting_gtids=getattr(args, "starting_gtids", None),
        )
    else:
        source = read_envelope_stream(spark, args.envelope_dir)
    pipe = CDCStreamPipeline(
        spark=spark,
        source=source,
        apply_fn=apply_fn,
        checkpoint_dir=cfg.checkpoint_dir,
        table_filter=table_filter,
        trigger_interval=f"{cfg.parallelism.flush_interval_s} second",
    )
    query = pipe.start(available_now=args.available_now)

    from dataclasses import asdict

    api = ManagementAPI(
        metrics=MetricsSnapshot(),
        state=CDCState.STREAMING,
        components={"pipeline": "RUNNING", "state_mirror": args.state_dir},
        config=asdict(cfg),
        poll=lambda: snapshot_from_query(query),
    )
    server = api.start(port=args.api_port)
    return query, state, server, api


def main(argv=None) -> int:
    from xxt_cdc_spark.config import load_config

    args = build_parser().parse_args(argv)
    try:
        cfg = load_config(args.config)
    except (ValueError, OSError) as e:
        print(f"config error: {e}", file=sys.stderr)
        return 1
    if args.dry_run:
        print(json.dumps({"config": "valid", "checkpoint_dir": cfg.checkpoint_dir}))
        return 0
    if (not args.envelope_dir and not args.binlog_dir) or not args.state_dir:
        print(
            "--state-dir and one of --envelope-dir/--binlog-dir are required unless --dry-run",
            file=sys.stderr,
        )
        return 2
    if args.envelope_dir and args.binlog_dir:
        print("--envelope-dir and --binlog-dir are mutually exclusive", file=sys.stderr)
        return 2

    from xxt_cdc_spark.session import get_spark

    spark = get_spark("xxt-cdc")
    query, state, server, api = run_pipeline(cfg, args, spark=spark)
    try:
        query.awaitTermination()
        return 0
    finally:
        server.shutdown()
        # a session left running leaves its Unix socket file behind
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
