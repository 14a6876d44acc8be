"""Application boot (python -m xxt_cdc_spark): config validation,
dry-run, and the file-envelope → latest-state-mirror pipeline with the
management API live (reference CDCApplication.scala:16-96 parity)."""

from __future__ import annotations

import json
import urllib.request

from xxt_cdc_spark.__main__ import build_parser, main, run_pipeline
from xxt_cdc_spark.changefeed import orders_changefeed, to_envelope
from xxt_cdc_spark.config import load_config


def _write_config(tmp_path, **over):
    cfg = {"checkpoint_dir": str(tmp_path / "ck"), **over}
    p = tmp_path / "cdc.json"
    p.write_text(json.dumps(cfg))
    return str(p)


class TestBoot:
    def test_dry_run_valid(self, tmp_path, capsys):
        rc = main(["--config", _write_config(tmp_path), "--dry-run"])
        assert rc == 0
        assert json.loads(capsys.readouterr().out)["config"] == "valid"

    def test_invalid_config_fails_loudly(self, tmp_path):
        rc = main(["--config", _write_config(tmp_path, parallelism={"partition_count": 0}), "--dry-run"])
        assert rc == 1

    def test_unknown_key_rejected(self, tmp_path):
        rc = main(["--config", _write_config(tmp_path, partition_cnt=3), "--dry-run"])
        assert rc == 1

    def test_missing_dirs_without_dry_run(self, tmp_path):
        rc = main(["--config", _write_config(tmp_path)])
        assert rc == 2

    def test_pipeline_converges_and_api_serves(self, spark, sf_dir, tmp_path):
        env = to_envelope(orders_changefeed(spark, sf_dir)).orderBy("pos_offset")
        src = tmp_path / "envelopes"
        src.mkdir()
        rows = [r.asDict() for r in env.collect()]
        with open(src / "all.json", "w") as f:
            for r in rows:
                r["ts"] = r["ts"].isoformat() if r["ts"] else None
                f.write(json.dumps(r) + "\n")

        cfg = load_config(
            _write_config(tmp_path, parallelism={"partition_count": 8})
        )
        args = build_parser().parse_args(
            ["--config", "ignored", "--envelope-dir", str(src),
             "--state-dir", str(tmp_path / "mirror"), "--available-now"]
        )
        query, state, server, api = run_pipeline(cfg, args, spark=spark)
        try:
            query.awaitTermination(300)
            # mirror converges to LWW latest state: inserts+updates minus deletes
            from xxt_cdc_spark.operators.apply import apply_changes

            expected = apply_changes(
                spark.read.parquet(f"{sf_dir}/orders.parquet"),
                orders_changefeed(spark, sf_dir),
                ["o_orderkey"],
                ["pos_offset"],
            ).count()
            got = state.read()
            assert got.count() == expected
            # payload is the latest after-image JSON per key
            one = got.limit(1).first()
            assert one.table == "orders" and json.loads(one.after)
            # management API is live while the engine runs
            _, port = server.server_address
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}/api/v1/components", timeout=5
            ) as r:
                comp = json.loads(r.read().decode())["components"]
            assert comp["pipeline"] == "RUNNING"
        finally:
            server.shutdown()


class TestBootOverBinlogTransport:
    def test_pipeline_on_binlog_source_with_seek(self, spark, tmp_path):
        """App boot on the source-owned-offset transport: --binlog-dir
        + --starting-position seeks past the already-applied prefix."""
        from xxt_cdc_spark.streaming.binlog_source import BinlogLogWriter

        log = tmp_path / "binlog"
        w = BinlogLogWriter(str(log))

        def rec(k, v):
            return {
                "db": "d", "table": "t", "op": "I", "ts": None, "gtid": None,
                "key": json.dumps({"id": k}), "before": None,
                "after": json.dumps({"id": k, "v": v}),
            }

        w.append([rec(k, k) for k in range(10)])
        seek_file, seek_off = w.current, None
        from xxt_cdc_spark.streaming.binlog_source import _complete_end
        import os

        seek_off = _complete_end(os.path.join(str(log), w.current))
        w.append([rec(k, k) for k in range(10, 25)])

        cfg = load_config(_write_config(tmp_path))
        args = build_parser().parse_args(
            [
                "--config", _write_config(tmp_path),
                "--binlog-dir", str(log),
                "--starting-position", f"file:{seek_file}:{seek_off}",
                "--state-dir", str(tmp_path / "mirror"),
                "--available-now",
            ]
        )
        query, state, server, api = run_pipeline(cfg, args, spark=spark)
        try:
            query.awaitTermination(120)
            _, port = server.server_address
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}/api/v1/metrics", timeout=5
            ) as r:
                served = json.loads(r.read().decode())
        finally:
            server.shutdown()
        keys = sorted(
            json.loads(r.key)["id"] for r in state.read().select("key").collect()
        )
        assert keys == list(range(10, 25))  # pre-seek prefix skipped
        # the endpoint reads the query, not the empty snapshot it was built with
        assert served["events_ingested"] == 15
        assert served["batches"] >= 1

    def test_mutually_exclusive_transports(self, tmp_path):
        rc = main(
            [
                "--config", _write_config(tmp_path),
                "--envelope-dir", "/x", "--binlog-dir", "/y",
                "--state-dir", "/z",
            ]
        )
        assert rc == 2
