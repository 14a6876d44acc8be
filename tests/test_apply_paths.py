"""The sink writer's apply paths bind identical values, and each public
entry point is one call.

- The executor Arrow path (``apply_batch``) and the driver Arrow path
  (``driver_apply=True``) must land the same target as the writer's
  row API (``apply_rows``) over the same rows in position order. A
  nullable BIGINT past 2**53 must bind exactly (a float64 upcast
  rounds it), a null DOUBLE must bind as None, not
  NaN, and a TIMESTAMP must bind as the naive ``datetime`` in the
  session zone, whatever the host's zone.
- A public ``apply_*`` never calls another public ``apply_*`` through
  ``self``: a subclass timing each entry point (the benchmark's traced
  writer) would otherwise count one apply twice.
"""

from __future__ import annotations

import datetime
import inspect
import json
import os
import sqlite3
import subprocess
import sys
import textwrap

import pandas as pd
import pyarrow as pa
import pytest

from xxt_cdc_spark.sinks.upsert import JdbcUpsertWriter, apply_batch

BIG = 2**53 + 1
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _make_target(path: str) -> None:
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v INTEGER, ts)")
    con.commit()
    con.close()


def _factory(path: str, cls=JdbcUpsertWriter):
    def make():
        return cls(
            connect_fn=lambda: sqlite3.connect(path, timeout=30),
            table="t",
            columns=["k", "v", "ts"],
            key_cols=["k"],
            dialect="sqlite",
            batch_size=2,
        )

    return make


def _capturing_factory(path: str, log: str):
    """Writers for table ``f (k, d)`` that append each bound parameter
    tuple to ``log`` as one JSON line ``[kind, [repr(v), ...]]``. The
    subclass is built inside the factory so an executor can unpickle it
    without importing this module."""

    def make():
        import json as _json
        import sqlite3 as _sq

        from xxt_cdc_spark.sinks.upsert import JdbcUpsertWriter as _W

        class _Capturing(_W):
            def _flush(self, conn, kind, params):
                with open(log, "a") as f:
                    for p in params:
                        f.write(_json.dumps([kind, [repr(v) for v in p]]) + "\n")
                _W._flush(self, conn, kind, params)

        return _Capturing(
            connect_fn=lambda: _sq.connect(path, timeout=30),
            table="f",
            columns=["k", "d"],
            key_cols=["k"],
            dialect="sqlite",
        )

    return make


def _target(path: str) -> list[tuple]:
    con = sqlite3.connect(path)
    try:
        return con.execute("SELECT k, v, ts, typeof(v), typeof(ts) FROM t ORDER BY k").fetchall()
    finally:
        con.close()


class TestArrowPathsMatchRowPath:
    def test_nullable_bigint_and_timestamp_bind_identically(self, spark, tmp_path):
        ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
        rows = [
            ("I", "f.000001", 1, 1, BIG, ts),
            ("I", "f.000001", 2, 2, None, ts.replace(microsecond=789000)),
            ("I", "f.000001", 3, 3, -BIG, None),
            ("U", "f.000001", 4, 1, BIG + 2, ts),
            ("I", "f.000001", 5, 4, None, None),
            ("D", "f.000001", 6, 3, None, None),
            ("I", "f.000001", 7, 5, 7, ts),
        ]
        df = spark.createDataFrame(
            rows, "op string, pos_file string, pos_offset long, k long, v long, ts timestamp"
        )
        db = str(tmp_path / "row.db")
        _make_target(db)
        names = ("op", "pos_file", "pos_offset", "k", "v", "ts")
        _factory(db)().apply_rows(dict(zip(names, r)) for r in sorted(rows, key=lambda r: r[2]))
        got = {"row": _target(db)}
        paths = {
            "arrow": dict(num_partitions=2),
            "driver": dict(num_partitions=None, driver_apply=True),
        }
        for name, kw in paths.items():
            db = str(tmp_path / f"{name}.db")
            _make_target(db)
            stats = apply_batch(df, _factory(db), ["k"], **kw)
            assert stats["failures"] == 0, (name, stats)
            got[name] = _target(db)
        assert got["row"] == [
            (1, BIG + 2, "2024-01-02 03:04:05", "integer", "text"),
            (2, None, "2024-01-02 03:04:05.789000", "null", "text"),
            (4, None, None, "null", "null"),
            (5, 7, "2024-01-02 03:04:05", "integer", "text"),
        ]
        assert got["arrow"] == got["row"]
        assert got["driver"] == got["row"]

    def test_null_double_binds_none(self, spark, tmp_path):
        """sqlite stores a bound NaN as NULL, so a target comparison
        cannot tell NaN from None; the bound parameters can (MySQL
        drivers reject NaN)."""
        rows = [
            ("I", "f.000001", 1, 1, 1.5),
            ("I", "f.000001", 2, 2, None),
            ("U", "f.000001", 3, 1, None),
            ("D", "f.000001", 4, 2, None),
            ("I", "f.000001", 5, 3, float("nan")),
        ]
        df = spark.createDataFrame(rows, "op string, pos_file string, pos_offset long, k long, d double")
        db = str(tmp_path / "f.db")
        con = sqlite3.connect(db)
        con.execute("CREATE TABLE f (k INTEGER PRIMARY KEY, d REAL)")
        con.commit()
        con.close()
        logs = {name: str(tmp_path / f"{name}.jsonl") for name in ("row", "arrow", "driver")}
        names = ("op", "pos_file", "pos_offset", "k", "d")
        _capturing_factory(db, logs["row"])().apply_rows(dict(zip(names, r)) for r in rows)
        apply_batch(df, _capturing_factory(db, logs["arrow"]), ["k"], num_partitions=2, collapse=False)
        apply_batch(
            df, _capturing_factory(db, logs["driver"]), ["k"],
            num_partitions=None, collapse=False, driver_apply=True,
        )
        got = {name: sorted(open(path).read().splitlines()) for name, path in logs.items()}
        assert got["row"] == sorted(
            json.dumps(line)
            for line in (
                ["upsert", ["1", "1.5"]],
                ["upsert", ["2", "None"]],
                ["upsert", ["1", "None"]],
                ["delete", ["2"]],
                ["upsert", ["3", "nan"]],
            )
        )
        assert got["arrow"] == got["row"]
        assert got["driver"] == got["row"]

    def test_timestamp_binds_session_zone_on_any_host_zone(self, tmp_path):
        """A fresh session in a process whose zone is not UTC: the
        default apply stores the wall clock Spark SQL renders in the
        (UTC) session zone, not the host's."""
        script = tmp_path / "probe.py"
        script.write_text(
            textwrap.dedent(
                f"""
                import json, sqlite3
                from xxt_cdc_spark.session import get_spark
                from xxt_cdc_spark.sinks.upsert import JdbcUpsertWriter, apply_batch

                db = {str(tmp_path / "tz.db")!r}
                con = sqlite3.connect(db)
                con.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, ts)")
                con.commit()
                spark = get_spark("tz-probe", shuffle_partitions=2)
                df = spark.sql(
                    "SELECT 'I' AS op, 'f.000001' AS pos_file, 1L AS pos_offset, 1L AS k, "
                    "cast('2024-01-02 03:04:05' AS timestamp) AS ts"
                )
                spark_text = df.selectExpr("cast(ts AS string)").first()[0]
                apply_batch(df, lambda: JdbcUpsertWriter(
                    connect_fn=lambda: sqlite3.connect(db, timeout=30),
                    table="t", columns=["k", "ts"], key_cols=["k"], dialect="sqlite",
                ), ["k"])
                stored = con.execute("SELECT ts FROM t").fetchone()[0]
                print(json.dumps([spark_text, stored]))
                spark.stop()
                """
            )
        )
        env = dict(
            os.environ,
            TZ="America/New_York",
            PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            SPARK_DRIVER_MEMORY="1g",
            SPARK_GRAFT_CPUS="2",
        )
        out = subprocess.run(
            [sys.executable, str(script)], env=env, cwd=ROOT,
            capture_output=True, text=True, timeout=300, check=True,
        )
        spark_text, stored = json.loads(out.stdout.strip().splitlines()[-1])
        assert spark_text == "2024-01-02 03:04:05"
        assert stored == spark_text

    def test_pickled_row_path_is_gone(self, tmp_path):
        with pytest.raises(ValueError, match="arrow=False"):
            apply_batch(None, _factory(str(tmp_path / "t.db")), ["k"], arrow=False)


class _CountingWriter(JdbcUpsertWriter):
    """Records every public entry-point call, like a tracing subclass."""

    ENTRY_POINTS = (
        "apply_rows", "apply_pdf", "apply_pdf_stream", "apply_param_groups", "apply_ordered_params",
    )

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.calls: list[str] = []

    def __getattribute__(self, name):
        attr = super().__getattribute__(name)
        if name in _CountingWriter.ENTRY_POINTS:
            super().__getattribute__("calls").append(name)
        return attr


class TestEntryPointsDoNotNest:
    def _frame(self, ops_keys):
        pdf = pd.DataFrame(
            {
                "op": [op for op, _ in ops_keys],
                "k": [k for _, k in ops_keys],
                "v": [k * 10 for _, k in ops_keys],
                "ts": [None] * len(ops_keys),
            }
        )
        return pa.Table.from_pandas(pdf, preserve_index=False)

    def test_each_public_apply_is_one_entry(self, tmp_path):
        db = str(tmp_path / "t.db")
        _make_target(db)
        make = _factory(db, _CountingWriter)
        seq = [("I", 1), ("I", 2), ("D", 1), ("I", 3), ("U", 2)]
        cases = {
            "apply_rows": lambda w: w.apply_rows(
                {"op": op, "k": k, "v": k * 10, "ts": None} for op, k in seq
            ),
            "apply_pdf": lambda w: w.apply_pdf(self._frame(seq)),
            "apply_pdf_stream": lambda w: w.apply_pdf_stream(
                iter([self._frame(seq[:2]), self._frame([]), self._frame(seq[2:])])
            ),
            "apply_param_groups": lambda w: w.apply_param_groups([(3, 30, None)], [(1,)]),
            "apply_ordered_params": lambda w: w.apply_ordered_params(
                [("upsert", (1, 10, None)), ("delete", (1,)), ("upsert", (2, 20, None))]
            ),
        }
        for name, call in cases.items():
            w = make()
            stats = call(w)
            assert w.calls == [name], (name, w.calls)
            assert stats["upserts"] + stats["deletes"] > 0, name
        w = make()
        w.apply_pdf(self._frame(seq), collapse_keys=["k"])
        assert w.calls == ["apply_pdf"]

    def test_timed_hook_signatures(self):
        """The traced benchmark writer overrides these three by name
        and positional shape."""
        params = {
            name: list(inspect.signature(getattr(JdbcUpsertWriter, name)).parameters)
            for name in ("apply_rows", "apply_pdf", "apply_pdf_stream")
        }
        assert params == {
            "apply_rows": ["self", "rows"],
            "apply_pdf": ["self", "pdf", "collapse_keys"],
            "apply_pdf_stream": ["self", "frames"],
        }
        assert inspect.signature(JdbcUpsertWriter.apply_pdf).parameters["collapse_keys"].default is None
