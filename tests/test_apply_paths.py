"""The sink writer's apply paths bind identical values, and each public
entry point is one call.

- The row path (``apply_rows``), the executor Arrow path
  (``apply_batch(arrow=True)``) and the driver Arrow path
  (``driver_apply=True``) must land the same target. A nullable BIGINT
  past 2**53 must survive the Arrow→pandas conversion (a float64 upcast
  rounds it), and a TIMESTAMP must bind as the naive ``datetime`` the
  row path binds.
- A public ``apply_*`` never calls another public ``apply_*`` through
  ``self``: a subclass timing each entry point (the benchmark's traced
  writer) would otherwise count one apply twice.
"""

from __future__ import annotations

import datetime
import inspect
import sqlite3

import pandas as pd

from xxt_cdc_spark.sinks.upsert import JdbcUpsertWriter, apply_batch

BIG = 2**53 + 1


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
        paths = {
            "row": dict(num_partitions=2),
            "arrow": dict(num_partitions=2, arrow=True),
            "driver": dict(num_partitions=None, driver_apply=True),
        }
        got = {}
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
        return pd.DataFrame(
            {
                "op": [op for op, _ in ops_keys],
                "k": [k for _, k in ops_keys],
                "v": [k * 10 for _, k in ops_keys],
                "ts": [None] * len(ops_keys),
            }
        )

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
