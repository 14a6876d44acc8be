"""The sqlite PK target and the writer the benchmark hands the engine.

``writer_factory`` returns the package's ``JdbcUpsertWriter``; in a
traced run it returns ``TimedWriter``, a subclass that times each
``apply_pdf`` / ``apply_pdf_stream`` / ``apply_rows`` call and appends
one span line per call to ``<spans_dir>/<pid>.jsonl``. Executor-side
Python workers write their own files, which the driver merges after
the run.
"""

from __future__ import annotations

import glob
import json
import os
import sqlite3
import time

from xxt_cdc_spark.sinks.upsert import JdbcUpsertWriter

from perfbench.datagen import ORDERS_COLS

_DDL = (
    "CREATE TABLE orders (o_orderkey INTEGER PRIMARY KEY, o_custkey INTEGER,"
    " o_orderstatus TEXT, o_totalprice REAL, o_orderdate TEXT, o_orderpriority TEXT)"
)


def make_target(db: str) -> None:
    if os.path.exists(db):
        os.remove(db)
    con = sqlite3.connect(db)
    con.execute(_DDL)
    con.commit()
    con.close()


def read_target(db: str) -> dict[int, tuple]:
    con = sqlite3.connect(db)
    try:
        return {r[0]: r for r in con.execute(f"SELECT {', '.join(ORDERS_COLS)} FROM orders")}
    finally:
        con.close()


def mismatches(db: str, expected: dict[int, tuple]) -> int:
    """Rows of the target that differ from ``expected``, counting
    missing and extra keys."""
    got = read_target(db)
    bad = sum(1 for k, row in expected.items() if got.get(k) != row)
    return bad + sum(1 for k in got if k not in expected)


class TimedWriter(JdbcUpsertWriter):
    """``JdbcUpsertWriter`` that records a span per apply call."""

    spans_dir: str = ""

    def _timed(self, name: str, fn, *args, **kwargs):
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.time()
            rec = {"id": 0, "name": f"sinks.{name}", "parent": None, "start": t0, "end": t1,
                   "pid": os.getpid(), "statements": self.stats["upserts"] + self.stats["deletes"],
                   "retries": self.stats["retries"]}
            with open(os.path.join(self.spans_dir, f"{os.getpid()}.jsonl"), "a") as f:
                f.write(json.dumps(rec) + "\n")

    def apply_rows(self, rows) -> dict:
        return self._timed("apply_rows", super().apply_rows, rows)

    def apply_pdf(self, pdf, collapse_keys=None) -> dict:
        return self._timed("apply_pdf", super().apply_pdf, pdf, collapse_keys)

    def apply_pdf_stream(self, frames) -> dict:
        return self._timed("apply_pdf_stream", super().apply_pdf_stream, frames)


def writer_factory(db: str, spans_dir: str | None = None):
    """Zero-argument factory for ``apply_batch``; sqlite stands in for a
    MySQL target (WAL + async commit, like a server's group commit)."""
    kwargs = dict(
        connect_fn=lambda: sqlite3.connect(db, timeout=60),
        table="orders",
        columns=ORDERS_COLS,
        key_cols=["o_orderkey"],
        dialect="sqlite",
        batch_size=5000,
        connection_init=["PRAGMA journal_mode=WAL", "PRAGMA synchronous=OFF"],
    )
    if spans_dir is None:
        return lambda: JdbcUpsertWriter(**kwargs)

    def make():
        w = TimedWriter(**kwargs)
        w.spans_dir = spans_dir
        return w

    return make


def drain_spans(spans_dir: str) -> list[dict]:
    """Read and delete the span files the writers left."""
    out = []
    for p in sorted(glob.glob(os.path.join(spans_dir, "*.jsonl"))):
        with open(p) as f:
            out.extend(json.loads(line) for line in f if line.strip())
        os.remove(p)
    return out
