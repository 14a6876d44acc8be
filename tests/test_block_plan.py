"""The writer's plan for one Arrow block (``JdbcUpsertWriter._block_runs``).

- **Bind.** The parameters bound from an Arrow block equal, value for
  value and Python type for Python type, what ``apply_rows`` binds for
  the same rows: nulls in every column type, a BIGINT past 2**53, a
  DOUBLE holding NaN and ±inf, and a TIMESTAMP stamped with a non-UTC
  session zone. ``==`` alone would admit ``1 == 1.0``, so the check
  compares ``(type(v), v)`` with NaN equal to NaN.
- **Waves.** Only statements on one key keep their order. Over random
  batches with repeated composite keys, interleaved I/U/D and random
  block splits, ``apply_pdf`` and ``apply_pdf_stream`` land the target
  and the statement counts of a strict position-order ``apply_rows``,
  with and without the LWW collapse, at small ``batch_size``.
"""

from __future__ import annotations

import datetime
import decimal
import math
import random
import sqlite3
from zoneinfo import ZoneInfo

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from xxt_cdc_spark.sinks.upsert import JdbcUpsertWriter, _key_codes, _waves

ZONE = "America/New_York"
BIG = 2**53


def _value_columns(rng: random.Random):
    """(name, Arrow type, draw) per bound column; ``draw`` returns the
    Python value ``apply_rows`` binds."""

    def wall_clock():
        # January/July days, away from the zone's DST switches
        return datetime.datetime(
            rng.randrange(1990, 2030), rng.choice([1, 7]), rng.randrange(1, 29),
            rng.randrange(24), rng.randrange(60), rng.randrange(60), rng.randrange(10**6),
        )

    return [
        ("big", pa.int64(), lambda: rng.choice([1, -1]) * (BIG + rng.randrange(1, 10**6))),
        ("dbl", pa.float64(), lambda: rng.choice([rng.uniform(-1e6, 1e6), math.nan, math.inf, -math.inf])),
        ("dec", pa.decimal128(12, 3), lambda: decimal.Decimal(rng.randrange(-10**11, 10**11)).scaleb(-3)),
        ("s", pa.string(), lambda: rng.choice(["", "a", "ü-ß", "x" * rng.randrange(1, 40)])),
        ("b", pa.bool_(), lambda: rng.random() < 0.5),
        ("d", pa.date32(), lambda: datetime.date(2000, 1, 1) + datetime.timedelta(days=rng.randrange(-9000, 9000))),
        ("bin", pa.binary(), lambda: bytes(rng.randrange(256) for _ in range(rng.randrange(0, 9)))),
        ("ts", pa.timestamp("us"), wall_clock),
        ("tstz", pa.timestamp("us", tz=ZONE), wall_clock),
    ]


def _batch_and_rows(seed: int, n: int, nulls: bool):
    """A RecordBatch as Spark ships it, and the rows ``apply_rows`` would
    get for it: the tz-aware column carries UTC instants, its row value
    is the wall clock in the session zone."""
    rng = random.Random(seed)
    ops = [rng.choice(["I", "U", "D"]) for _ in range(n)]
    arrays, names, values = [pa.array(ops), pa.array(range(n), pa.int64())], ["op", "k"], {"op": ops, "k": list(range(n))}
    for name, typ, draw in _value_columns(rng):
        col = [None if nulls and rng.random() < 0.2 else draw() for _ in range(n)]
        if nulls and None not in col:
            col[rng.randrange(n)] = None
        aware = typ == pa.timestamp("us", tz=ZONE)
        # Arrow takes the instant from a UTC datetime (pyarrow 16 reads
        # a zoneinfo-aware one's wall clock as UTC)
        arrow_values = [
            v.replace(tzinfo=ZoneInfo(ZONE)).astimezone(datetime.timezone.utc) if aware and v else v
            for v in col
        ]
        arrays.append(pa.array(arrow_values, typ))
        names.append(name)
        values[name] = col
    rows = [{name: values[name][i] for name in names} for i in range(n)]
    return pa.RecordBatch.from_arrays(arrays, names=names), rows


class _Capture(JdbcUpsertWriter):
    """Records each bound parameter tuple instead of executing it."""

    def __init__(self, columns):
        super().__init__(
            connect_fn=lambda: sqlite3.connect(":memory:"), table="t",
            columns=columns, key_cols=["k"], dialect="sqlite",
        )
        self.bound: list[tuple[str, tuple]] = []

    def _flush(self, conn, kind, params):
        self.bound.extend((kind, p) for p in params)


_NAN = "NaN"


def _typed(bound):
    """Bound statements by key, each value as ``(type, value)``; a NaN
    value becomes a marker, so that NaN pairs compare equal."""
    return sorted(
        (p[0], kind, [(type(v), _NAN if isinstance(v, float) and math.isnan(v) else v) for v in p])
        for kind, p in bound
    )


class TestBindFromArrow:
    @pytest.mark.parametrize("nulls", [True, False], ids=["nulls", "no-nulls"])
    @pytest.mark.parametrize("seed", [0, 1, 2])
    def test_arrow_binds_what_apply_rows_binds(self, seed, nulls):
        batch, rows = _batch_and_rows(seed, 400, nulls)
        columns = batch.schema.names[1:]
        ref = _Capture(columns)
        ref.apply_rows(iter(rows))
        want = _typed(ref.bound)
        assert len(want) == len(rows)
        cuts = sorted(random.Random(seed).sample(range(1, len(rows)), 3))
        blocks = [batch.slice(lo, hi - lo) for lo, hi in zip([0, *cuts], [*cuts, len(rows)])]
        paths = {
            "table": lambda w: w.apply_pdf(pa.Table.from_batches([batch])),
            "chunked-table": lambda w: w.apply_pdf(pa.Table.from_batches(blocks)),
            "stream": lambda w: w.apply_pdf_stream(iter(blocks)),
        }
        for name, apply in paths.items():
            w = _Capture(columns)
            apply(w)
            assert _typed(w.bound) == want, name

    def test_a_null_key_component_is_one_key(self):
        codes = _key_codes([pa.array([None, 1, None, 1, 2]), pa.array(["a", "a", "a", None, None])])
        assert _waves(codes).tolist() == [0, 0, 1, 0, 0]
        assert _waves(_key_codes([pa.array([None, 1, None, None])])).tolist() == [0, 0, 1, 2]


def _mk_db(tmp_path, tag: str) -> str:
    db = str(tmp_path / f"{tag}.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k INTEGER, g TEXT, v INTEGER, PRIMARY KEY (k, g))")
    con.commit()
    con.close()
    return db


def _state(db: str) -> list[tuple]:
    con = sqlite3.connect(db)
    try:
        return sorted(con.execute("SELECT k, g, v FROM t").fetchall())
    finally:
        con.close()


def _writer(db: str, batch_size: int) -> JdbcUpsertWriter:
    return JdbcUpsertWriter(
        connect_fn=lambda: sqlite3.connect(db, timeout=30), table="t",
        columns=["k", "g", "v"], key_cols=["k", "g"], dialect="sqlite", batch_size=batch_size,
    )


def _table(events) -> pa.Table:
    names = ("op", "k", "g", "v")
    types = (pa.string(), pa.int64(), pa.string(), pa.int64())
    return pa.table([pa.array([e[i] for e in events], t) for i, t in enumerate(types)], names=names)


events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["I", "U", "D"]),
        st.integers(0, 4),
        st.sampled_from(["x", "y"]),  # small composite key domain → repeats
        st.integers(0, 1000),
    ),
    max_size=80,
)


class TestKeyWaveProperty:
    @settings(max_examples=80, deadline=None)
    @given(
        events=events_strategy,
        collapse=st.booleans(),
        batch_size=st.integers(1, 4),
        cuts=st.lists(st.integers(0, 80), max_size=4),
        shuffle_seed=st.integers(0, 2**16),
    )
    def test_waves_land_what_strict_order_lands(
        self, tmp_path_factory, events, collapse, batch_size, cuts, shuffle_seed
    ):
        tmp_path = tmp_path_factory.mktemp("waves")
        if collapse:
            last = {(k, g): i for i, (_, k, g, _) in enumerate(events)}
            ref_events = [events[i] for i in sorted(last.values())]
        else:
            ref_events = events
        ref_db = _mk_db(tmp_path, "ref")
        ref = _writer(ref_db, batch_size).apply_rows(
            dict(zip(("op", "k", "g", "v"), e)) for e in ref_events
        )
        want = (_state(ref_db), ref["upserts"], ref["deletes"])

        db = _mk_db(tmp_path, "pdf")
        got = _writer(db, batch_size).apply_pdf(_table(events), ["k", "g"] if collapse else None)
        assert (_state(db), got["upserts"], got["deletes"]) == want

        # the stream carries what the plan ships: every event in
        # position order, or after the LWW window one row per key in
        # any order
        stream_events = list(ref_events)
        if collapse:
            random.Random(shuffle_seed).shuffle(stream_events)
        bounds = sorted({0, len(stream_events), *(c for c in cuts if c < len(stream_events))})
        blocks = [_table(stream_events[lo:hi]) for lo, hi in zip(bounds, bounds[1:])]
        db = _mk_db(tmp_path, "stream")
        got = _writer(db, batch_size).apply_pdf_stream(iter(blocks))
        assert (_state(db), got["upserts"], got["deletes"]) == want


class TestFanoutKeepLast:
    def test_keyless_rows_bypass_the_keyed_collapse(self, spark, tmp_path):
        """The fanout keeps the last row per (table, key), and every
        keyless row (null or empty ``key``): two keyless inserts of
        different rows under one null or empty key all land."""
        import json

        from xxt_cdc_spark.sinks.upsert import TableSink, apply_batch_fanout

        def row(table, op, pos, key, after):
            return ("d", table, op, None, "binlog.000001", pos, None, key, None, json.dumps(after))

        rows = [
            row("audit", "I", 1, "", {"k": 7, "v": 70}),
            row("audit", "I", 2, "", {"k": 8, "v": 80}),
            row("audit", "I", 3, None, {"k": 9, "v": 90}),
            row("audit", "I", 4, None, {"k": 10, "v": 100}),
            row("kt", "I", 5, json.dumps({"k": 2}), {"k": 2, "v": 20}),
            row("kt", "U", 6, json.dumps({"k": 2}), {"k": 2, "v": 21}),
        ]
        env = spark.createDataFrame(
            rows,
            "db string, table string, op string, ts timestamp, pos_file string,"
            " pos_offset long, gtid string, key string, before string, after string",
        )
        db = str(tmp_path / "fan.db")
        con = sqlite3.connect(db)
        for t in ("audit", "kt"):
            con.execute(f"CREATE TABLE {t} (k INTEGER PRIMARY KEY, v INTEGER)")
        con.commit()
        con.close()

        def factory(table):
            def make():
                import sqlite3 as _sq

                from xxt_cdc_spark.sinks.upsert import JdbcUpsertWriter as _W

                return _W(
                    connect_fn=lambda: _sq.connect(db, timeout=30),
                    table=table, columns=["k", "v"], key_cols=["k"], dialect="sqlite",
                )

            return make

        sinks = {t: TableSink(factory(t), ["k"], None) for t in ("audit", "kt")}
        assert apply_batch_fanout(env, sinks, num_partitions=1) == {"audit": 4, "kt": 1}
        con = sqlite3.connect(db)
        assert con.execute("SELECT k, v FROM audit ORDER BY k").fetchall() == [(7, 70), (8, 80), (9, 90), (10, 100)]
        assert con.execute("SELECT k, v FROM kt").fetchall() == [(2, 21)]
        con.close()
