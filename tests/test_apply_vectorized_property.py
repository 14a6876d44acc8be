"""Property tests for the r7 vectorized sink paths.

The dict-row path (``apply_rows``) is the long-standing reference
semantics; every vectorized variant must converge a randomized
changefeed to the SAME final table state:

- ``apply_pdf``        (one Arrow block, planned in key waves)
- ``apply_pdf`` + collapse_keys (keep-last per key, two statement groups)
- ``apply_pdf_stream`` (per-block apply at arbitrary block splits —
  the mapInArrow block stream shape)

No Spark involved: events are built in pandas and converted to Arrow
tables. Randomization covers delete interleavings (the r7 regression
class: per-RUN overhead and run→filtered-list index mapping),
duplicate keys (LWW), and delete-then-reinsert orders.
"""

from __future__ import annotations

import sqlite3

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from xxt_cdc_spark.sinks.upsert import JdbcUpsertWriter

COLS = ["k", "v"]


def _mk_db(tmp_path, tag):
    db = str(tmp_path / f"{tag}.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v INTEGER)")
    con.commit()
    con.close()
    return db


def _writer(db, batch_size=7, multi_values=False):
    # tiny batch_size on purpose: forces mid-run batch splits too
    return JdbcUpsertWriter(
        connect_fn=lambda: sqlite3.connect(db, timeout=30),
        table="t",
        columns=COLS,
        key_cols=["k"],
        dialect="sqlite",
        batch_size=batch_size,
        multi_values=multi_values,
    )


def _state(db):
    con = sqlite3.connect(db)
    rows = sorted(con.execute("SELECT k, v FROM t").fetchall())
    con.close()
    return rows


def _arrow(pdf):
    return pa.Table.from_pandas(pdf, preserve_index=False)


def _frame(events):
    # (op, k, v) triples in position order — object/int64 dtypes like
    # an Arrow-delivered block
    return pd.DataFrame(
        {
            "op": [e[0] for e in events],
            "k": [e[1] for e in events],
            "v": [e[2] for e in events],
        }
    )


events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["I", "U", "D"]),
        st.integers(min_value=0, max_value=9),  # small key domain → collisions
        st.integers(min_value=0, max_value=1000),
    ),
    min_size=0,
    max_size=120,
)


class TestVectorizedApplyProperty:
    @settings(max_examples=60, deadline=None)
    @given(events=events_strategy, nblocks=st.integers(min_value=1, max_value=5))
    def test_all_paths_converge_identically(self, tmp_path_factory, events, nblocks):
        tmp_path = tmp_path_factory.mktemp("prop")
        pdf = _frame(events)

        # reference: dict-row apply_rows in position order
        db_ref = _mk_db(tmp_path, "ref")
        w = _writer(db_ref)
        rows = [dict(op=op, k=k, v=v) for op, k, v in events]
        ref_stats = w.apply_rows(iter(rows))
        ref = _state(db_ref)

        # apply_pdf, uncollapsed: same statements, same order
        db_a = _mk_db(tmp_path, "a")
        wa = _writer(db_a)
        a_stats = wa.apply_pdf(_arrow(pdf))
        assert _state(db_a) == ref
        assert (a_stats["upserts"], a_stats["deletes"]) == (
            ref_stats["upserts"],
            ref_stats["deletes"],
        )

        # apply_pdf with the keep-last collapse: fewer statements, same state
        db_c = _mk_db(tmp_path, "c")
        wc = _writer(db_c)
        c_stats = wc.apply_pdf(_arrow(pdf), collapse_keys=["k"])
        assert _state(db_c) == ref
        assert c_stats["upserts"] + c_stats["deletes"] <= len(events)

        # multi-VALUES rendering (one INSERT per chunk): same state,
        # same stats — rows apply in VALUES order, so uncollapsed
        # same-key runs inside one statement stay correct
        db_m = _mk_db(tmp_path, "m")
        wm = _writer(db_m, multi_values=True)
        m_stats = wm.apply_pdf(_arrow(pdf))
        assert _state(db_m) == ref
        assert (m_stats["upserts"], m_stats["deletes"]) == (
            ref_stats["upserts"],
            ref_stats["deletes"],
        )

        # apply_pdf_stream at an arbitrary block split: identical
        # statements and stats (blocks are just transfer granularity)
        db_s = _mk_db(tmp_path, "s")
        ws = _writer(db_s)
        n = len(pdf)
        cuts = [n * i // nblocks for i in range(nblocks + 1)]
        blocks = [_arrow(pdf.iloc[lo:hi]) for lo, hi in zip(cuts, cuts[1:]) if hi > lo]
        s_stats = ws.apply_pdf_stream(iter(blocks))
        assert _state(db_s) == ref
        assert (s_stats["upserts"], s_stats["deletes"]) == (
            ref_stats["upserts"],
            ref_stats["deletes"],
        )

    def test_empty_frame_and_stream(self, tmp_path):
        db = _mk_db(tmp_path, "e")
        w = _writer(db)
        assert w.apply_pdf(_arrow(_frame([])))["upserts"] == 0
        assert w.apply_pdf_stream(iter([]))["upserts"] == 0
        assert w.apply_pdf_stream(iter([_arrow(_frame([]))]))["deletes"] == 0
        assert _state(db) == []

    def test_apply_param_groups_matches_collapsed(self, tmp_path):
        """apply_param_groups (fanout's direct-tuple entry) ≡ the
        collapsed apply for a one-statement-per-key batch."""
        events = [("I", 1, 10), ("U", 2, 20), ("D", 3, None), ("U", 1, 11)]
        collapsed = {1: ("U", 11), 2: ("U", 20), 3: ("D", None)}
        db_ref = _mk_db(tmp_path, "ref")
        _writer(db_ref).apply_pdf(_arrow(_frame(events)), collapse_keys=["k"])

        db_g = _mk_db(tmp_path, "g")
        wg = _writer(db_g)
        ups = [(k, v) for k, (op, v) in collapsed.items() if op != "D"]
        dels = [(k,) for k, (op, _) in collapsed.items() if op == "D"]
        wg.apply_param_groups(ups, dels)
        assert _state(db_g) == _state(db_ref) == [(1, 11), (2, 20)]


class TestFanoutDispatchParity:
    @pytest.mark.parametrize("seed", [0, 1, 2])
    def test_fanout_matches_reference_fold(self, spark, tmp_path, seed):
        """apply_batch_fanout (vectorized collapse + direct tuples +
        apply_param_groups) vs a plain-Python LWW fold of the same
        envelope: final per-table states must match exactly. Randomized
        per seed: multi-table, duplicate keys, delete/reinsert
        interleavings, and an UNREGISTERED table (skipped). Keys are
        non-null per the envelope contract (CHANGE_EVENT_SCHEMA
        declares ``key`` non-nullable); the dispatch loop's keyless
        guard stays a defensive edge, not modeled here — a NULL PK on
        a sqlite INTEGER PRIMARY KEY autoassigns into the keyed range
        and would test the harness, not the engine."""
        import json as _json
        import random

        from xxt_cdc_spark.sinks.upsert import (
            JdbcUpsertWriter,
            TableSink,
            apply_batch_fanout,
            close_pooled_connections,
        )

        rng = random.Random(seed)
        n_tables, n_events = 5, 400
        events = []
        for i in range(n_events):
            t = f"t{rng.randrange(n_tables + 1)}"  # t5 = unregistered
            op = rng.choice(["I", "U", "U", "D"])
            k = rng.randrange(8)
            v = rng.randrange(1000)
            events.append((t, op, k, v, i))

        # plain-Python reference fold (the semantics contract):
        # per (table, key) last-op-wins in position order
        expected: dict[str, dict] = {f"t{i}": {} for i in range(n_tables)}
        for t, op, k, v, pos in events:
            if t not in expected:
                continue  # unregistered
            if op == "D":
                expected[t].pop(k, None)
            else:
                expected[t][k] = v

        rows = [
            (
                "d", t, op, None, "binlog.000001", pos, None,
                _json.dumps({"k": k}),
                None,
                _json.dumps({"k": k, "v": v}),
            )
            for t, op, k, v, pos in events
        ]
        env = spark.createDataFrame(
            rows,
            "db string, table string, op string, ts timestamp, pos_file string,"
            " pos_offset long, gtid string, key string, before string, after string",
        )

        db = str(tmp_path / "fan.db")
        con = sqlite3.connect(db)
        for i in range(n_tables):
            con.execute(f"CREATE TABLE t{i} (k INTEGER PRIMARY KEY, v INTEGER)")
        con.commit()
        con.close()

        def factory(table):
            return lambda: JdbcUpsertWriter(
                connect_fn=lambda: sqlite3.connect(db, timeout=60),
                table=table, columns=["k", "v"], key_cols=["k"],
                dialect="sqlite", pool_key=f"prop{seed}:{db}",
            )

        sinks = {f"t{i}": TableSink(factory(f"t{i}"), ["k"], None) for i in range(n_tables)}
        try:
            apply_batch_fanout(env, sinks, num_partitions=2, coalesce_commits=True)
        finally:
            close_pooled_connections()

        con = sqlite3.connect(db)
        for i in range(n_tables):
            t = f"t{i}"
            got = dict(con.execute(f"SELECT k, v FROM {t}").fetchall())
            assert got == expected[t], (t, got, expected[t])
        con.close()
