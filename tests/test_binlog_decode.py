"""The binlog reader's Arrow decode equals a ``json.loads`` per line.

``_reference`` is the per-line decoder the reader used before it
parsed slices with ``pyarrow.json``: every case below must decode to an
equal table (all ten columns) through ``_read_range``.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from xxt_cdc_spark.streaming import binlog_source as bs
from xxt_cdc_spark.streaming.binlog_source import BinlogBatchReader, BinlogRange, _read_range


def _reference(part: BinlogRange) -> pa.Table:
    schema = bs._output_schema()
    cols: list[list] = [[] for _ in schema]
    with open(os.path.join(part.path, part.filename), "rb") as f:
        f.seek(part.start)
        pos = part.start
        while pos < part.end:
            line = f.readline()
            if not line:
                break
            rec_start, pos = pos, pos + len(line)
            if not line.strip():
                continue
            r = json.loads(line)
            row = (
                r["db"], r["table"], r["op"], bs._parse_ts(r.get("ts")), part.filename,
                rec_start, r.get("gtid"), r["key"], r.get("before"), r.get("after"),
            )
            for c, v in zip(cols, row):
                c.append(v)
    return pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)


def _decoded(part: BinlogRange) -> pa.Table:
    return pa.Table.from_batches(list(_read_range(part)), schema=bs._output_schema())


def _rec(i: int, **kw) -> dict:
    r = {
        "db": "shop", "table": "orders", "op": "UID"[i % 3], "ts": "2024-03-01T05:00:00",
        "gtid": f"3e11fa47-71ca-11e1-9e33-c80aa9429562:{i + 1}", "key": json.dumps({"id": i}),
        "before": json.dumps({"id": i, "v": i - 1}), "after": json.dumps({"id": i, "v": i}),
    }
    r.update(kw)
    return r


def _write(d, name: str, lines: list) -> str:
    """Write raw lines (dicts are JSON-encoded, strings go as they are)."""
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "wb") as f:
        for ln in lines:
            f.write((ln if isinstance(ln, str) else json.dumps(ln, ensure_ascii=False)).encode() + b"\n")
    return os.path.join(d, name)


def _whole(d, name: str) -> BinlogRange:
    return BinlogRange(str(d), name, 0, os.path.getsize(os.path.join(d, name)))


def _assert_same(part: BinlogRange) -> pa.Table:
    want, got = _reference(part), _decoded(part)
    assert got.num_rows == want.num_rows
    assert got.equals(want), (got.to_pylist()[:3], want.to_pylist()[:3])
    return got


class TestDecodeEqualsPerLineReference:
    def test_naive_timestamps_take_the_arrow_cast(self, tmp_path):
        ts = ["2024-03-01T05:00:00", "2024-03-01 05:00:00.123456", "2024-03-01T05:00:00.5", "2024-03-01", None]
        _write(tmp_path, "binlog.000001", [_rec(i, ts=t) for i, t in enumerate(ts)])
        got = _assert_same(_whole(tmp_path, "binlog.000001"))
        assert got.column("ts")[3].as_py().isoformat() == "2024-03-01T00:00:00"

    def test_zone_offsets_keep_the_wall_clock(self, tmp_path):
        ts = ["2024-03-01T05:00:00+02:00", "2024-03-01T05:00:00Z", "2024-03-01T05:00:00.25", None]
        _write(tmp_path, "binlog.000001", [_rec(i, ts=t) for i, t in enumerate(ts)])
        got = _assert_same(_whole(tmp_path, "binlog.000001"))
        assert [v.as_py() and v.as_py().hour for v in got.column("ts")] == [5, 5, 5, None]

    def test_blank_and_whitespace_lines_are_skipped(self, tmp_path):
        lines = ["", _rec(0), "   ", "\t", " \r", _rec(1), "", "", "  " + json.dumps(_rec(2)) + "  ", _rec(3)]
        _write(tmp_path, "binlog.000001", lines)
        got = _assert_same(_whole(tmp_path, "binlog.000001"))
        assert got.num_rows == 4

    def test_extra_and_missing_fields(self, tmp_path):
        lines = [
            {**_rec(0), "server_id": 7, "pos_offset": 999, "pos_file": "spoofed", "extra": {"a": [1]}},
            {k: v for k, v in _rec(1).items() if k not in ("gtid", "ts", "before", "after")},
            {**_rec(2), "key": None, "gtid": None},
        ]
        _write(tmp_path, "binlog.000001", lines)
        got = _assert_same(_whole(tmp_path, "binlog.000001"))
        assert got.column("pos_file").to_pylist() == ["binlog.000001"] * 3

    def test_non_ascii_payloads(self, tmp_path):
        lines = [_rec(0, after=json.dumps({"name": "Zoë — 東京 🚀"}, ensure_ascii=False), table="prodüct"), _rec(1)]
        _write(tmp_path, "binlog.000001", lines)
        _assert_same(_whole(tmp_path, "binlog.000001"))

    def test_record_longer_than_a_slice(self, tmp_path):
        big = "x" * (bs._SLICE_BYTES + (1 << 18))
        _write(tmp_path, "binlog.000001", [_rec(0), _rec(1, after=big), _rec(2)])
        got = _assert_same(_whole(tmp_path, "binlog.000001"))
        assert len(got.column("after")[1].as_py()) == len(big)

    @pytest.mark.parametrize("slice_bytes", [64, 1000, 1 << 20])
    def test_ranges_that_end_mid_slice(self, tmp_path, monkeypatch, slice_bytes):
        """Sub-ranges starting and ending on inner record boundaries,
        across slice sizes from below one record to above the file."""
        monkeypatch.setattr(bs, "_SLICE_BYTES", slice_bytes)
        fp = _write(tmp_path, "binlog.000001", [_rec(i) if i % 11 else "" for i in range(3000)])
        size = os.path.getsize(fp)
        for lo, hi in [(0, size), (size // 3, 2 * size // 3), (size // 7, size // 7 + 5000)]:
            start, end = bs._snap_forward(fp, lo), bs._snap_forward(fp, hi)
            assert 0 <= start < end <= size
            _assert_same(BinlogRange(str(tmp_path), "binlog.000001", start, end))

    def test_batches_hold_8192_rows(self, tmp_path, monkeypatch):
        monkeypatch.setattr(bs, "_SLICE_BYTES", 4096)
        _write(tmp_path, "binlog.000001", [_rec(i) for i in range(20_000)])
        sizes = [b.num_rows for b in _read_range(_whole(tmp_path, "binlog.000001"))]
        assert sizes == [8192, 8192, 20_000 - 2 * 8192]

    def test_rotated_files(self, tmp_path):
        for n in range(1, 4):
            _write(tmp_path, f"binlog.{n:06d}", [_rec(100 * n + i) for i in range(400)])
        reader = BinlogBatchReader({"path": str(tmp_path), "chunkbytes": str(20_000)})
        parts = reader.partitions()
        assert len({p.filename for p in parts}) == 3 and len(parts) > 3
        got = pa.concat_tables(_assert_same(p) for p in parts)
        assert got.num_rows == 1200


class TestRequiredFields:
    @pytest.mark.parametrize("field", ["db", "table", "op"])
    @pytest.mark.parametrize("missing", ["absent", "null"])
    def test_missing_required_field_raises_with_its_position(self, tmp_path, field, missing):
        bad = _rec(1)
        if missing == "absent":
            del bad[field]
        else:
            bad[field] = None
        fp = _write(tmp_path, "binlog.000001", [_rec(0), bad, _rec(2)])
        with open(fp, "rb") as f:
            offset = len(f.readline())
        with pytest.raises(ValueError, match=f"binlog.000001:{offset} has no '{field}'"):
            list(_read_range(_whole(tmp_path, "binlog.000001")))
