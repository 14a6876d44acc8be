"""Open-loop load generator for ``live_tail``: one single-threaded
process that appends I/U/D records for the ``orders`` table to a binlog
file on a fixed schedule.

    PYTHONPATH=. python3 perfbench/loadgen.py --log DIR --out FILE --seed N \
        --rate 5000 --seconds 30 --start T

Event ``j`` is due at ``T + j / rate`` on ``CLOCK_MONOTONIC``, which is
one clock for every process on the machine, so the engine's process can
compare its own timestamps with these due times. Every 50 ms the
generator appends all events due by then in one write; it never waits
for the engine, so a slow engine meets a growing backlog, not a slower
generator. It records how late each write finished after its tick was
due, and keeps going when behind.

At exit it writes ``FILE`` (``.npz``): per event the due time and the
byte offset just past its record, per tick the lateness, and its own
model of the live rows, which the benchmark compares with the target.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

from xxt_cdc_spark.streaming.binlog_source import encode_record

KEYS = 20_000
TICK_S = 0.05
STATUSES = ("O", "F", "P", "U")


def now() -> float:
    return time.clock_gettime(time.CLOCK_MONOTONIC)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--log", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--start", type=float, required=True)
    args = ap.parse_args()

    rng = np.random.default_rng(args.seed)
    n = int(args.rate * args.seconds)
    keys = rng.integers(0, KEYS, n)
    kind = rng.random(n)
    cust = rng.integers(0, 15_000, n)
    price = rng.integers(90_000, 40_000_000, n) / 100.0
    status = rng.integers(0, len(STATUSES), n)
    dates = (np.datetime64("1992-01-01") + rng.integers(0, 7 * 365, n)).astype(str)
    due = args.start + np.arange(n) / args.rate
    end_off = np.zeros(n, dtype="int64")
    live: dict[int, dict] = {}

    os.makedirs(args.log, exist_ok=True)
    path = os.path.join(args.log, "binlog.000001")
    late: list[float] = []
    j = 0
    with open(path, "ab") as f:
        off = f.tell()
        tick = 0
        while j < n:
            t_tick = args.start + (tick + 1) * TICK_S
            wait = t_tick - now()
            if wait > 0:
                time.sleep(wait)
            hi = min(n, int(np.searchsorted(due, now(), side="right")))
            buf = []
            for i in range(j, hi):
                k = int(keys[i])
                if k in live and kind[i] < 0.25:
                    op, before, after = "D", live.pop(k), None
                else:
                    op = "U" if k in live else "I"
                    before = live.get(k)
                    after = {
                        "o_orderkey": k, "o_custkey": int(cust[i]),
                        "o_orderstatus": STATUSES[status[i]], "o_totalprice": float(price[i]),
                        "o_orderdate": f"{dates[i]} 00:00:00",
                        "o_orderpriority": "3-MEDIUM",
                    }
                    live[k] = after
                rec = encode_record({
                    "db": "shop", "table": "orders", "op": op, "ts": None, "gtid": None,
                    "key": json.dumps({"o_orderkey": k}),
                    "before": json.dumps(before) if before else None,
                    "after": json.dumps(after) if after else None,
                }).encode() + b"\n"
                buf.append(rec)
                off += len(rec)
                end_off[i] = off
            f.write(b"".join(buf))
            f.flush()
            late.append(now() - t_tick)
            j = hi
            tick += 1
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
            "o_orderpriority"]
    np.savez(args.out, due=due, end_off=end_off, late=np.array(late),
             live=json.dumps({k: [r[c] for c in cols] for k, r in live.items()}))


if __name__ == "__main__":
    sys.exit(main())
