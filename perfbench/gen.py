"""Seeded load generator for the benchmark, run as its own process.

It never imports Spark or the package under test: it only writes parquet
inputs and a JSON-lines manifest that describes exactly what it wrote, so
the benchmark can check the program's output against it.

Subcommands:

- ``backlog``: the ``customer`` dimension the fact pipeline enriches with,
  plus a pre-staged backlog of NQS events split over files.
- ``live``: files of NQS events dropped on a fixed schedule on the
  epoch-second grid, each event stamped with its creation time.

Run ``python3 perfbench/gen.py <subcommand> --help`` for the arguments.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = pa.array(["click", "view", "purchase", "signup", "error"])
PROPS = pa.array([f'{{"k": {k}}}' for k in range(100)])
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object
)
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
# User ids run past the customer table so some enrich lookups miss.
USER_SPAN = 1.1
INVALID_SHARE = 0.01
# The backlog holds one hour of event time ending 2024-01-15T00:30:00Z, so
# it crosses a day boundary.
BACKLOG_END_US = 1_705_278_600 * 1_000_000
BACKLOG_SPAN_US = 3600 * 1_000_000
# A live file is due this long after its second starts; a trigger fires on
# the 10 s grid, so the file reaches the batch of its interval even if late.
DROP_OFFSET_S = 0.1
# Live event ids start here, past any backlog's.
LIVE_FIRST_ID = 10**9


def write_atomic(table: pa.Table, path: str) -> None:
    """Write ``table`` under a hidden name, then rename it into place, so a
    file-source stream never lists a half-written file."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def customers(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n)],
        }
    )


def events(
    rng: np.random.Generator, first_id: int, ts_us: np.ndarray, n_customers: int
) -> tuple[pa.Table, dict]:
    """Events with the given creation stamps.  About ``INVALID_SHARE`` of
    them miss ``user_id`` or ``event_type`` (the reference's ``badMsg``)."""
    n = len(ts_us)
    user = rng.integers(0, int(n_customers * USER_SPAN), n).astype(np.int64)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.lognormal(3.5, 1.0, n), 2)
    props = PROPS.take(rng.integers(0, len(PROPS), n))
    bad = rng.random(n) < INVALID_SHARE
    no_user = bad & (rng.random(n) < 0.5)
    no_type = bad & ~no_user
    table = pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(user, mask=no_user),
            "event_type": EVENT_TYPES.take(pa.array(etype, mask=no_type)),
            "value": value,
            "props": props,
        },
        schema=EVENTS_SCHEMA,
    )
    info = {
        "rows": n,
        "valid": int(n - bad.sum()),
        "invalid": int(bad.sum()),
    }
    return table, info


def events_dir(sf: str) -> str:
    path = os.path.join(sf, "events.parquet")
    os.makedirs(path, exist_ok=True)
    return path


def cmd_backlog(a: argparse.Namespace) -> None:
    """The ``customer`` dimension plus a backlog of ``--events`` events,
    split into ``--files`` files under ``<sf>/events.parquet/``."""
    rng = np.random.default_rng([a.seed, 2])
    os.makedirs(a.sf, exist_ok=True)
    write_atomic(customers(a.customers, a.seed), os.path.join(a.sf, "customer.parquet"))
    out = events_dir(a.sf)
    ts = np.sort(rng.integers(BACKLOG_END_US - BACKLOG_SPAN_US, BACKLOG_END_US, a.events))
    bounds = np.linspace(0, a.events, a.files + 1).astype(int)
    with open(a.manifest, "w") as man:
        for i in range(a.files):
            lo, hi = bounds[i], bounds[i + 1]
            table, info = events(rng, lo, ts[lo:hi], a.customers)
            name = f"part-{i:05d}.parquet"
            write_atomic(table, os.path.join(out, name))
            man.write(json.dumps({"file": name, **info}) + "\n")


def cmd_live(a: argparse.Namespace) -> None:
    """Open loop: one file a second, file k due ``DROP_OFFSET_S`` after the
    epoch second ``start + k``, holding the events created since the previous
    one.  The schedule never waits for the consumer.  Stops after
    ``--seconds`` files or when ``--stop-file`` appears."""
    rng = np.random.default_rng([a.seed, 3])
    out = events_dir(a.sf)
    with open(a.manifest, "a") as man:
        for k in range(a.seconds):
            due = a.start + k + DROP_OFFSET_S
            ts = np.sort(rng.integers(int((due - 1) * 1e6), int(due * 1e6), a.rate))
            first = LIVE_FIRST_ID + k * a.rate
            table, info = events(rng, first, ts, a.customers)
            name = f"live-{first:012d}.parquet"
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            if os.path.exists(a.stop_file):
                break
            write_atomic(table, os.path.join(out, name))
            landed = time.time()
            rec = {"file": name, **info, "due": due, "landed": landed, "late_s": landed - due}
            man.write(json.dumps(rec) + "\n")
            man.flush()


def main(argv: list[str]) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--seed", type=int, required=True)

    for name, fn in (("backlog", cmd_backlog), ("live", cmd_live)):
        s = sub.add_parser(name, parents=[common])
        s.add_argument("--sf", required=True, help="dataset directory")
        s.add_argument("--manifest", required=True)
        s.add_argument("--customers", type=int, required=True)
        s.set_defaults(fn=fn)
        if name == "backlog":
            s.add_argument("--events", type=int, required=True)
            s.add_argument("--files", type=int, required=True)
        else:
            s.add_argument("--rate", type=int, required=True, help="events per second")
            s.add_argument("--start", type=int, required=True, help="epoch second")
            s.add_argument("--seconds", type=int, required=True)
            s.add_argument("--stop-file", required=True)

    a = p.parse_args(argv)
    a.fn(a)


if __name__ == "__main__":
    main(sys.argv[1:])
