"""Seeded load generator: Kafka-tuple records whose ``value`` is JSON text.

Every record is ``(topic, partition, offset, key, value)``; ``value`` covers
the reference's inference rule table (integers that fit 32 bits, 64 bits and
neither; doubles; booleans; nulls; nested objects; arrays of scalars and of
objects; empty arrays; a key present in only some records).  Generation is
vectorised with pyarrow so a benchmark run spends little time preparing input.

The module is also the process that writes batch file sets, reading a JSON
list of ``[path, seed, start_id, n, n_files]`` jobs on stdin and printing
their checksums as a JSON list:

    python3 perfbench/loadgen.py sets < jobs.json

and the paced generator process:

    python3 perfbench/loadgen.py paced --out DIR --tmp DIR --seed N \
        --rate 10000 --period-ms 50 --seconds 20 --start-id 0 --report FILE

It writes one parquet file per send period on a fixed schedule (write to
``--tmp``, then rename into ``--out``), stamps each record's ``ts`` with the
time the file was due, and on exit writes a JSON report of what it sent and
how late each file landed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TOPIC = "events"
PARTITIONS = 4
BIG_BASE_DIGIT = "2"  # 2 * 10**19 > 2**64: beyond 64 bits, so a string
BIG_ID_FACTOR = 7     # big = 2 * 10**19 + 7 * id
BATCH_TS_BASE_MS = 1_700_000_000_000

# The schema the rule table implies for the generated ``value``: the big
# integer and the always-null key become strings, ``items`` takes its element
# type from the first element (later elements may carry ``gift``, which is
# therefore dropped), and ``opt`` is last because it is the last key of the
# records that have it and absent from the others.
EXPECTED_VALUE_SCHEMA = (
    "struct<id:int,seq:bigint,big:string,price:double,ok:boolean,note:string,"
    "user:struct<name:string,tier:int>,tags:array<string>,"
    "items:array<struct<sku:int,qty:int>>,empty:array<string>,ts:bigint,opt:int>"
)


def _s(a) -> pa.Array:
    return pa.array(a).cast(pa.string())


def make_records(seed: int, start_id: int, n: int, ts_ms=None):
    """Return ``(table, checksum)`` for records ``start_id .. start_id+n-1``.

    The content is a pure function of ``(seed, start_id, n, ts_ms)``.
    ``ts_ms`` stamps every record; by default each record gets a fixed
    per-id stamp.  ``checksum`` holds the row count, the sum of ``id`` and
    the sum of ``items[*].qty``.
    """
    rng = np.random.default_rng([seed, start_id, n])
    ids = np.arange(start_id, start_id + n, dtype=np.int64)
    cents = rng.integers(1, 100_000, n)
    n_items = rng.integers(1, 4, n)
    qty = rng.integers(1, 10, (3, n))
    sku = rng.integers(0, 1000, (3, n))
    gift = rng.random(n) < 0.5
    has_opt = rng.random(n) < 0.35
    ts = (
        np.full(n, int(ts_ms), dtype=np.int64)
        if ts_ms is not None
        else BATCH_TS_BASE_MS + ids
    )

    def item(k: int, with_gift) -> list:
        body = ['{"sku":', _s(sku[k]), ',"qty":', _s(qty[k])]
        if with_gift is not None:
            body.append(pc.if_else(pa.array(with_gift), ',"gift":true', ""))
        return body + ["}"]

    second = pc.binary_join_element_wise(",", *item(1, gift), "")
    third = pc.binary_join_element_wise(",", *item(2, None), "")
    value = pc.binary_join_element_wise(
        '{"id":', _s(ids),
        ',"seq":', _s(4_000_000_000 + ids * 3),
        ',"big":', BIG_BASE_DIGIT, pc.utf8_lpad(_s(ids * BIG_ID_FACTOR), 19, "0"),
        ',"price":', _s(cents // 100), ".", pc.utf8_lpad(_s(cents % 100), 2, "0"),
        ',"ok":', pc.if_else(pa.array(rng.random(n) < 0.5), "true", "false"),
        ',"note":null,"user":{"name":"u', _s(ids),
        '","tier":', _s(rng.integers(0, 5, n)),
        '},"tags":["t', _s(rng.integers(0, 100, n)),
        '","t', _s(rng.integers(0, 100, n)),
        '"],"items":[', *item(0, None),
        pc.if_else(pa.array(n_items >= 2), second, ""),
        pc.if_else(pa.array(n_items >= 3), third, ""),
        '],"empty":[],"ts":', _s(ts),
        pc.if_else(
            pa.array(has_opt),
            pc.binary_join_element_wise(',"opt":', _s(rng.integers(0, 1000, n)), ""),
            "",
        ),
        "}",
        "",
    )
    table = pa.table(
        {
            "topic": pa.array([TOPIC] * n, pa.string()),
            "partition": pa.array(ids % PARTITIONS, pa.int32()),
            "offset": pa.array(ids, pa.int64()),
            "key": pc.binary_join_element_wise("k", _s(ids), ""),
            "value": value,
        }
    )
    qty_sum = int(qty[0].sum() + qty[1][n_items >= 2].sum() + qty[2][n_items >= 3].sum())
    checksum = {"rows": n, "id_sum": int(ids.sum()), "qty_sum": qty_sum}
    return table, checksum


def add_checksums(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0) + b[k] for k in b}


def write_file_set(
    path: str, seed: int, start_id: int, n: int, n_files: int
) -> dict:
    """Write ``n`` records as ``n_files`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    total: dict = {}
    per = -(-n // n_files)
    for i, lo in enumerate(range(0, n, per)):
        table, chk = make_records(seed, start_id + lo, min(per, n - lo))
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
        total = add_checksums(total, chk)
    return total


def run_paced(
    out: str,
    tmp: str,
    seed: int,
    rate: int,
    period_ms: int,
    seconds: float,
    start_id: int,
) -> dict:
    """Send ``rate`` records/s as one file per period for ``seconds``.

    The schedule is fixed in advance (file k is due at ``t0 + k*period``);
    a late file is written at once and never skipped, so the generator does
    not slow when the consumer does.  Returns the report.
    """
    os.makedirs(out, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    per_file = rate * period_ms // 1000
    n_files = int(seconds * 1000 // period_ms)
    files = []
    # warm the encoder and writer so the first scheduled file is not late
    pq.write_table(make_records(seed, start_id, per_file)[0], os.path.join(tmp, "warm"))
    os.remove(os.path.join(tmp, "warm"))
    t0 = time.time() + 0.05
    for k in range(n_files):
        due = t0 + k * period_ms / 1000
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        due_ms = int(round(due * 1000))
        first = start_id + k * per_file
        table, chk = make_records(seed, first, per_file, ts_ms=due_ms)
        name = f"f-{k:06d}.parquet"
        staging = os.path.join(tmp, name)
        pq.write_table(table, staging)
        os.rename(staging, os.path.join(out, name))
        landed = time.time()
        files.append(
            {
                "name": name,
                "due_ms": due_ms,
                "lag_ms": (landed - due) * 1000.0,
                **chk,
            }
        )
    return {"per_file": per_file, "period_ms": period_ms, "files": files}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="mode", required=True)
    paced = sub.add_parser("paced", help="open-loop file generator")
    paced.add_argument("--out", required=True)
    paced.add_argument("--tmp", required=True)
    paced.add_argument("--seed", type=int, required=True)
    paced.add_argument("--rate", type=int, required=True)
    paced.add_argument("--period-ms", type=int, required=True)
    paced.add_argument("--seconds", type=float, required=True)
    paced.add_argument("--start-id", type=int, default=0)
    paced.add_argument("--report", required=True)
    sub.add_parser("sets", help="write the file sets listed on stdin")
    args = p.parse_args(argv)
    if args.mode == "sets":
        jobs = json.load(sys.stdin)
        print(json.dumps([write_file_set(*job) for job in jobs]))
        return 0
    report = run_paced(
        args.out, args.tmp, args.seed, args.rate, args.period_ms,
        args.seconds, args.start_id,
    )
    staging = args.report + ".tmp"
    with open(staging, "w") as f:
        json.dump(report, f)
    os.rename(staging, args.report)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
