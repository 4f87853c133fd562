#!/usr/bin/env python3
"""Load generator for the serve phase of tail_serve: one client process,
a closed loop.

    python3 flight_client.py --port <port> --readers <n>

Reads one JSON command per line on stdin and answers one JSON line on stdout.
``{"cmd": "round", ...}`` runs one round of the seeded op mix and returns a
record per operation; ``{"cmd": "quit"}`` returns this process's peak RSS and
exits. Every thread holds one connection for the life of the process:
``readers`` reader threads plus one writer thread.

A round: each reader asks for the flight info of the read asset, then works
through its share of the seeded plan: ``slice_passes`` ``do_get`` per
bucket endpoint, one full single-ticket ``do_get`` and ``changes`` change
polls over a fixed version range. The writer thread sends ``puts`` fixed-size upserts to the
write asset, one after the other. Every thread starts its next operation
when the previous one completed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import threading
import time

import pyarrow as pa
import pyarrow.flight as fl

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fp import of_table  # noqa: E402


def drain(client, ticket) -> tuple[int, int, pa.Table]:
    reader = client.do_get(ticket)
    table = reader.read_all()
    return table.num_rows, table.nbytes, table


def put_table(ids: list[int], seed: int) -> pa.Table:
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "v": pa.array([1] * len(ids), pa.int64()),
        "payload": pa.array([f"put-{seed}-{i:012d}" * 4 for i in ids], pa.string()),
        "score": pa.array([float(i % 1000) for i in ids], pa.float64()),
    })


def reader_ops(msg: dict, reader: int) -> list[tuple]:
    """This reader's share of the round's plan, in its seeded order."""
    rng = random.Random(f"{msg['seed']}:{msg['round']}")
    n = msg["readers"]
    plan = [
        ("slice", b)
        for _ in range(msg["slice_passes"])
        for b in rng.sample(range(msg["buckets"]), msg["buckets"])
    ]
    plan += [("full", None)] + [("changes", None)] * msg["changes"]
    mine = plan[reader::n]
    random.Random(f"{msg['seed']}:{msg['round']}:{reader}").shuffle(mine)
    return mine


def run_reader(client, msg: dict, reader: int, out: list) -> None:
    t0 = time.perf_counter()
    info = client.get_flight_info(fl.FlightDescriptor.for_command(b"read"))
    out.append({"op": "info", "sec": time.perf_counter() - t0,
                "endpoints": len(info.endpoints)})
    by_bucket = {}
    for ep in info.endpoints:
        payload = json.loads(ep.ticket.ticket.decode())
        by_bucket[payload["buckets"][0]] = ep.ticket
    for op, bucket in reader_ops(msg, reader):
        if op == "slice":
            ticket = by_bucket[bucket]
        elif op == "full":
            ticket = fl.Ticket(json.dumps({"asset_name": "read"}).encode())
        else:
            ticket = fl.Ticket(json.dumps({
                "asset_name": "read",
                "from_version": msg["from_version"],
                "to_version": msg["to_version"],
            }).encode())
        t0 = time.perf_counter()
        rows, nbytes, table = drain(client, ticket)
        sec = time.perf_counter() - t0
        out.append({"op": op, "bucket": bucket, "sec": sec, "rows": rows,
                    "bytes": nbytes, "fp": str(of_table(table))})


def run_writer(client, msg: dict, out: list) -> None:
    desc = fl.FlightDescriptor.for_command(
        json.dumps({"asset": "write", "write_mode": "upsert"}).encode()
    )
    rows = msg["put_rows"]
    for j in range(msg["puts"]):
        table = put_table(list(range(j * rows, (j + 1) * rows)), msg["seed"])
        t0 = time.perf_counter()
        writer, _ = client.do_put(desc, table.schema)
        writer.write_table(table)
        writer.close()
        out.append({"op": "put", "sec": time.perf_counter() - t0, "rows": rows})


def run_round(clients: list, msg: dict) -> list[dict]:
    results: list[list] = [[] for _ in clients]
    errors: list[str] = []

    def guard(fn, *a):
        try:
            fn(*a)
        except Exception as e:  # noqa: BLE001 - reported to the checker
            errors.append(f"{type(e).__name__}: {e}")

    threads = [
        threading.Thread(target=guard, args=(run_reader, clients[i], msg, i, results[i]))
        for i in range(msg["readers"])
    ]
    threads.append(threading.Thread(target=guard, args=(run_writer, clients[-1], msg, results[-1])))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    ops = [r for part in results for r in part]
    return {"ops": ops, "errors": errors}


def hwm_kb() -> int:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--readers", type=int, required=True)
    args = ap.parse_args()
    loc = f"grpc://127.0.0.1:{args.port}"
    clients = [fl.connect(loc) for _ in range(args.readers + 1)]
    try:
        for line in sys.stdin:
            msg = json.loads(line)
            if msg["cmd"] == "quit":
                print(json.dumps({"hwm_kb": hwm_kb()}), flush=True)
                return
            print(json.dumps(run_round(clients, msg)), flush=True)
    finally:
        for c in clients:
            c.close()


if __name__ == "__main__":
    main()
