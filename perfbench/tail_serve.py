"""tail_serve: land a seeded change feed as a micro-batch tail, then serve
the landed table over Arrow Flight while ingest is idle.

Land: the feed is split into ``N_FILES`` files and replayed with
``maxFilesPerTrigger=1`` into a fresh merge-on-read table, each trigger
starting after the previous commit (closed loop). The pipeline compacts
after trigger ``MAINTENANCE_EVERY``; the triggers after it leave two upsert
deltas per bucket, so every read resolves last-writer-wins over a compacted
base plus deltas.

Serve: one client process (perfbench/flight_client.py) runs a fixed seeded
op mix against the landed table ("read") and an empty write asset ("write"):
``nproc - 1`` reader threads do the per-bucket slice ``do_get`` of every
endpoint ``SLICE_PASSES`` times, one full single-ticket ``do_get`` and
change polls over the versions after the compaction; one writer thread does fixed-size ``do_put``
upserts. Each thread is a closed loop with its own connection.

One round = land + serve on fresh tables, so every round does identical
work. Its operations are the triggers that had input, timed by Structured
Streaming (``triggerExecution``), and the client's Flight calls. They come
in kinds of different length (the first trigger starts the stream, one
compacts, slices run three at a time), so their median sits on the edge
between two kinds and jumps from run to run; their geometric mean does not.
The upsert triggers, all but the first and the compacting one, give the
per-layer trigger latency.
Slice latency is a per-layer metric: under concurrent readers it follows the
box's load more than the round does.

Correctness, per operation: each replay's digest equals a DuckDB
last-writer-wins reference built once from the feed files; the slices of the
first warm-up round add up to that reference and every later slice equals
them; full reads equal the reference; change polls equal the first round's;
after each round the write asset holds exactly the rows put.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

from common import busy_s, cpus, log, median
from fp import MASK, fingerprint, row_hash_fp

N_FILES = 5
N_BUCKETS = 16
#: compaction fires on this trigger; the two later triggers leave deltas
MAINTENANCE_EVERY = 3
#: reads of every bucket endpoint per round
SLICE_PASSES = 2
WARMUP_ROUNDS = 1
CHANGE_POLLS = 2
PUTS = 2
SIZES = {
    # 20 events per key, 30% of events on one hot repo (as the scale feed)
    "full": {"events": 100_000, "keys": 5_000, "put_rows": 2_000},
    "tiny": {"events": 3_000, "keys": 150, "put_rows": 100},
}
DIGEST_COLUMNS = ["repo", "path", "commit", "lang", "content"]


def _normalized(col: str) -> str:
    """``functions.content.normalize_content_expr`` as DuckDB SQL."""
    unified = f"regexp_replace({col}, '\\r\\n?', '\\n', 'g')"
    stripped = f"regexp_replace({unified}, '[ \\t]+\\n', '\\n', 'g')"
    return f"regexp_replace({stripped}, '[ \\t]+$', '', 'g')"


def reference(feed_dir: str, work: str) -> tuple[str, tuple[int, int]]:
    """Last-writer-wins final state of the feed, computed by DuckDB straight
    from the NDJSON files: the ``LakeTable.digest`` of the user rows, and
    their (row count, fingerprint)."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
    con.execute("SET threads=2")
    cols = {
        "type": "VARCHAR",
        "record": "STRUCT(stream VARCHAR, emitted_at BIGINT, data STRUCT("
        "op VARCHAR, seq BIGINT, repo VARCHAR, path VARCHAR, \"commit\" VARCHAR,"
        " lang VARCHAR, content VARCHAR))",
    }
    row = " || '|' || ".join(
        f"coalesce({c}, '')"
        for c in ["d.repo", "d.path", 'd."commit"', "d.lang", _normalized("d.content")]
    )
    sql = f"""
    WITH ev AS (
      SELECT record.emitted_at AS em, record.data AS d
      FROM read_json('{feed_dir}/*.txt', format='newline_delimited', columns={cols!r})
      WHERE type = 'RECORD' AND record.stream = 'repo_files' AND record.data.op IS NOT NULL
    ), w AS (
      SELECT d, row_number() OVER (
        PARTITION BY d.repo, d.path ORDER BY em DESC, d.seq DESC) AS rn
      FROM ev
    )
    SELECT sha256({row}) AS h FROM w WHERE rn = 1 AND d.op <> 'd' ORDER BY h
    """
    try:
        hashes = [r[0] for r in con.execute(sql).fetchall()]
    finally:
        con.close()
    import hashlib

    digest = hashlib.sha256("\n".join(hashes).encode()).hexdigest()
    return digest, (len(hashes), row_hash_fp(hashes))


def _write_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("payload", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ])


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.scale]
        self.readers = max(cpus() - 1, 1)
        self.feed = os.path.join(ctx.work, "feed")
        self.n_round = 0
        self.client = None
        self.server = None
        self.client_kb = 0
        self.ref_slices = None
        self.ref_changes = None

    # ------------------------------------------------------------- setup
    def prepare(self) -> None:
        pass

    def setup(self) -> None:
        from airbyte_module_spark.server import EngineFlightServer
        from airbyte_module_spark.sources.generator import generate_feed_spark

        ctx = self.ctx
        generate_feed_spark(
            ctx.spark,
            self.size["events"],
            n_keys=self.size["keys"],
            hot_fraction=0.3,
            content_bytes=200,
            seed=ctx.seed,
        ).repartition(N_FILES).write.text(self.feed)
        self.ref_digest, self.ref_full = reference(self.feed, ctx.work)

        self.assets: dict = {}
        self.server = EngineFlightServer(self.assets, location="grpc://127.0.0.1:0")
        self.client = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "flight_client.py"),
             "--port", str(self.server.port), "--readers", str(self.readers)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        for _ in range(WARMUP_ROUNDS):
            self.round()

    def _engine(self, name: str, **opts):
        from airbyte_module_spark import Engine

        return Engine(self.ctx.spark, os.path.join(self.ctx.work, name),
                      n_buckets=N_BUCKETS, **opts)

    def _ask(self, msg: dict) -> dict:
        self.client.stdin.write(json.dumps(msg) + "\n")
        self.client.stdin.flush()
        line = self.client.stdout.readline()
        if not line:
            raise RuntimeError("flight client exited")
        return json.loads(line)

    # ------------------------------------------------------------- round
    def round(self) -> dict:
        from airbyte_module_spark.lake.table import LakeTable

        ctx = self.ctx
        k = self.n_round
        self.n_round += 1
        attempted = N_FILES + self.readers + SLICE_PASSES * N_BUCKETS + 1 + CHANGE_POLLS + PUTS
        out = {"attempted": attempted, "failed": attempted}
        table = os.path.join(ctx.work, f"table-{k}")
        ck = os.path.join(ctx.work, f"ck-{k}")
        try:
            LakeTable.create(ctx.spark, table, n_buckets=N_BUCKETS,
                             compact_after_deltas=MAINTENANCE_EVERY)
            eng = self._engine(f"table-{k}", maintenance_every=MAINTENANCE_EVERY)
            self.assets["read"] = eng
            self.assets["write"] = self._engine(
                f"write-{k}", schema=_write_schema(), key_columns=["id"]
            )
            c0, t0 = busy_s(), time.perf_counter()
            eng.replay(self.feed, checkpoint_dir=ck, max_files_per_trigger=1)
            t1 = time.perf_counter()
            from_version, to_version = self._delta_range(eng.table)
            res = self._ask({
                "cmd": "round", "round": k, "seed": ctx.seed, "readers": self.readers,
                "buckets": N_BUCKETS, "slice_passes": SLICE_PASSES,
                "changes": CHANGE_POLLS, "puts": PUTS,
                "put_rows": self.size["put_rows"],
                "from_version": from_version, "to_version": to_version,
            })
            t2, c2 = time.perf_counter(), busy_s()
            progress = eng.pipeline.stream_progress
            with ctx.paused():
                failed = self._check_replay(eng, progress, k) + self._check_serve(res, k)
                snap = os.path.join(table, "_meta", f"snap-{to_version}.json")
                out["snapshot_bytes"] = os.path.getsize(snap)
        except Exception as e:  # noqa: BLE001 - a failed round is a counted failure
            ctx.fail(f"round {k}: {type(e).__name__}: {e}")
            return out
        finally:
            for name in (table, ck, os.path.join(ctx.work, f"write-{k}")):
                shutil.rmtree(name, ignore_errors=True)
        ops = res["ops"]
        triggers = [
            p["durationMs"]["triggerExecution"] / 1000.0
            for p in progress if p.get("numInputRows", 0) > 0
        ]
        upserts = [t for i, t in enumerate(triggers, 1) if i > 1 and i % MAINTENANCE_EVERY]
        calls = [o["sec"] for o in ops]
        slices = [o["sec"] for o in ops if o["op"] == "slice"]
        log(json.dumps({"land_s": t1 - t0, "serve_s": t2 - t1, "cpu_s": c2 - c0,
                        "trigger_s": triggers,
                        "slice_p50_s": median(slices) if slices else None}))
        out.update(
            t0=t0, t1=t1, t2=t2,
            round_s=t2 - t0,
            cpu_s=c2 - c0,
            ops=triggers + calls,
            upserts=upserts,
            client_ops=ops,
            overhead=[
                (p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0))
                / 1000.0
                for p in progress
            ],
            failed=failed + max(attempted - N_FILES - len(calls), 0),
        )
        return out

    @staticmethod
    def _delta_range(table) -> tuple[int, int]:
        """(the compaction's version, head): the change-poll range that holds
        only the upsert deltas landed after the compaction."""
        head = table.current_version()
        for v in range(head - 1, -1, -1):
            entries = table.snapshot(v)["entries"]
            if entries and all(e["kind"] == "base" for e in entries):
                return v, head
        raise RuntimeError("no compaction followed by deltas during the replay")

    def _check_replay(self, eng, progress, k: int) -> int:
        triggers = sum(1 for p in progress if p.get("numInputRows", 0) > 0)
        if eng.read().columns == DIGEST_COLUMNS and eng.digest() == self.ref_digest \
                and triggers == N_FILES:
            return 0
        self.ctx.fail(f"round {k}: replay digest or trigger count ({triggers}) mismatch")
        return N_FILES

    def _check_serve(self, res: dict, k: int) -> int:
        ctx = self.ctx
        for e in res["errors"]:
            ctx.fail(f"round {k}: {e}")
        ops = res["ops"]
        if self.ref_slices is None:
            self.ref_slices = self._verify_union(ops)
        if self.ref_changes is None:
            polls = {(o["rows"], int(o["fp"])) for o in ops if o["op"] == "changes"}
            self.ref_changes = polls.pop() if len(polls) == 1 else None
        bad = 0
        for o in ops:
            if o["op"] == "slice":
                want = self.ref_slices.get(o["bucket"]) if self.ref_slices else None
            elif o["op"] == "full":
                want = self.ref_full
            elif o["op"] == "changes":
                want = self.ref_changes
            elif o["op"] == "info":
                if o["endpoints"] != N_BUCKETS:
                    bad += 1
                    ctx.fail(f"round {k}: {o['endpoints']} endpoints")
                continue
            else:
                continue
            if want is None or (o["rows"], int(o["fp"])) != want:
                bad += 1
                ctx.fail(f"round {k}: {o['op']} {o.get('bucket')} rows={o['rows']}")
        puts = [o for o in ops if o["op"] == "put"]
        if puts:
            t = self.assets["write"].read().select("id", "v").toArrow()
            n = len(puts) * self.size["put_rows"]
            got = (t.num_rows, fingerprint(t.column("id").to_numpy(), t.column("v").to_numpy()))
            if got != (n, fingerprint(np.arange(n), np.ones(n))):
                bad += len(puts)
                ctx.fail(f"round {k}: write asset holds {t.num_rows} rows, expected {n}")
        return bad

    def _verify_union(self, ops: list[dict]) -> dict | None:
        """Slices of the first round: one per bucket, together equal to the
        reference (fingerprints of disjoint slices add up)."""
        slices = {o["bucket"]: (o["rows"], int(o["fp"])) for o in ops if o["op"] == "slice"}
        if any(slices[o["bucket"]] != (o["rows"], int(o["fp"])) for o in ops if o["op"] == "slice"):
            self.ctx.fail("two reads of one slice differ")
            return None
        rows = sum(r for r, _ in slices.values())
        fp = sum(f for _, f in slices.values()) & MASK
        if len(slices) != N_BUCKETS or (rows, fp) != self.ref_full:
            self.ctx.fail(f"{len(slices)} slices of {rows} rows do not add up to the reference")
            return None
        return slices

    # ------------------------------------------------------------- end
    def extra_kb(self) -> int:
        if self.client is not None and self.client.poll() is None:
            self.client_kb = self._ask({"cmd": "quit"})["hwm_kb"]
            self.client.wait(timeout=60)
        return self.client_kb

    def close(self) -> None:
        if self.client is not None:
            self.client.stdin.close()  # the client exits at end of input
            try:
                self.client.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.client.kill()
                self.client.wait()
        if self.server is not None:
            self.server.shutdown()

    def layers(self, tr, rounds: list[dict]) -> dict[str, float]:
        per_round = [self._land_layers(tr, r) | self._serve_layers(tr, r) for r in rounds]
        if not per_round:
            return {}
        return {k: median([p[k] for p in per_round]) for k in per_round[0]}

    @staticmethod
    def _land_layers(tr, r: dict) -> dict[str, float]:
        w = (r["t0"], r["t1"])
        land_s = r["t1"] - r["t0"]
        parse = tr.select("sources.parse_lww", *w)
        lin = tr.select("plans.lineage", *w)
        apply = tr.select("streaming.apply_batch", *w)
        merges = tr.select("lake.merge", *w)
        maint = tr.select("lake.maintenance", *w)
        events = sum(s["events"] for s in lin)
        winners = sum(s["winners"] for s in lin)
        apply_s = sum(s["sec"] for s in apply)
        overhead = sum(r["overhead"])
        return {
            "streaming.land_s": land_s,
            "streaming.trigger_p50_s": median(r["upserts"]),
            "sources.parse_lww_s": sum(s["sec"] for s in parse),
            "sources.events": events,
            "plans.lineage_s": sum(s["sec"] for s in lin),
            "plans.winners": winners,
            "plans.winner_ratio": winners / events if events else 0.0,
            "streaming.apply_batch_s": apply_s,
            "streaming.trigger_overhead_s": overhead,
            "streaming.unattributed_s": land_s - apply_s - overhead,
            "streaming.coverage": (apply_s + overhead) / land_s,
            "streaming.batches": len(apply),
            # without the tracer's own count of the aggregate (sources.parse_lww)
            "spark.jobs_per_batch": (
                sum(tr.subtree_jobs(s, skip=("sources.parse_lww",)) for s in apply) / len(apply)
                if apply else 0.0
            ),
            "lake.merge_s": sum(s["sec"] for s in merges),
            "lake.stage_write_s": sum(s["stage_write"] for s in merges),
            "lake.publish_s": sum(s["sec"] for s in tr.select("lake.publish", *w)),
            "lake.maintenance_s": sum(s["sec"] for s in maint),
            "lake.compactions": sum(1 for s in maint if s["result"] is not None),
            "lake.compaction_tasks": sum(s["tasks"] for s in maint),
            "lake.files_written": sum(s["files"] for s in merges + maint),
            "lake.bytes_written": sum(s["bytes"] for s in merges + maint),
            "lake.bytes_per_winner": (
                sum(s["bytes"] for s in merges) / winners if winners else 0.0
            ),
            "lake.snapshot_bytes": r["snapshot_bytes"],
        }

    @staticmethod
    def _serve_layers(tr, r: dict) -> dict[str, float]:
        w = (r["t1"], r["t2"])
        ops = r["client_ops"]
        gets = tr.select("server.do_get", *w)
        drains = tr.select("server.drain", *w)
        eager = [s for s in drains if s["kind"] == "eager"]
        puts = tr.select("server.do_put", *w)
        writes = tr.select("lake.write", *w)
        slice_lat = [o["sec"] for o in ops if o["op"] == "slice"]
        full = [o for o in ops if o["op"] == "full"]
        do_get = median([s["sec"] for s in gets]) if gets else 0.0
        slice_collect = median([s["sec"] for s in eager]) if eager else 0.0
        return {
            "flight.serve_s": r["t2"] - r["t1"],
            "flight.get_slice_p50_s": median(slice_lat),
            "flight.get_full_mb_per_s": (
                sum(o["bytes"] for o in full) / 1e6 / sum(o["sec"] for o in full)
            ),
            "flight.changes_p50_s": median([o["sec"] for o in ops if o["op"] == "changes"]),
            "flight.put_p50_s": median([o["sec"] for o in ops if o["op"] == "put"]),
            "server.flight_info_s": _mean(tr.select("server.flight_info", *w)),
            "server.do_get_s": do_get,
            "lake.read_plan_s": _mean(tr.select("lake.read_plan", *w)),
            "lake.entry_bytes_s": _mean(tr.select("lake.entry_bytes", *w)),
            "server.slice_collect_s": slice_collect,
            "server.wire_s": median(slice_lat) - do_get - slice_collect,
            "server.eager_reads": len(eager),
            "server.iterator_reads": len(drains) - len(eager),
            "server.bytes_out": sum(s.get("bytes", 0) for s in drains),
            "spark.jobs_per_get": (
                sum(s["jobs"] for s in gets + drains) / len(gets) if gets else 0.0
            ),
            "lake.changes_s": _mean(tr.select("lake.changes", *w)),
            "lake.write_s": _mean(writes),
            "server.put_spill_s": _mean(puts) - _mean(writes),
            "server.put_chunks": _mean(puts, "chunks"),
        }


def _mean(spans: list[dict], key: str = "sec") -> float:
    return sum(s[key] for s in spans) / len(spans) if spans else 0.0
