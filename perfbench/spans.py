"""Spans for the traced run, recorded from the benchmark's own files.

Only ``--trace 1`` calls :func:`install`. It wraps the public entry points of
each layer; the untraced run executes the package exactly as shipped.

Every span runs its block under a Spark job group of its own, so the jobs and
stage tasks a span launched are read back from ``statusTracker()`` at the end
of the run. A job belongs to the innermost span open on the thread that
submitted it. Spans are kept in memory until the run ends.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.recording = False
        self._local = threading.local()
        self._seq = itertools.count()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sc = self.sc
        prev = [sc.getLocalProperty(k) for k in _GROUP_KEYS]
        rec = {
            "name": name,
            "gid": f"perfbench-{next(self._seq)}",
            "parent": stack[-1]["gid"] if stack else None,
            **attrs,
        }
        sc.setJobGroup(rec["gid"], name)
        stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            stack.pop()
            for k, v in zip(_GROUP_KEYS, prev):
                sc.setLocalProperty(k, v)
            rec.update(t0=t0, t1=t1, sec=t1 - t0)
            if self.recording:
                with self._lock:
                    self.spans.append(rec)

    def count_jobs(self) -> None:
        """Attach ``jobs`` and ``tasks`` to every recorded span."""
        bus = self.sc._jsc.sc().listenerBus()
        try:
            bus.waitUntilEmpty()
        except Exception:  # noqa: BLE001 - older signature takes a timeout
            bus.waitUntilEmpty(30_000)
        st = self.sc.statusTracker()
        for rec in self.spans:
            ids = st.getJobIdsForGroup(rec["gid"])
            tasks = 0
            for j in ids:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else []:
                    si = st.getStageInfo(s)
                    tasks += si.numTasks if si else 0
            rec["jobs"] = len(ids)
            rec["tasks"] = tasks

    def select(self, name: str, t0: float | None = None, t1: float | None = None) -> list[dict]:
        return [
            r for r in self.spans
            if r["name"] == name
            and (t0 is None or r["t0"] >= t0)
            and (t1 is None or r["t1"] <= t1)
        ]

    def subtree_jobs(self, rec: dict, skip: tuple[str, ...] = ()) -> int:
        """Jobs launched by ``rec`` and every span nested under it, leaving
        out spans named in ``skip``."""
        kids: dict[str, list[dict]] = {}
        for r in self.spans:
            kids.setdefault(r["parent"], []).append(r)
        total, stack = 0, [rec]
        while stack:
            r = stack.pop()
            if r["name"] in skip:
                continue
            total += r.get("jobs", 0)
            stack.extend(kids.get(r["gid"], []))
        return total


def parquet_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def install(tr: Tracer):
    """Wrap each layer's entry points; returns a function that unwraps."""
    from airbyte_module_spark import engine as engine_mod
    from airbyte_module_spark import server as server_mod
    from airbyte_module_spark.lake import catalog as catalog_mod
    from airbyte_module_spark.lake import table as table_mod
    from airbyte_module_spark.streaming import pipeline as pipeline_mod

    undo = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        undo.append((owner, attr, orig))

    def timed(name):
        def make(orig):
            def wrapper(*a, **k):
                with tr.span(name):
                    return orig(*a, **k)

            return wrapper

        return make

    def lineage(orig):
        def lineage_from_grouped(grouped, *a, **k):
            # the aggregate is persisted but lazy: materialize it first so
            # parse+LWW is timed apart from the lineage job that reads it
            with tr.span("sources.parse_lww"):
                grouped.count()
            with tr.span("plans.lineage") as rec:
                out = orig(grouped, *a, **k)
            lin = out[0] if isinstance(out, tuple) else out
            rec.update(events=lin.n_events, winners=lin.n_winners)
            return out

        return lineage_from_grouped

    def writes_files(name):
        def make(orig):
            def wrapper(self, *a, **k):
                before = parquet_files(self.path)
                self.timings.pop("stage_write", None)
                with tr.span(name) as rec:
                    out = orig(self, *a, **k)
                after = parquet_files(self.path)
                new = after.keys() - before.keys()
                rec.update(
                    files=len(new),
                    bytes=sum(after[p] for p in new),
                    stage_write=self.timings.get("stage_write", 0.0),
                    result=out,
                )
                return out

            return wrapper

        return make

    def do_put(orig):
        def wrapper(*a, **k):
            with tr.span("server.do_put") as rec:
                out = orig(*a, **k)
            rec["chunks"] = server_mod.LAST_PUT_CHUNKS
            return out

        return wrapper

    def drain(kind):
        def make(orig):
            def batches(*a, **k):
                with tr.span("server.drain", kind=kind) as rec:
                    n = 0
                    for b in orig(*a, **k):
                        n += b.nbytes
                        yield b
                    rec["bytes"] = n

            return batches

        return make

    P = pipeline_mod.CdcPipeline
    L = table_mod.LakeTable
    patch(P, "apply_batch", timed("streaming.apply_batch"))
    patch(pipeline_mod, "lineage_from_grouped", lineage)
    patch(L, "merge", writes_files("lake.merge"))
    patch(L, "maintenance", writes_files("lake.maintenance"))
    patch(L, "read", timed("lake.read_plan"))
    patch(L, "changes", timed("lake.changes"))
    patch(L, "entry_bytes", timed("lake.entry_bytes"))
    patch(catalog_mod.FileCatalog, "publish", timed("lake.publish"))
    patch(engine_mod.Engine, "write", timed("lake.write"))
    if server_mod.HAVE_FLIGHT:
        S = server_mod.EngineFlightServer
        patch(S, "get_flight_info", timed("server.flight_info"))
        patch(S, "do_get", timed("server.do_get"))
        patch(S, "do_put", do_put)
        patch(server_mod, "_arrow_batches_eager", drain("eager"))
        patch(server_mod, "_arrow_batches", drain("iterator"))

    def uninstall():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return uninstall
