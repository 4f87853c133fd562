#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run builds its inputs from ``--seed``,
starts one Spark driver at ``local[nproc]``, sets up (inputs, correctness
reference, a fixed warm-up), then repeats rounds of the workload's fixed work
for ``--seconds`` (at least one round) and checks every operation's result.
The last line of standard output is the result JSON: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Everything
else goes to standard error. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
from common import geomean, log, median  # noqa: E402

WORKLOADS = {
    "tail_serve": "tail_serve",
    "corpus_queries": "corpus",
}


class Ctx:
    """What a workload gets: its seed and work dir, the session (set after
    ``Workload.prepare``), the tracer (traced run only) and the failure log."""

    def __init__(self, spark, seed: int, work: str, scale: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.scale = scale
        self.tracer = tracer
        self.failures: list[str] = []

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        log("FAIL", msg)

    @contextmanager
    def paused(self):
        """Correctness checks run outside the trace."""
        tr = self.tracer
        was = tr.recording if tr else False
        if tr:
            tr.recording = False
        try:
            yield
        finally:
            if tr:
                tr.recording = was


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(per-layer, end-to-end) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("per_layer", "end_to_end"))


def stop_session(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - make sure the JVM is gone
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny inputs for the smoke test")
    args = ap.parse_args()
    traced = bool(args.trace)

    layer_units, e2e_units = metric_units()
    work = common.make_workdir(args.workload)
    common.configure_env(work, traced)
    sys.path.insert(0, common.ROOT)
    try:
        import airbyte_module_spark
        from airbyte_module_spark import get_spark
    except ImportError as e:
        airbyte_module_spark = e
    if not os.path.abspath(getattr(airbyte_module_spark, "__file__", "")).startswith(
        os.path.join(common.ROOT, "")
    ):
        log(f"the engine is not importable from {common.ROOT}: {airbyte_module_spark}")
        shutil.rmtree(work, ignore_errors=True)
        return 2
    mod = importlib.import_module(WORKLOADS[args.workload])

    spark = None
    ctx = Ctx(None, args.seed, work, args.scale, None)
    wl = mod.Workload(ctx)
    try:
        wl.prepare()
        t = time.perf_counter()
        spark = ctx.spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t
        uninstall = None
        if traced:
            from spans import Tracer, install

            ctx.tracer = Tracer(spark)
            uninstall = install(ctx.tracer)
        wl.setup()
        setup_s = time.perf_counter() - T_START
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}s)")

        tracer = ctx.tracer
        if tracer:
            tracer.recording = True
        clock = common.Clock(args.seconds)
        ticks = common.cpu_ticks()
        rounds: list[dict] = []
        while clock.more(len(rounds)):
            rounds.append(wl.round())
            log(f"round {len(rounds)}: {rounds[-1].get('round_s', float('nan')):.3f}s")
        if tracer:
            tracer.recording = False
        box = common.cpu_shares(ticks, common.cpu_ticks())

        attempted = sum(r["attempted"] for r in rounds)
        failed = sum(r["failed"] for r in rounds)
        done = [r for r in rounds if "round_s" in r]
        ops = [x for r in done for x in r["ops"]]
        e2e, wall = {}, {}
        if done and ops:
            e2e = {"setup_s": setup_s, "round_cpu_s": median([r["cpu_s"] for r in done])}
            wall = {"round_s": median([r["round_s"] for r in done]), "op_geomean_s": geomean(ops)}
        log(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": traced,
            "rounds": len(rounds), "ops": len(ops),
            "box_cpu_while_measuring": box,
            "versions": {**common.versions(), "java": common.java_version(spark)},
            "end_to_end": e2e, "wall": wall,
        }))

        metrics: dict[str, tuple[float, str]] = {}
        if traced:
            tracer.count_jobs()
            uninstall()
            layers = {name: 0.0 for name in layer_units}
            layers.update(wl.layers(tracer, done))
            layers["session.get_spark_s"] = session_s
            layers["session.peak_rss_mb"] = common.peak_rss_mb(wl.extra_kb())
            if e2e:
                layers["trace.round_cpu_s"] = e2e["round_cpu_s"]
                layers["trace.round_s"] = wall["round_s"]
                layers["trace.op_geomean_s"] = wall["op_geomean_s"]
            unknown = set(layers) - set(layer_units)
            if unknown:
                raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
            metrics = {k: (v, layer_units[k]) for k, v in layers.items()}
        elif e2e:
            metrics = {k: (v, e2e_units[k]) for k, v in e2e.items()}
        if not metrics:
            log("no round completed")
            return 1
        common.emit(not ctx.failures, attempted, failed, metrics)
        return 0
    finally:
        wl.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
