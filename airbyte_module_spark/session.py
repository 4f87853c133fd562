"""SparkSession factory tuned for the CDC-ingest workload.

Local-mode testing stands in for a multi-executor cluster; the configuration
below is what we would ship in ``spark-submit --py-files`` deployment
(AQE + skew join + Arrow all on). See BASELINE.md "sandbox scaling-evidence
protocol" for the two-parallelism-level evidence run.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

#: Directory holding the ``airbyte_module_spark`` package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "airbyte_module_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with CDC-appropriate defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    ``shuffle_partitions`` defaults to the core count — at cluster scale this
    is set from batch volume instead (SURVEY.md §4.2 "shuffle sizing").
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = os.cpu_count() or 8 if n == "*" or n == "_" else int(n)

    # "__submitted__": keep the master provided by spark-submit untouched
    builder = SparkSession.builder
    if master != "__submitted__":
        builder = builder.master(master)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # ObjectHashAggregate (TypedImperativeAggregate buffers: the
        # collect_list groupings in the MinHash/banded-LSH candidate
        # expansion, collect_set, percentile) silently degrades to
        # SORT-based aggregation after only 128 distinct keys per task
        # (spark.sql.objectHashAggregate.sortBased.fallbackThreshold
        # default) — the dedup groupings carry thousands of keys per task.
        # Hash all the way; memory is one buffer per in-partition distinct
        # key, the same regime the sort buffer occupied. (The ingest LWW
        # max_by(struct(...)) is NOT affected: a declarative aggregate with
        # a struct buffer always plans as SortAggregate — its shuffle-volume
        # bound comes from the partial phase, not the hash/sort choice.)
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
        # the per-field schema-pruned from_json rewrite turns N extractions
        # from one parsed envelope into N textually-distinct from_json
        # calls, defeating subexpression elimination — the ingest parse
        # (sources/feed._project_filter_once) relies on ONE shared
        # from_json per line instead; pruning helps only extract-one-field-
        # from-a-blob shapes this engine doesn't use
        .config("spark.sql.optimizer.enableJsonExpressionOptimization", "false")
        # v2 file-output commit: task outputs move to the destination at
        # task commit instead of a second sequential driver-side rename pass
        # at job commit — the standard cloud/object-store setting; the v1
        # rename pass is serial in the driver and therefore a fixed cost
        # that scales with file count, not with executors
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # InferFiltersFromGenerate clones the generator's CHILD expression
        # into an inferred `size(e) > 0 AND isnotnull(e)` filter, and
        # PushDownPredicates then pushes that filter below any exchange —
        # for explode(word_shingles(text)) the whole interpreted zip_with
        # shingle pipeline is re-evaluated per row a second time, ON THE
        # PRE-REPARTITION (single-task, unsplittable-scan) side: measured
        # 3.6s vs 0.5s for the ngram-jaccard explode stage at sf1. The
        # rule only saves materializing rows whose array is empty (explode
        # drops them anyway); for this engine's generators the guard is
        # pure loss, so exclude it session-wide.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # generated classes are cached by source text; at the default 100
        # entries (in 4 LRU segments) the 31 corpus plans evicted each other
        # and recompiled identical sources every round
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    # deployment hook: SPARK_GRAFT_EXTRA_CONF='{"spark.memory.offHeap.enabled":
    # "true", ...}' overlays arbitrary conf without code changes — used by the
    # scaling harness for config experiments (e.g. off-heap at high thread
    # counts) and by cluster launch wrappers
    conf: dict[str, str] = {}
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json as _json

        conf.update((k, str(v)) for k, v in _json.loads(env_conf).items())
    conf.update(extra_conf or {})
    if master.startswith("local"):
        # Kernels that call module-level helpers are pickled by reference,
        # so the Python workers must import this package too. A driver
        # script started outside the package root finds it through its own
        # sys.path, which local-mode workers do not inherit.
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(p for p in (_PACKAGE_ROOT, conf.get(key)) if p)
        # the workers fork from a daemon that stops them re-reading
        # pyspark.zip before every task (see _pydaemon)
        conf.setdefault("spark.python.daemon.module", "airbyte_module_spark._pydaemon")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_python_workers(spark)
    return spark


def _warm_python_workers(spark: SparkSession) -> None:
    """Pre-fork the Python worker pool once per session (guide §4.3: pay
    heavyweight init once, outside the measured region).

    The first Arrow-kernel job of a session otherwise pays daemon fork +
    one ``import numpy`` per worker process *inside* whatever query happens
    to run first (measured on this box: first kernel query 6.0s cold vs
    2.7s after this warmup — the balance is that plan's own codegen). One
    tiny mapInPandas job with ``defaultParallelism`` tasks forks the full
    reusable worker pool and warms the imports; nothing from any data
    directory is touched, so there is nothing to cache or replay.
    Disable with SPARK_GRAFT_NO_PY_WARMUP=1 (e.g. Python-free smoke jobs).
    A failed warmup is logged, not raised, and leaves the session unmarked.
    """
    if os.environ.get("SPARK_GRAFT_NO_PY_WARMUP"):
        return
    sc = spark.sparkContext
    if sc is None or getattr(sc, "_ams_py_warm", False):
        return

    def _w(batches):
        import hashlib  # noqa: F401
        import numpy  # noqa: F401

        for b in batches:
            yield b

    n = max(sc.defaultParallelism, 1)
    try:
        spark.range(n, numPartitions=n).mapInPandas(_w, "id long").collect()
    except Exception:
        # the session is usable without warm workers: the first kernel
        # query pays the worker start-up instead, and the next get_spark
        # call tries again
        log.warning("Python worker warmup failed", exc_info=True)
        return
    sc._ams_py_warm = True
