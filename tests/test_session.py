"""Session-factory behavior: the Python-worker warmup (guide §4.3 — pay
heavyweight init once, at session creation, outside any measured query),
the worker daemon and the codegen cache size."""

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

from airbyte_module_spark import _pydaemon
from airbyte_module_spark.session import _warm_python_workers, get_spark
from tests.util import codegen_compiles


def test_python_workers_warmed_once_per_session(spark):
    sc = spark.sparkContext
    # the conftest session came through get_spark -> warmup already ran
    assert getattr(sc, "_ams_py_warm", False) is True
    # re-entering the factory (getOrCreate reuse) must not re-run the job
    s2 = get_spark(app_name="tests")
    assert s2 is spark or s2.sparkContext is sc
    assert sc._ams_py_warm is True


def test_warmup_env_gate(spark, monkeypatch):
    sc = spark.sparkContext
    monkeypatch.setenv("SPARK_GRAFT_NO_PY_WARMUP", "1")
    monkeypatch.setattr(sc, "_ams_py_warm", False, raising=False)
    try:
        _warm_python_workers(spark)
        # gated out: the helper returned before marking the session warm
        assert sc._ams_py_warm is False
    finally:
        sc._ams_py_warm = True


def test_warmup_runs_no_job_when_already_warm(spark, monkeypatch):
    """A warm session must not schedule another warmup job (the flag is the
    only thing consulted)."""
    monkeypatch.delenv("SPARK_GRAFT_NO_PY_WARMUP", raising=False)
    sc = spark.sparkContext
    assert sc._ams_py_warm is True
    group = "test-warmup-already-warm"
    sc.setJobGroup(group, "warm session: warmup must run no job")
    try:
        _warm_python_workers(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_warmup_failure_is_logged_not_raised(spark, monkeypatch, caplog):
    """A failing warmup job must leave a usable session: no exception
    escapes, a warning is logged, and the session stays unmarked so a
    later get_spark retries."""
    from pyspark.sql import functions as F

    monkeypatch.delenv("SPARK_GRAFT_NO_PY_WARMUP", raising=False)
    sc = spark.sparkContext
    monkeypatch.setattr(sc, "_ams_py_warm", False, raising=False)
    real_range = spark.range

    def failing_range(n, numPartitions=None):
        return real_range(n, numPartitions=numPartitions).select(
            F.raise_error(F.lit("warmup boom")).cast("long").alias("id")
        )

    monkeypatch.setattr(spark, "range", failing_range)
    with caplog.at_level("WARNING", logger="airbyte_module_spark.session"):
        _warm_python_workers(spark)
    assert sc._ams_py_warm is False
    assert "warmup failed" in caplog.text


def _zip_with(path, *modules):
    with zipfile.ZipFile(path, "w") as z:
        for m in modules:
            z.writestr(f"{m}.py", f"NAME = {m!r}\n")


def test_daemon_keeps_an_unchanged_zip_directory(tmp_path, monkeypatch):
    """The daemon's invalidate_caches reads an archive's directory once and
    not again while the archive is unchanged."""
    archive = str(tmp_path / "lib.zip")
    _zip_with(archive, "mod_a")
    importer = zipimport.zipimporter(archive)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    for _ in range(3):
        _pydaemon.invalidate_caches(importer)
    assert reads == [archive]
    assert importer.find_spec("mod_a") is not None


def test_daemon_rereads_a_rewritten_zip(tmp_path):
    """A zip rewritten with a new module makes that module importable after
    invalidate_caches, as the stock importer does."""
    archive = str(tmp_path / "lib.zip")
    _zip_with(archive, "mod_a")
    importer = zipimport.zipimporter(archive)
    _pydaemon.invalidate_caches(importer)
    assert importer.find_spec("mod_b") is None
    _zip_with(archive, "mod_a", "mod_b")
    _pydaemon.invalidate_caches(importer)
    spec = importer.find_spec("mod_b")
    assert spec is not None
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.NAME == "mod_b"


def test_importing_the_package_stays_light():
    """The worker daemon imports the package: that must not pull in
    pyspark.sql, pyarrow or numpy (nor print anything before the daemon
    writes its port)."""
    code = (
        "import sys, airbyte_module_spark._pydaemon; "
        "print(sorted(m for m in ('pyspark.sql', 'pyarrow', 'numpy', 'yaml') if m in sys.modules))"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True)
    assert out.stdout == "[]\n"


def test_every_task_runs_on_the_daemon_patch(spark):
    """Every task of a job with more partitions than cores runs in a worker
    forked from the engine's daemon, so it sees the daemon's
    invalidate_caches."""
    import pyarrow as pa

    def where(batches):
        import zipimport

        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pa.RecordBatch.from_pylist([{"file": code.co_filename}])

    n = 3 * spark.sparkContext.defaultParallelism
    rows = spark.range(n, numPartitions=n).mapInArrow(where, "file string").collect()
    assert len(rows) == n
    assert {os.path.basename(r.file) for r in rows} == {"_pydaemon.py"}


def test_codegen_cache_holds_more_than_a_hundred_plans(spark):
    """A plan compiled once is not compiled again after more than 100 other
    plans (the Spark default cache size) have been compiled."""
    from pyspark.sql import functions as F

    def run(i):
        spark.range(2, numPartitions=1).select((F.col("id") * 7 + F.lit(i)).alias("x")).collect()

    run(-1)
    start = codegen_compiles(spark)
    for i in range(150):
        run(i)
    before = codegen_compiles(spark)
    assert before - start >= 150
    run(-1)
    assert codegen_compiles(spark) == before
