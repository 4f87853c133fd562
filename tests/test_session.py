"""Session-factory behavior: the Python-worker warmup (guide §4.3 — pay
heavyweight init once, at session creation, outside any measured query)."""

import os

from airbyte_module_spark.session import _warm_python_workers, get_spark


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
