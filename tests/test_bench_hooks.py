"""The traced benchmark run wraps package entry points by name
(``perfbench/spans.py``). Installing and removing those wrappers here fails
as soon as a change renames or deletes a name the traced run needs — without
running the minutes-long ``perfbench/test_smoke.py``."""

import importlib.util
import os

import pytest

SPANS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "spans.py")


@pytest.fixture(scope="module")
def spans():
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_traced_run_wrappers_install_and_uninstall(spark, spans):
    from airbyte_module_spark.lake.table import LakeTable
    from airbyte_module_spark.streaming.pipeline import CdcPipeline

    before = (CdcPipeline.apply_batch, LakeTable.merge, LakeTable.maintenance)
    uninstall = spans.install(spans.Tracer(spark))
    try:
        assert CdcPipeline.apply_batch is not before[0]
        assert LakeTable.merge is not before[1]
    finally:
        uninstall()
    assert (CdcPipeline.apply_batch, LakeTable.merge, LakeTable.maintenance) == before


def test_traced_pipeline_keeps_the_attributes_the_benchmark_reads(spark, tmp_path):
    """``bench.py`` and perfbench read ``pipeline.timings``,
    ``pipeline.stream_progress`` and ``table.timings["stage_write"]``."""
    from airbyte_module_spark import Engine
    from airbyte_module_spark.sources.generator import FeedSpec, generate_feed

    feed = str(tmp_path / "feed")
    generate_feed(FeedSpec(seed=5, n_events=60, n_shards=2), feed)
    eng = Engine(spark, str(tmp_path / "t"), n_buckets=2)
    eng.replay(feed, checkpoint_dir=str(tmp_path / "ck"), max_files_per_trigger=1)
    assert {"lineage", "merge", "post_commit", "apply_batch_total"} <= set(eng.pipeline.timings)
    assert eng.pipeline.stream_progress
    assert "stage_write" in eng.table.timings


def test_traced_replay_records_lineage_per_batch(spark, spans, tmp_path):
    """With the traced run's wrappers installed, a replay of 2 batches
    records one ``plans.lineage`` span per committed batch, each carrying
    the batch's non-zero event and winner counts, after its own
    ``sources.parse_lww`` span."""
    from airbyte_module_spark import Engine
    from airbyte_module_spark.sources.generator import FeedSpec, generate_feed

    feed = str(tmp_path / "feed")
    generate_feed(FeedSpec(seed=6, n_events=80, n_shards=2), feed)
    eng = Engine(spark, str(tmp_path / "t"), n_buckets=4)
    tr = spans.Tracer(spark)
    tr.recording = True
    uninstall = spans.install(tr)
    try:
        eng.replay(feed, checkpoint_dir=str(tmp_path / "ck"), max_files_per_trigger=1)
    finally:
        uninstall()
    lineage = tr.select("plans.lineage")
    assert len(lineage) == len(tr.select("sources.parse_lww")) == len(eng.lineage()) == 2
    assert all(s["events"] > 0 and s["winners"] > 0 for s in lineage)
    assert [s["events"] for s in lineage] == [lin["n_events"] for lin in eng.lineage()]
