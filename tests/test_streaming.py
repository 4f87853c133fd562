"""M3: Structured Streaming tail — checkpointed availableNow replay, resume
after new data, restart idempotence (SURVEY.md §2.8 T1/T2)."""

import shutil

import pytest
from pyspark.errors import StreamingQueryException

from airbyte_module_spark.lake.table import LakeTable
from airbyte_module_spark.sources.generator import FeedSpec, generate_feed
from airbyte_module_spark.streaming.pipeline import CdcPipeline
from tests.util import assert_matches_oracle


def test_streaming_replay_matches_oracle(spark, tmp_path):
    """16 buckets over 4 shuffle partitions: every micro-batch is one delta
    entry of files holding several buckets each, and both readers agree
    on the full table and on every bucket slice."""
    feed = str(tmp_path / "feed")
    events = generate_feed(FeedSpec(seed=21, n_events=300, n_shards=6), feed)
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=16)
    pipe = CdcPipeline(table)
    pipe.replay_stream(feed, str(tmp_path / "ck"), max_files_per_trigger=2)
    assert_matches_oracle(table, events)
    # multiple micro-batches actually happened (maxFilesPerTrigger honored)
    snap = table.current_snapshot()
    assert len(snap["applied_batches"]) >= 3
    assert len(snap["entries"]) == len(snap["applied_batches"])
    assert any(len(e["buckets"]) > 1 for e in snap["entries"])

    def rows(t):
        return sorted(map(repr, t.to_pylist()))

    assert rows(table.read_arrow().read_all()) == rows(table.read().toArrow())
    for b in table.live_buckets():
        assert rows(table.read_arrow([b]).read_all()) == rows(table.read(buckets=[b]).toArrow())


def test_engine_replay_multibatch(spark, tmp_path):
    """Engine.replay(max_files_per_trigger=) splits a bounded replay into
    micro-batches (the production tail shape perfbench's tail_serve
    lands) with final state identical to the one-shot replay — also
    without a checkpoint dir: one delta entry per shard."""
    from airbyte_module_spark.engine import Engine

    feed = str(tmp_path / "feed")
    events = generate_feed(FeedSpec(seed=22, n_events=300, n_shards=6), feed)
    eng = Engine(spark, str(tmp_path / "t"), collect_lineage=True)
    eng.replay(feed, max_files_per_trigger=1)
    entries = eng.table.current_snapshot()["entries"]
    assert len(entries) == 6 and all(e["kind"] == "delta" for e in entries)
    assert len(eng.lineage()) == 6
    assert_matches_oracle(eng.table, events)


def test_streaming_resume_from_checkpoint(spark, tmp_path):
    """Feed arrives in two stages; the second run resumes from the checkpoint
    and only processes new shards. Final state equals a one-shot replay."""
    staged = tmp_path / "staged"
    events = generate_feed(FeedSpec(seed=22, n_events=300, n_shards=6), str(staged))
    live = tmp_path / "live"
    live.mkdir()
    for i in range(3):
        shutil.copy(staged / f"shard-{i:05d}.json", live / f"shard-{i:05d}.json")

    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    pipe = CdcPipeline(table)
    ck = str(tmp_path / "ck")
    pipe.replay_stream(str(live), ck, max_files_per_trigger=2)
    batches_stage1 = dict(table.current_snapshot()["applied_batches"])

    for i in range(3, 6):
        shutil.copy(staged / f"shard-{i:05d}.json", live / f"shard-{i:05d}.json")
    pipe.replay_stream(str(live), ck, max_files_per_trigger=2)

    # resumed, not reprocessed: stage-1 batch ids still map to their versions
    for k, v in batches_stage1.items():
        assert table.current_snapshot()["applied_batches"][k] == v
    assert_matches_oracle(table, events)

    # a third run with no new data must change nothing
    digest = table.digest()
    pipe.replay_stream(str(live), ck, max_files_per_trigger=2)
    assert table.digest() == digest


def test_keyless_stream_bounds_applied_batches(spark, tmp_path):
    """VERDICT r4 #3 end-to-end: a long keyless (append-only) streaming
    replay keeps snapshot metadata bounded — the sink's offset_watermark
    prunes exactly-once entries below the checkpoint's committed offset —
    while a restart over the same checkpoint still appends nothing."""
    feed = str(tmp_path / "feed")
    events = generate_feed(FeedSpec(seed=23, n_events=240, n_shards=8), feed)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), n_buckets=4, key_columns=[]
    )
    pipe = CdcPipeline(table)
    ck = str(tmp_path / "ck")
    pipe.replay_stream(feed, ck, max_files_per_trigger=1)  # 8 micro-batches
    applied = table.current_snapshot()["applied_batches"]
    assert len(applied) == 1, f"keyless record not bounded: {sorted(applied)}"
    n = table.read().count()
    # append-only: every non-tombstone event lands (read() hides op='d')
    assert n == sum(1 for e in events if e["record"]["data"]["op"] != "d")
    # restart over the same checkpoint: nothing redelivers, nothing changes
    pipe.replay_stream(feed, ck, max_files_per_trigger=1)
    assert table.read().count() == n


def test_continuous_tail_processes_live_data(spark, tmp_path):
    """T1 continuous mode: a processingTime-triggered tail picks up shards
    that arrive WHILE the query runs, converging to the oracle state without
    restarts (the reference can only re-pull full snapshots per request,
    /root/reference/abm/connector.py:223)."""
    import time

    from airbyte_module_spark.oracle import apply_events, table_digest

    staged = tmp_path / "staged"
    events = generate_feed(FeedSpec(seed=29, n_events=300, n_shards=6), str(staged))
    live = tmp_path / "live"
    live.mkdir()
    for i in range(3):
        shutil.copy(staged / f"shard-{i:05d}.json", live / f"shard-{i:05d}.json")

    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    pipe = CdcPipeline(table)
    cols = ["repo", "path", "commit", "lang", "content"]
    expected_digest = table_digest(apply_events(events), cols)

    query = pipe.replay_stream(
        str(live),
        str(tmp_path / "ck"),
        max_files_per_trigger=2,
        processing_time="500 milliseconds",
    )
    try:
        deadline = time.time() + 180
        # stage 1 visible, then drip the remaining shards into the live dir
        while time.time() < deadline and not table.current_snapshot()["applied_batches"]:
            time.sleep(0.5)
        for i in range(3, 6):
            shutil.copy(staged / f"shard-{i:05d}.json", live / f"shard-{i:05d}.json")
        converged = False
        while time.time() < deadline:
            try:
                if table.digest(cols) == expected_digest:
                    converged = True
                    break
            except Exception:
                pass  # snapshot mid-commit; retry
            time.sleep(1)
        assert converged, "tail did not converge to oracle state in time"
    finally:
        query.stop()
    assert_matches_oracle(table, events)


def test_restart_after_sink_crash_is_exactly_once(spark, tmp_path):
    """Simulate a crash after the table commit but before the checkpoint
    commit: the batch is re-delivered on restart and must be skipped by the
    (checkpoint_id, batch_id) dedup — digest unchanged."""
    feed = str(tmp_path / "feed")
    events = generate_feed(FeedSpec(seed=23, n_events=200, n_shards=4), feed)
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    pipe = CdcPipeline(table)
    ck = str(tmp_path / "ck")

    crashed = {"done": False}
    orig = pipe.apply_batch

    def crashing(raw, batch_id=0, checkpoint_id="adhoc", **kw):
        out = orig(raw, batch_id=batch_id, checkpoint_id=checkpoint_id, **kw)
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash after table commit")
        return out

    pipe.apply_batch = crashing
    try:
        pipe.replay_stream(feed, ck, max_files_per_trigger=1)
    except Exception:
        pass
    pipe.apply_batch = orig
    assert crashed["done"]  # the crash hit after batch 1 committed
    pipe.replay_stream(feed, ck, max_files_per_trigger=1)
    assert_matches_oracle(table, events)


def test_scheduled_maintenance_bounds_delta_growth(spark, tmp_path):
    """ADVICE r2: merge never compacts inline, so a long MoR replay must
    bound its own delta growth — CdcPipeline._post_commit runs
    maintenance() every ``maintenance_every`` committed batches."""
    feed = str(tmp_path / "feed")
    events = generate_feed(FeedSpec(seed=23, n_events=400, n_shards=8), feed)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), n_buckets=2, compact_after_deltas=3
    )
    pipe = CdcPipeline(table, maintenance_every=2)
    pipe.replay_stream(feed, str(tmp_path / "ck"), max_files_per_trigger=1)
    snap = table.current_snapshot()
    assert len(snap["applied_batches"]) >= 8
    # without scheduled maintenance every bucket would carry ~8 delta files
    # (one per batch, 2 buckets); with it, compaction folded them into bases
    per_bucket: dict[int, int] = {}
    for e in snap["entries"]:
        if e["kind"] == "delta":
            for b in e["buckets"]:
                per_bucket[b] = per_bucket.get(b, 0) + 1
    assert all(n < 8 for n in per_bucket.values()) or not per_bucket
    assert any(e["kind"] == "base" for e in snap["entries"])
    assert_matches_oracle(table, events)


def test_malformed_lines_skipped_like_reference(spark, tmp_path):
    """Non-JSON garbage and JSON-with-missing-op lines must be skipped (the
    reference's try/continue on connector stdout noise) — including under
    the r3 single-parse projection, where the keep-predicate must evaluate
    null-safe for unparseable lines."""
    import json as _json

    feed = str(tmp_path / "feed")
    events = generate_feed(FeedSpec(seed=31, n_events=200, n_shards=4), feed)
    with open(f"{feed}/shard-00000.json", "a") as f:
        f.write("this is not json at all\n")
        f.write("{\"type\": \"RECORD\"}\n")  # record with no payload
        f.write(_json.dumps({"type": "RECORD", "record": {
            "stream": "repo_files", "emitted_at": 10**15,
            "data": {"repo": "r", "path": "p"}}}) + "\n")  # no op: skip
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    CdcPipeline(table).replay_stream(feed, str(tmp_path / "ck"))
    assert_matches_oracle(table, events)


def test_replay_of_a_file_path_raises(spark, tmp_path):
    """A replay reads a feed DIRECTORY: a single file path fails loudly
    instead of landing anything."""
    from airbyte_module_spark.engine import Engine

    feed = str(tmp_path / "feed")
    generate_feed(FeedSpec(seed=24, n_events=40, n_shards=1), feed)
    eng = Engine(spark, str(tmp_path / "t"), n_buckets=2)
    with pytest.raises(StreamingQueryException, match="must be a directory"):
        eng.replay(f"{feed}/shard-00000.json")
    assert eng.table.current_snapshot()["entries"] == []
