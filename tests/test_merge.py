"""M1: replay → MERGE → final state matches the pandas oracle
(per-row content sha256 equality + whole-table digest, FIXTURES.md), plus
compaction, exactly-once and concurrent-writer commits on the lake table."""

import pytest

from airbyte_module_spark import model
from airbyte_module_spark.lake.table import LakeTable
from airbyte_module_spark.sources.generator import FeedSpec, generate_feed
from airbyte_module_spark.sources import feed as feed_src
from airbyte_module_spark.streaming.pipeline import CdcPipeline
from tests.util import (
    assert_lineage_matches_files,
    assert_matches_oracle,
    envelope,
    unreferenced_commit_dirs,
)


def _kv_table(spark, path):
    """Empty two-bucket table keyed on ``k`` with one long column ``v``."""
    import pyspark.sql.types as T

    sch = T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.LongType())])
    return LakeTable.create(
        spark, path, schema=model.table_schema(sch), key_columns=["k"], n_buckets=2
    )


def _kv_event(spark, k, v, cur):
    """One upsert event for ``_kv_table`` with cursor and seq ``cur``."""
    return spark.createDataFrame([(k, v)], "k string, v long").selectExpr(
        "k", "v", f"{cur}L as _ab_emitted_at", f"{cur}L as _ab_seq", "'u' as _ab_op"
    )


def test_replay_matches_oracle(spark, tmp_path):
    feed = str(tmp_path / "feed")
    events = generate_feed(FeedSpec(seed=42, n_events=400), feed)
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    CdcPipeline(table).replay_stream(feed)
    assert_matches_oracle(table, events)


def test_batch_boundary_independence(spark, tmp_path):
    """Splitting the same feed into many merges must converge to the same
    digest as one merge — the core replay-equality invariant."""
    feed_all = str(tmp_path / "all")
    events = generate_feed(FeedSpec(seed=11, n_events=300, n_shards=6), feed_all)

    t_one = LakeTable.create(spark, str(tmp_path / "one"), n_buckets=8)
    CdcPipeline(t_one).replay_stream(feed_all)

    t_many = LakeTable.create(spark, str(tmp_path / "many"), n_buckets=8)
    pipe = CdcPipeline(t_many)
    for i in range(6):
        raw = spark.read.text(f"{feed_all}/shard-{i:05d}.json")
        pipe.apply_batch(raw, batch_id=i, checkpoint_id="split")

    assert t_one.digest() == t_many.digest()
    assert_matches_oracle(t_many, events)


def test_idempotent_reapply(spark, tmp_path):
    """Exactly-once: (a) same (checkpoint, batch) id is skipped outright;
    (b) even a forced re-apply under a new id leaves the digest unchanged
    (LWW convergence)."""
    feed = str(tmp_path / "feed")
    generate_feed(FeedSpec(seed=5, n_events=200), feed)
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    pipe = CdcPipeline(table)
    raw = spark.read.text(feed)
    v1 = pipe.apply_batch(raw, batch_id=1, checkpoint_id="ck")
    assert v1 is not None
    d1 = table.digest()
    assert pipe.apply_batch(raw, batch_id=1, checkpoint_id="ck") is None  # skip
    assert pipe.apply_batch(raw, batch_id=2, checkpoint_id="ck") is not None
    assert table.digest() == d1


def test_late_event_loses_even_after_delete(spark, tmp_path):
    """Tombstone semantics: a lower-cursor update arriving after a delete must
    NOT resurrect the row (matches oracle; batch-boundary independent)."""
    import json

    def line(op, seq, emitted, content):
        return json.dumps({
            "type": "RECORD",
            "record": {"stream": "repo_files", "emitted_at": emitted,
                       "data": {"op": op, "seq": seq, "repo": "r", "path": "p",
                                "commit": "c" * 40, "lang": "py",
                                "content": content}}})

    d = tmp_path / "feed1"
    d.mkdir()
    (d / "a.json").write_text(line("i", 1, 100, "v1") + "\n" + line("d", 3, 300, None) + "\n")
    d2 = tmp_path / "feed2"
    d2.mkdir()
    (d2 / "b.json").write_text(line("u", 2, 200, "late") + "\n")

    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    pipe = CdcPipeline(table)
    pipe.apply_batch(spark.read.text(str(d)), batch_id=1, checkpoint_id="x")
    pipe.apply_batch(spark.read.text(str(d2)), batch_id=2, checkpoint_id="x")
    assert table.read().count() == 0


def test_compaction_preserves_state(spark, tmp_path):
    feed = str(tmp_path / "feed")
    events = generate_feed(FeedSpec(seed=9, n_events=300, n_shards=4), feed)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), n_buckets=4, compact_after_deltas=100
    )
    pipe = CdcPipeline(table)
    for i in range(4):
        raw = spark.read.text(f"{feed}/shard-{i:05d}.json")
        pipe.apply_batch(raw, batch_id=i, checkpoint_id="c")
    d_before = table.digest()
    n_delta = sum(1 for e in table.current_snapshot()["entries"] if e["kind"] == "delta")
    assert n_delta > 0
    table.compact()
    assert all(e["kind"] == "base" for e in table.current_snapshot()["entries"])
    assert table.digest() == d_before
    assert_matches_oracle(table, events)


def test_merge_never_compacts_inline(spark, tmp_path):
    """The ingest hot path must never stall on compaction: even with the
    delta threshold already crossed, merge() only appends deltas; folding
    happens exclusively through the explicit maintenance() API."""
    feed = str(tmp_path / "feed")
    events = generate_feed(FeedSpec(seed=21, n_events=300, n_shards=6), feed)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), n_buckets=2, compact_after_deltas=2
    )
    pipe = CdcPipeline(table)
    for i in range(6):
        raw = spark.read.text(f"{feed}/shard-{i:05d}.json")
        pipe.apply_batch(raw, batch_id=i, checkpoint_id="c")
    entries = table.current_snapshot()["entries"]
    # every merge appended deltas; none were folded inline
    assert all(e["kind"] == "delta" for e in entries)
    assert len(table.buckets_needing_compaction()) > 0

    d_before = table.digest()
    assert table.maintenance() is not None
    assert all(e["kind"] == "base" for e in table.current_snapshot()["entries"])
    assert table.digest() == d_before
    assert table.maintenance() is None  # nothing left to do
    assert_matches_oracle(table, events)


def test_changes_between_versions(spark, tmp_path):
    """Incremental CDC-consumer read: changes(v1, v2) returns exactly the
    LWW-resolved rows the second batch applied (tombstones visible); after
    compaction folds the delta history the same call serves the NET state
    diff on the identity key instead of refusing (VERDICT r4 #6 — both
    snapshots stay readable, so the format can offer what Iceberg's
    changelog cannot)."""
    from airbyte_module_spark.lake.table import dedup_lww

    feed = str(tmp_path / "feed")
    generate_feed(FeedSpec(seed=31, n_events=300, n_shards=2), feed)
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    pipe = CdcPipeline(table)
    raw0 = spark.read.text(f"{feed}/shard-00000.json")
    v1 = pipe.apply_batch(raw0, batch_id=0, checkpoint_id="c")
    raw1 = spark.read.text(f"{feed}/shard-00001.json")
    v2 = pipe.apply_batch(raw1, batch_id=1, checkpoint_id="c")

    got = {
        (r["repo"], r["path"]): (r[model.META_SEQ], r[model.META_OP])
        for r in table.changes(v1, v2).collect()
    }
    expected_rows = dedup_lww(feed_src.parse_envelopes_once(raw1)).collect()
    expected = {
        (r["repo"], r["path"]): (r[model.META_SEQ], r[model.META_OP])
        for r in expected_rows
    }
    assert got == expected
    assert any(op == "d" for _, op in got.values()), "tombstones must be visible"

    # full-range changes == current LWW state incl. tombstones
    assert table.changes(0).count() == table.read_internal().count()

    # compaction folds the delta history → changes() switches to the
    # snapshot-diff plan: exactly the keys whose winning (cursor, seq)
    # changed between the two states, values identical to head state
    state_v1 = {
        (r["repo"], r["path"]): (r[model.META_SEQ])
        for r in table.read_internal(version=v1).collect()
    }
    head_rows = table.read_internal().collect()
    expected_diff = {
        (r["repo"], r["path"]): (r[model.META_SEQ], r[model.META_OP])
        for r in head_rows
        if state_v1.get((r["repo"], r["path"])) != r[model.META_SEQ]
    }
    table.compact()
    got_diff = {
        (r["repo"], r["path"]): (r[model.META_SEQ], r[model.META_OP])
        for r in table.changes(v1).collect()
    }
    assert got_diff == expected_diff
    assert got_diff, "second batch must have changed some keys"

    # a KEYLESS table still refuses a rewritten range (no identity to diff)
    kl = LakeTable.create(
        spark, str(tmp_path / "kl"),
        schema=model.table_schema(model.base_data_schema()),
        key_columns=[], n_buckets=2,
    )
    pipe_kl = CdcPipeline(kl)
    kv1 = pipe_kl.apply_batch(raw0, batch_id=0, checkpoint_id="c")
    pipe_kl.apply_batch(raw1, batch_id=1, checkpoint_id="c")
    kl.compact()
    with pytest.raises(ValueError):
        kl.changes(kv1)


def test_time_travel(spark, tmp_path):
    feed = str(tmp_path / "feed")
    generate_feed(FeedSpec(seed=3, n_events=100, n_shards=2), feed)
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    pipe = CdcPipeline(table)
    raw0 = spark.read.text(f"{feed}/shard-00000.json")
    v1 = pipe.apply_batch(raw0, batch_id=0, checkpoint_id="c")
    count_v1 = table.read(version=v1).count()
    raw1 = spark.read.text(f"{feed}/shard-00001.json")
    pipe.apply_batch(raw1, batch_id=1, checkpoint_id="c")
    assert table.read(version=v1).count() == count_v1  # snapshot immutable


def test_post_merge_hook_fires_after_commit_only(spark, tmp_path):
    """The pluggable post-merge hook (reference: post-write dbt normalization
    container, abm/normalization.py:28-42) fires once per committed merge and
    never for exactly-once-skipped batches."""
    feed = str(tmp_path / "feed")
    generate_feed(FeedSpec(seed=13, n_events=100), feed)
    calls: list[int] = []
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    pipe = CdcPipeline(table, post_merge_hook=lambda t, v: calls.append(v))
    raw = spark.read.text(feed)
    v1 = pipe.apply_batch(raw, batch_id=1, checkpoint_id="h")
    assert calls == [v1]
    pipe.apply_batch(raw, batch_id=1, checkpoint_id="h")  # skipped
    assert calls == [v1]


def test_lineage_recorded(spark, tmp_path):
    feed = str(tmp_path / "feed")
    generate_feed(FeedSpec(seed=4, n_events=150), feed)
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    CdcPipeline(table).replay_stream(feed)
    lin = table.lineage()
    assert len(lin) == 1
    rec = lin[0]
    assert rec["n_events"] >= rec["n_winners"] > 0
    assert rec["n_conflicts"] == rec["n_events"] - rec["n_winners"]
    assert rec["min_emitted_at"] <= rec["max_emitted_at"]
    assert rec["min_seq"] <= rec["max_seq"]
    assert rec["per_partition"], "per-partition lineage missing"
    assert_lineage_matches_files(table, rec)
    entry = table.current_snapshot()["entries"][0]
    assert {p["file"] for p in rec["per_partition"]} == {
        f"{entry['dir']}/{f['name']}" for f in entry["files"]
    }


def test_bucket_without_cursors_lands(spark, tmp_path):
    """Events without ``record.emitted_at`` land, and the batch's cursor
    range covers the cursors that are set — also when every event of a
    bucket lacks one (a per-bucket minimum of None crashed the stream)."""
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    paths = [f"f{i}" for i in range(6)]
    keyed = spark.createDataFrame([("org/r", p) for p in paths], "repo string, path string")
    bucket = {r["path"]: r[model.BUCKET_COLUMN] for r in table.with_bucket(keyed).collect()}
    bare = bucket[paths[0]]  # the bucket whose events carry no cursor
    cursors = {p: None if bucket[p] == bare else 100 + i for i, p in enumerate(paths)}
    assert 0 < sum(c is None for c in cursors.values()) < len(paths)
    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "shard-0.json").write_text(
        "\n".join(envelope(p, i + 1, cursors[p], op="i") for i, p in enumerate(paths)) + "\n"
    )
    CdcPipeline(table).replay_stream(str(feed))
    assert sorted(r["path"] for r in table.read().collect()) == paths
    (rec,) = table.lineage()
    set_ = [c for c in cursors.values() if c is not None]
    assert (rec["n_events"], rec["min_emitted_at"], rec["max_emitted_at"]) == (6, min(set_), max(set_))
    assert_lineage_matches_files(table, rec)


def test_applied_batches_retention_bounded(spark, tmp_path, monkeypatch):
    """Snapshot metadata must stay metadata-sized at 10^6 batches: the
    exactly-once record keeps only the newest ``MAX_APPLIED_BATCHES``
    entries; recent re-deliveries still skip, and even an aged-out batch is
    harmless to re-apply (LWW idempotence)."""
    import pyspark.sql.types as T

    from airbyte_module_spark import model

    sch = T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.LongType())])
    monkeypatch.setattr(LakeTable, "MAX_APPLIED_BATCHES", 3)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), schema=model.table_schema(sch),
        key_columns=["k"], n_buckets=2,
    )
    df = lambda i: spark.createDataFrame([(f"k{i}", i)], sch).selectExpr(
        "k", "v", f"{i}L as _ab_emitted_at", f"{i}L as _ab_seq", "'u' as _ab_op"
    )
    for i in range(6):
        assert table.merge(df(i), batch_id=i, checkpoint_id="c") is not None
    snap = table.current_snapshot()
    assert len(snap["applied_batches"]) == 3
    # most recent retained, re-delivery of a recent batch skips
    assert table.merge(df(5), batch_id=5, checkpoint_id="c") is None
    # aged-out batch re-applies but LWW keeps the state identical
    before = table.digest()
    assert table.merge(df(0), batch_id=0, checkpoint_id="c") is not None
    assert table.digest() == before


def test_keyless_applied_batches_never_pruned(spark, tmp_path, monkeypatch):
    """ADVICE r3: a keyless (append-mode) table has no LWW second line of
    defense, so its applied-batches record must NOT be pruned — a batch
    re-delivered past the retention window would otherwise append duplicate
    rows."""
    import pyspark.sql.types as T

    from airbyte_module_spark import model

    sch = T.StructType([T.StructField("v", T.LongType())])
    monkeypatch.setattr(LakeTable, "MAX_APPLIED_BATCHES", 3)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), schema=model.table_schema(sch),
        key_columns=[], n_buckets=2,
    )
    df = lambda i: spark.createDataFrame([(i,)], sch).selectExpr(
        "v", f"{i}L as _ab_emitted_at", f"{i}L as _ab_seq", "'i' as _ab_op"
    )
    for i in range(6):
        assert table.merge(df(i), batch_id=i, checkpoint_id="c") is not None
    # ALL six batch records retained despite MAX_APPLIED_BATCHES=3
    assert len(table.current_snapshot()["applied_batches"]) == 6
    # a redelivery from far past the window still skips — no duplicate rows
    assert table.merge(df(0), batch_id=0, checkpoint_id="c") is None
    assert table.read().count() == 6


def test_keyless_applied_batches_watermark_pruning(spark, tmp_path):
    """VERDICT r4 #3: the streaming sink's ``offset_watermark`` bounds the
    keyless exactly-once record — entries below the checkpoint's committed
    offset (which Structured Streaming can never redeliver) are pruned, so
    snapshot metadata stays O(1) on a long append-only replay instead of
    O(total batches); the current batch (which CAN re-run after a crash)
    and foreign-checkpoint entries are retained."""
    import pyspark.sql.types as T

    from airbyte_module_spark import model

    sch = T.StructType([T.StructField("v", T.LongType())])
    table = LakeTable.create(
        spark, str(tmp_path / "t"), schema=model.table_schema(sch),
        key_columns=[], n_buckets=2,
    )
    df = lambda i: spark.createDataFrame([(i,)], sch).selectExpr(
        "v", f"{i}L as _ab_emitted_at", f"{i}L as _ab_seq", "'i' as _ab_op"
    )
    # an ad-hoc merge under a different checkpoint must survive all pruning
    assert table.merge(df(100), batch_id=100, checkpoint_id="adhoc") is not None
    # long streaming replay: sink passes offset_watermark=batch_id
    for i in range(50):
        assert (
            table.merge(df(i), batch_id=i, checkpoint_id="cp", offset_watermark=i)
            is not None
        )
    applied = table.current_snapshot()["applied_batches"]
    # bounded: only the latest streaming batch + the foreign entry remain
    assert set(applied) == {"cp:49", "adhoc:100"}
    # the current (re-runnable) batch still skips on redelivery
    assert table.merge(df(49), batch_id=49, checkpoint_id="cp", offset_watermark=49) is None
    assert table.merge(df(100), batch_id=100, checkpoint_id="adhoc") is None
    assert table.read().count() == 51
    # merges WITHOUT a watermark never prune (the ad-hoc contract, unchanged)
    for i in range(50, 53):
        assert table.merge(df(i), batch_id=i, checkpoint_id="cp") is not None
    assert {"cp:49", "cp:50", "cp:51", "cp:52", "adhoc:100"} <= set(
        table.current_snapshot()["applied_batches"]
    )


def test_overwrite_is_atomic_under_crash(spark, tmp_path, monkeypatch):
    """VERDICT r3 #4: overwrite is ONE replacement commit — a crash at the
    publish point leaves the complete old state, never an empty table (the
    r3 truncate-then-merge pair could)."""
    import pyspark.sql.types as T

    from airbyte_module_spark import Engine
    from airbyte_module_spark.lake.catalog import FileCatalog

    sch = T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.LongType())])
    eng = Engine(spark, str(tmp_path / "t"), schema=sch, key_columns=["k"], n_buckets=2)
    eng.write(spark.createDataFrame([("a", 1), ("b", 2)], sch), mode="append")
    before = sorted(tuple(r) for r in eng.read().collect())

    real_publish = FileCatalog.publish

    def crash(self, snap, expected_parent):
        raise RuntimeError("simulated crash at commit point")

    monkeypatch.setattr(FileCatalog, "publish", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.write(spark.createDataFrame([("c", 3)], sch), mode="overwrite")
    monkeypatch.setattr(FileCatalog, "publish", real_publish)
    # full OLD state survives — not empty, not partial
    assert sorted(tuple(r) for r in eng.read().collect()) == before
    # and a later overwrite still works normally
    eng.write(spark.createDataFrame([("c", 3)], sch), mode="overwrite")
    assert sorted(tuple(r) for r in eng.read().collect()) == [("c", 3)]


def test_concurrent_writers_both_commit_with_rebase(spark, tmp_path):
    """VERDICT r3 #4: two interleaved writers — writer A stages, writer B
    commits underneath, and A's commit appends its already-staged delta to
    B's head instead of A's stale one. Both batches land."""
    path = str(tmp_path / "t")
    a = _kv_table(spark, path)
    b = LakeTable.load(spark, path)
    ev = lambda k, v, cur: _kv_event(spark, k, v, cur)

    # interleave: when A stages its files, B sneaks in a full commit
    orig_stage = LakeTable._stage_write
    raced = {"done": False}

    def stage_and_race(self, *args, **kw):
        entries = orig_stage(self, *args, **kw)
        if self is a and not raced["done"]:
            raced["done"] = True
            assert b.merge(ev("kb", 2, 200), batch_id=1, checkpoint_id="b") is not None
        return entries

    LakeTable._stage_write = stage_and_race
    try:
        version = a.merge(ev("ka", 1, 100), batch_id=1, checkpoint_id="a")
    finally:
        LakeTable._stage_write = orig_stage
    assert version is not None
    snap = a.current_snapshot()
    assert version == snap["version"]
    got = {r["k"]: r["v"] for r in a.read().collect()}
    assert got == {"ka": 1, "kb": 2}  # neither writer's batch was lost
    assert {"a:1", "b:1"} <= set(snap["applied_batches"])


def test_concurrent_same_batch_second_writer_skips(spark, tmp_path):
    """If the racing writer delivered the SAME (checkpoint, batch), the
    loser's retry must skip (exactly-once across writers), not double-apply."""
    path = str(tmp_path / "t")
    a = _kv_table(spark, path)
    b = LakeTable.load(spark, path)
    ev = lambda k, v, cur: _kv_event(spark, k, v, cur)
    orig_stage = LakeTable._stage_write
    raced = {"done": False}

    def stage_and_race(self, *args, **kw):
        entries = orig_stage(self, *args, **kw)
        if self is a and not raced["done"]:
            raced["done"] = True
            assert b.merge(ev("k", 9, 900), batch_id=7, checkpoint_id="c") is not None
        return entries

    LakeTable._stage_write = stage_and_race
    try:
        version = a.merge(ev("k", 9, 900), batch_id=7, checkpoint_id="c")
    finally:
        LakeTable._stage_write = orig_stage
    assert version is None  # second delivery skipped
    assert a.read().count() == 1
    # the skipped delivery's staged files do not outlive it
    assert unreferenced_commit_dirs(a) == set()


def test_snapshot_expiration_gc(spark, tmp_path, monkeypatch):
    """maintenance() expires snapshot history past the retention window and
    deletes data dirs referenced only by expired snapshots — the current
    state stays fully readable and compaction's superseded files actually
    leave storage."""
    import os

    feed = str(tmp_path / "feed")
    events = generate_feed(FeedSpec(seed=41, n_events=300, n_shards=6), feed)
    monkeypatch.setattr(LakeTable, "SNAPSHOT_RETENTION", 2)
    table = LakeTable.create(
        spark, str(tmp_path / "t"), n_buckets=2, compact_after_deltas=2,
    )
    pipe = CdcPipeline(table, maintenance_every=2)
    pipe.replay_stream(feed, str(tmp_path / "ck"), max_files_per_trigger=1)
    meta = os.path.join(str(tmp_path / "t"), "_meta")
    snaps = [n for n in os.listdir(meta) if n.startswith("snap-")]
    assert len(snaps) <= 3  # retention 2 + the current pointer's snapshot
    # every data dir still on disk is referenced by a retained snapshot
    retained_dirs = set()
    for n in snaps:
        v = int(n[5:-5])
        retained_dirs |= {e["dir"] for e in table.snapshot(v)["entries"]}
    # data dirs on disk: a base commit dir's per-bucket dirs, else the
    # commit dir itself — so a commit dir left holding no retained entry
    # (only its _SUCCESS marker, say) counts as an orphan
    data_root = os.path.join(str(tmp_path / "t"), "data")
    on_disk = set()
    for commit in os.listdir(data_root):
        names = os.listdir(os.path.join(data_root, commit))
        pb_dirs = {f"data/{commit}/{n}" for n in names if n.startswith("_pb=")}
        on_disk |= pb_dirs or {f"data/{commit}"}
    assert on_disk
    assert on_disk <= retained_dirs, f"orphans: {on_disk - retained_dirs}"
    assert_matches_oracle(table, events)


@pytest.mark.parametrize("keys", [["k"], []], ids=["keyed", "keyless"])
def test_compaction_folds_shared_delta_entries_whole(spark, tmp_path, keys):
    """compact([b]) where one delta entry holds buckets b and c, and
    another c and e: both entries fold whole (b widens to c, c to e), so
    no commit dir stays live for only some of its buckets, while a delta
    holding none of them stays. Reads are unchanged (no keyless row lost
    or doubled), changes() across the rewrite takes the state diff on a
    keyed table and raises on a keyless one, and every commit dir on disk
    is still referenced by a snapshot."""
    import os

    import pyspark.sql.types as T

    sch = T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.LongType())])
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema=model.table_schema(sch), key_columns=keys,
        n_buckets=16,
    )
    cols = "k string, v long, _ab_emitted_at long, _ab_seq long, _ab_op string"
    cands = [(f"k{i}", i, 100 + i, i, "u") for i in range(64)]
    # the bucket each candidate row lands in, computed as merge computes it
    df = t.with_bucket(t._conform(spark.createDataFrame(cands, cols), t.schema()))
    by_bucket: dict[int, list] = {}
    for r in df.collect():
        by_bucket.setdefault(r[model.BUCKET_COLUMN], []).append(tuple(r)[:5])
    c = next(x for x, rows in by_bucket.items() if len(rows) >= 2)
    b, e, f = [x for x in by_bucket if x != c][:3]

    def merge(rows):
        return t.merge(spark.createDataFrame(rows, cols))

    v1 = merge([by_bucket[b][0], by_bucket[c][0]])
    merge([by_bucket[c][1], by_bucket[e][0]])
    merge([by_bucket[f][0]])
    entries = t.current_snapshot()["entries"]
    assert sorted(x["buckets"] for x in entries) == sorted([sorted([b, c]), sorted([c, e]), [f]])
    before = sorted(map(tuple, t.read().collect()))
    assert len(before) == 5
    want_changes = sorted(map(tuple, t.changes(v1).collect()))

    t.compact([b])
    head = t.current_snapshot()
    kinds = sorted((x["buckets"], x["kind"]) for x in head["entries"])
    assert kinds == sorted([([b], "base"), ([c], "base"), ([e], "base"), ([f], "delta")])
    assert sorted(map(tuple, t.read().collect())) == before
    arrow = sorted(map(repr, t.read_arrow().read_all().to_pylist()))
    assert arrow == sorted(map(repr, t.read().toArrow().to_pylist()))
    if keys:
        assert t.changes_arrow(v1) is None  # a rewritten range: the state diff
        assert sorted(map(tuple, t.changes(v1).collect())) == want_changes
    else:
        with pytest.raises(ValueError, match="keyless"):
            t.changes(v1)
    referenced = {
        x["dir"].split("/")[1] for v in range(head["version"] + 1) for x in t.snapshot(v)["entries"]
    }
    assert set(os.listdir(os.path.join(t.path, "data"))) == referenced


def test_commutative_digest_matches_oracle_and_is_partition_invariant(spark, tmp_path):
    """digest(commutative=True) — the 10^10-row map-side-combining form —
    must match the pandas oracle's mirror exactly, stay invariant under
    repartitioning, and react to any row change."""
    import pyspark.sql.types as T

    from airbyte_module_spark import Engine
    from airbyte_module_spark.oracle import table_digest

    sch = T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.LongType())])
    eng = Engine(spark, str(tmp_path / "t"), schema=sch, key_columns=["k"], n_buckets=4)
    rows = [(f"k{i}", i) for i in range(50)]
    eng.write(spark.createDataFrame(rows, sch), mode="upsert")

    import pandas as pd

    exp = pd.DataFrame(rows, columns=["k", "v"])
    got = eng.digest(cols=["k", "v"], commutative=True)
    assert got == table_digest(exp, cols=["k", "v"], commutative=True)
    # invariant under physical layout (compaction rewrites the files)
    eng.table.compact()
    assert eng.digest(cols=["k", "v"], commutative=True) == got
    # sensitive to a single-row change
    eng.write(spark.createDataFrame([("k0", 999)], sch), mode="upsert")
    assert eng.digest(cols=["k", "v"], commutative=True) != got
    # and a duplicate-prone projection (key projected away) still counts
    # multiplicity: two rows with equal v must not cancel
    dup = table_digest(pd.DataFrame({"v": [7, 7]}), cols=["v"], commutative=True)
    single = table_digest(pd.DataFrame({"v": [7]}), cols=["v"], commutative=True)
    assert dup != single


@pytest.mark.parametrize("op", ["merge", "compact", "evolve"])
def test_cas_retry_budget_is_bounded(spark, tmp_path, monkeypatch, op):
    """merge, compact and evolve share one commit loop: under sustained
    contention (every publish loses its CAS) each makes exactly
    1 + MERGE_CAS_RETRIES publish attempts, then raises — and the files it
    staged do not outlive the failed commit."""
    import pyspark.sql.types as T

    from airbyte_module_spark.lake.catalog import ConcurrentCommitError, FileCatalog

    t = _kv_table(spark, str(tmp_path / "t"))
    t.merge(_kv_event(spark, "ka", 1, 100), batch_id=0, checkpoint_id="a")
    t.merge(_kv_event(spark, "ka", 2, 200), batch_id=1, checkpoint_id="a")
    run = {
        "merge": lambda: t.merge(_kv_event(spark, "kb", 1, 300), batch_id=2, checkpoint_id="a"),
        "compact": t.compact,
        "evolve": lambda: t.evolve([T.StructField("extra", T.StringType())]),
    }[op]
    calls = {"publish": 0}

    def always_conflict(self, snap, expected_parent):
        calls["publish"] += 1
        raise ConcurrentCommitError("sustained contention")

    monkeypatch.setattr(FileCatalog, "publish", always_conflict)
    with pytest.raises(ConcurrentCommitError):
        run()
    assert calls["publish"] == 1 + LakeTable.MERGE_CAS_RETRIES
    assert unreferenced_commit_dirs(t) == set()


def test_compaction_keeps_merge_landing_during_rewrite(spark, tmp_path, monkeypatch):
    """A merge that commits into the compacting bucket while compact()
    rewrites it must survive: the compaction swaps out only the entry dirs
    it read, so the racing delta stays in the head next to the new base."""
    path = str(tmp_path / "t")
    a = _kv_table(spark, path)
    b = LakeTable.load(spark, path)
    a.merge(_kv_event(spark, "k", 1, 100), batch_id=0, checkpoint_id="a")
    a.merge(_kv_event(spark, "k", 2, 200), batch_id=1, checkpoint_id="a")
    read_dirs = {e["dir"] for e in a.current_snapshot()["entries"]}

    orig_stage = LakeTable._stage_write
    raced = {"done": False}

    def stage_and_race(self, *args, **kw):
        entries = orig_stage(self, *args, **kw)
        if self is a and not raced["done"]:
            raced["done"] = True
            assert b.merge(_kv_event(spark, "k", 3, 300), batch_id=0, checkpoint_id="b") is not None
        return entries

    monkeypatch.setattr(LakeTable, "_stage_write", stage_and_race)
    version = a.compact()
    assert raced["done"]
    snap = a.current_snapshot()
    assert version == snap["version"]
    dirs = {e["dir"]: e["kind"] for e in snap["entries"]}
    assert not read_dirs & set(dirs)  # everything the rewrite read is folded
    assert sorted(dirs.values()) == ["base", "delta"]  # new base + racing delta
    assert {r["k"]: r["v"] for r in a.read().collect()} == {"k": 3}
    assert "b:0" in snap["applied_batches"]


def test_evolve_rebases_over_racing_merge(spark, tmp_path, monkeypatch):
    """A merge committing between evolve()'s head read and its publish
    makes the CAS fail; evolve re-widens the new head's schema instead of
    raising, and the merged row stays."""
    import pyspark.sql.types as T

    from airbyte_module_spark.lake.catalog import FileCatalog

    path = str(tmp_path / "t")
    a = _kv_table(spark, path)
    b = LakeTable.load(spark, path)
    a.merge(_kv_event(spark, "ka", 1, 100), batch_id=0, checkpoint_id="a")

    orig_publish = FileCatalog.publish
    raced = {"done": False}

    def race_then_publish(self, snap, expected_parent):
        if self is a.catalog and not raced["done"]:
            raced["done"] = True
            assert b.merge(_kv_event(spark, "kb", 2, 200), batch_id=0, checkpoint_id="b") is not None
        return orig_publish(self, snap, expected_parent)

    monkeypatch.setattr(FileCatalog, "publish", race_then_publish)
    version = a.evolve([T.StructField("extra", T.StringType())])
    assert raced["done"]
    snap = a.current_snapshot()
    assert version == snap["version"] == 3
    assert "extra" in a.schema().fieldNames()
    got = {r["k"]: (r["v"], r["extra"]) for r in a.read().collect()}
    assert got == {"ka": (1, None), "kb": (2, None)}
    assert {"a:0", "b:0"} <= set(snap["applied_batches"])


def test_threads_of_one_driver_both_commit(spark, tmp_path, monkeypatch):
    """Two handles merging from two threads of one driver, both staged on
    the same head: the catalog's parent check and pointer swap are one
    atomic step, so the loser of the CAS rebases and both rows land. Were
    check and swap separate steps, both threads could pass the check for the
    same parent: one commit would be lost and the other crash on the shared
    snapshot temp file."""
    import json
    import threading
    import types

    from airbyte_module_spark.lake import catalog as catalog_mod

    path = str(tmp_path / "t")
    a = _kv_table(spark, path)
    b = LakeTable.load(spark, path)

    staged = threading.Barrier(2, timeout=120)
    orig_stage = LakeTable._stage_write

    def stage_then_wait(self, *args, **kw):
        entries = orig_stage(self, *args, **kw)
        staged.wait()  # neither thread commits before both have staged
        return entries

    # widen the window between parent check and pointer swap: a writer
    # inside the snapshot write waits (bounded) for the other one
    inside = threading.Barrier(2, timeout=3)

    def slow_dump(obj, f):
        try:
            inside.wait()
        except threading.BrokenBarrierError:
            pass
        json.dump(obj, f)

    monkeypatch.setattr(LakeTable, "_stage_write", stage_then_wait)
    monkeypatch.setattr(
        catalog_mod, "json", types.SimpleNamespace(dump=slow_dump, load=json.load)
    )
    results, errors = {}, {}

    def run(name, table, k, v):
        try:
            results[name] = table.merge(
                _kv_event(spark, k, v, v), batch_id=1, checkpoint_id=name
            )
        except Exception as e:  # surfaced by the asserts below
            errors[name] = e

    threads = [
        threading.Thread(target=run, args=("a", a, "ka", 1)),
        threading.Thread(target=run, args=("b", b, "kb", 2)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == {}
    assert sorted(results.values()) == [1, 2]
    assert {r["k"]: r["v"] for r in a.read().collect()} == {"ka": 1, "kb": 2}
    assert {"a:1", "b:1"} <= set(a.current_snapshot()["applied_batches"])


def test_writes_in_the_same_millisecond_both_commit(spark, tmp_path, monkeypatch):
    """Two Engine.write calls under one clock tick must both land. Naming the
    commit after the millisecond made the second write look like an
    exactly-once redelivery: it returned None and its rows were lost."""
    import types

    import pyspark.sql.types as T

    from airbyte_module_spark import Engine
    from airbyte_module_spark import engine as engine_mod

    sch = T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.LongType())])
    eng = Engine(spark, str(tmp_path / "t"), schema=sch, key_columns=["k"], n_buckets=2)
    monkeypatch.setattr(engine_mod, "time", types.SimpleNamespace(time=lambda: 1_700_000_000.0))
    v1 = eng.write(spark.createDataFrame([("a", 1)], sch), mode="append")
    v2 = eng.write(spark.createDataFrame([("b", 2)], sch), mode="append")
    assert v1 is not None and v2 is not None
    assert sorted(tuple(r) for r in eng.read().collect()) == [("a", 1), ("b", 2)]
