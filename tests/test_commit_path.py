"""One commit tail for ingest batches and client writes: exactly-once
identities of replays, scheduled maintenance of writes, and the jobs a
write runs."""

import os
import shutil
import threading

import pyspark.sql.types as T

from airbyte_module_spark import Engine, model
from airbyte_module_spark.lake.table import LakeTable
from airbyte_module_spark.sources.generator import FeedSpec, generate_feed
from airbyte_module_spark.streaming.pipeline import CdcPipeline
from tests.util import assert_matches_oracle, count_jobs

USER_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("first_name", T.StringType(), True),
        T.StructField("salary", T.DoubleType(), True),
    ]
)


def _split_feed(tmp_path, seed):
    """One generated feed of 6 shards split into two feeds of 3 shards each:
    (events of the whole feed, feed A dir, feed B dir)."""
    whole = tmp_path / "whole"
    events = generate_feed(FeedSpec(seed=seed, n_events=300, n_shards=6), str(whole))
    shards = sorted(f for f in os.listdir(whole) if not f.startswith((".", "_")))
    assert len(shards) == 6
    halves = []
    for name, part in (("a", shards[:3]), ("b", shards[3:])):
        d = tmp_path / name
        d.mkdir()
        for f in part:
            shutil.copy(whole / f, d / f)
        halves.append(str(d))
    return events, halves[0], halves[1]


def _rows(spark, n, offset=0):
    return spark.range(offset, offset + n).selectExpr(
        "id", "concat('u', id) AS first_name", "id * 0.5 AS salary"
    )


def test_replays_of_two_feeds_both_land(spark, tmp_path):
    """Two replays of different feeds without a checkpoint dir both commit:
    the table keeps one checkpoint per feed path, so the second is no
    duplicate of the first. Together they give the state of the whole
    feed; re-running either lands nothing."""
    events, feed_a, feed_b = _split_feed(tmp_path, seed=31)
    eng = Engine(spark, str(tmp_path / "t"), n_buckets=8)
    eng.replay(feed_a)
    v_a = eng.table.current_version()
    eng.replay(feed_b)
    assert eng.table.current_version() == v_a + 1
    assert_matches_oracle(eng.table, events)
    eng.replay(feed_a)
    eng.replay(feed_b)
    assert eng.table.current_version() == v_a + 1
    assert len(os.listdir(os.path.join(eng.table.path, "_checkpoints"))) == 2
    # each replay is recorded under the identity its lineage names
    lineage = {f"{r['checkpoint_id']}:{r['batch_id']}" for r in eng.lineage()}
    assert set(eng.table.current_snapshot()["applied_batches"]) == lineage
    assert len(lineage) == 2


def test_keyless_replay_rerun_is_skipped(spark, tmp_path):
    """On a keyless table the exactly-once record is the only defense: the
    same feed replayed again — with or without a trailing "/" — adds no
    duplicate rows, while a different feed still lands."""
    _, feed_a, feed_b = _split_feed(tmp_path, seed=32)
    eng = Engine(spark, str(tmp_path / "t"), key_columns=[], n_buckets=4)
    eng.replay(feed_a)
    v1 = eng.table.current_version()
    n_a = eng.read().count()
    assert n_a > 0
    eng.replay(feed_a)
    eng.replay(feed_a + "/")
    assert eng.table.current_version() == v1
    assert eng.read().count() == n_a
    eng.replay(feed_b)
    assert eng.table.current_version() == v1 + 1
    assert eng.read().count() > n_a


def test_keyless_replay_of_grown_feed_lands_once(spark, tmp_path):
    """A feed dir replayed, then grown by a shard and replayed again, lands
    every event exactly once on a keyless table: the second replay reads
    only the new shard."""
    whole = tmp_path / "whole"
    events = generate_feed(FeedSpec(seed=34, n_events=150, n_shards=3), str(whole))
    live = tmp_path / "live"
    live.mkdir()
    for i in range(2):
        shutil.copy(whole / f"shard-{i:05d}.json", live / f"shard-{i:05d}.json")
    eng = Engine(spark, str(tmp_path / "t"), key_columns=[], n_buckets=4)
    eng.replay(str(live))
    shutil.copy(whole / "shard-00002.json", live / "shard-00002.json")
    eng.replay(str(live))
    assert eng.read().count() == sum(1 for e in events if e["record"]["data"]["op"] != "d")


def test_client_writes_leave_exactly_once_record_unchanged(spark, tmp_path):
    """A client write has no identity a source could deliver again, so it
    is neither checked nor recorded: any number of writes to a keyless
    table (whose record is never pruned without a watermark) leaves the
    record as it was, and every write lands. With 16 buckets each write is
    one delta entry holding several of them."""
    feed = str(tmp_path / "feed")
    generate_feed(FeedSpec(seed=33, n_events=60, n_shards=2), feed)
    eng = Engine(spark, str(tmp_path / "t"), key_columns=[], n_buckets=16)
    eng.replay(feed)
    record = eng.table.current_snapshot()["applied_batches"]
    assert len(record) == 1
    n0 = eng.read().count()
    df = spark.createDataFrame(
        [("org9/put", f"f{i}", "c", "py", "x") for i in range(3)],
        "repo string, path string, commit string, lang string, content string",
    )
    for _ in range(5):
        assert eng.write(df, mode="append") is not None
    assert eng.table.current_snapshot()["applied_batches"] == record
    assert eng.read().count() == n0 + 15
    entries = eng.table.current_snapshot()["entries"]
    assert len(entries) == 6 and all(e["kind"] == "delta" for e in entries)
    assert any(len(e["buckets"]) > 1 for e in entries[1:])  # a write's entry
    rows = lambda t: sorted(map(repr, t.to_pylist()))  # noqa: E731
    assert rows(eng.table.read_arrow().read_all()) == rows(eng.read().toArrow())


def test_writes_compact_on_schedule(spark, tmp_path):
    """Writes count toward ``maintenance_every`` like ingest batches: four
    upserts with maintenance every 2 commits and a compaction threshold of
    2 deltas fold the deltas into bases."""
    path = str(tmp_path / "t")
    LakeTable.create(
        spark, path, schema=model.table_schema(USER_SCHEMA), key_columns=["id"],
        n_buckets=2, compact_after_deltas=2,
    )
    eng = Engine(spark, path, maintenance_every=2)
    for i in range(4):
        assert eng.write(_rows(spark, 20, offset=10 * i), mode="upsert") is not None
    entries = eng.table.current_snapshot()["entries"]
    assert any(e["kind"] == "base" for e in entries)
    for b in {b for e in entries for b in e["buckets"]}:
        assert sum(e["kind"] == "delta" and b in e["buckets"] for e in entries) < 4
    assert sorted(r["id"] for r in eng.read().collect()) == list(range(50))


def test_scheduled_maintenance_count_is_atomic():
    """Commits from many threads at once run maintenance exactly once per
    ``maintenance_every`` commits between them."""

    calls = []

    class _Table:
        def maintenance(self):
            calls.append(1)

    pipe = CdcPipeline(_Table(), maintenance_every=3)

    def commit_many():
        for v in range(300):
            pipe._post_commit(v)

    threads = [threading.Thread(target=commit_many) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 8 * 300 // 3


def test_write_runs_no_bucket_listing_job(spark, tmp_path):
    """The written bucket set is observed on the write job itself: a
    2000-row write runs 2 Spark jobs on a keyed or keyless table, in every
    mode (a separate ``distinct().collect()`` of the buckets made it 4)."""
    for keys in (["id"], []):
        eng = Engine(
            spark, str(tmp_path / f"t{len(keys)}"), schema=USER_SCHEMA,
            key_columns=keys, n_buckets=4,
        )
        for mode in ("append", "upsert", "overwrite"):
            n = count_jobs(spark, lambda: eng.write(_rows(spark, 2000), mode=mode))
            assert n <= 2, (keys, mode, n)
        assert eng.read().count() == 2000
        # the last write is an overwrite: one base entry per bucket
        entries = eng.table.current_snapshot()["entries"]
        assert [e["buckets"] for e in entries] == [[0], [1], [2], [3]]


def test_empty_write_stages_no_files(spark, tmp_path):
    """A write of zero rows commits no entry and leaves no commit dir."""
    eng = Engine(spark, str(tmp_path / "t"), schema=USER_SCHEMA, key_columns=["id"], n_buckets=2)
    eng.write(_rows(spark, 4), mode="append")
    entries = eng.table.current_snapshot()["entries"]
    assert eng.write(_rows(spark, 0), mode="append") is not None
    assert eng.table.current_snapshot()["entries"] == entries
    data = os.path.join(eng.table.path, "data")
    assert len(os.listdir(data)) == len({e["dir"].split("/")[1] for e in entries})


def test_batch_write_is_its_only_action(spark, tmp_path):
    """The write is a micro-batch's one action: a keyed batch runs at most
    3 Spark jobs (the LWW exchange, the bucket exchange, the write), a
    keyless one at most 2, a re-delivered batch none, and no frame stays
    persisted while the batch commits (the per-key frame and a separate
    lineage job made it 6, 5 and 4)."""
    feed = str(tmp_path / "feed")
    generate_feed(FeedSpec(seed=35, n_events=200, n_shards=2), feed)
    sc = spark.sparkContext
    persisted = lambda: set(sc._jsc.getPersistentRDDs().keys())  # noqa: E731
    for keys, most in ((None, 3), ([], 2)):
        before = persisted()
        held: list[set] = []
        table = LakeTable.create(spark, str(tmp_path / f"t{most}"), n_buckets=8, key_columns=keys)
        pipe = CdcPipeline(table, post_merge_hook=lambda t, v: held.append(persisted() - before))
        raw = spark.read.text(feed)
        n = count_jobs(spark, lambda: pipe.apply_batch(raw, batch_id=1, checkpoint_id="c"))
        assert n <= most, (keys, n)
        assert count_jobs(spark, lambda: pipe.apply_batch(raw, batch_id=1, checkpoint_id="c")) == 0
        assert held == [set()]
        assert table.lineage()[-1]["n_winners"] > 0


def test_batch_without_records_commits_an_empty_lineage(spark, tmp_path):
    """A batch whose lines are all filtered out (no RECORD of the stream)
    commits no entry and a lineage record of zeros, keyed and keyless: the
    write's observation yields no row then, because adaptive execution
    drops the empty stage that held it."""
    raw = spark.createDataFrame([('{"type": "STATE", "state": {}}',)], "value string")
    for keys in (None, []):
        table = LakeTable.create(spark, str(tmp_path / f"t{keys}"), n_buckets=4, key_columns=keys)
        assert CdcPipeline(table).apply_batch(raw, batch_id=1, checkpoint_id="c") == 1
        assert table.current_snapshot()["entries"] == []
        (rec,) = table.lineage()
        assert (rec["n_events"], rec["n_winners"], rec["per_partition"]) == (0, 0, [])
        assert rec["min_emitted_at"] is None and rec["buckets"] == []


def test_commit_dirs_hold_only_their_listed_files(spark, tmp_path):
    """A commit dir holds the data files its snapshot entries list, each
    with its checksum, and nothing else: no ``_SUCCESS`` marker (with its
    own ``.crc``) for a delta commit or a base commit. (16 buckets give
    every write task rows: task 0 of a write without rows leaves an empty,
    unlisted file.)"""
    feed = str(tmp_path / "feed")
    generate_feed(FeedSpec(seed=36, n_events=300, n_shards=2), feed)
    eng = Engine(spark, str(tmp_path / "t"), n_buckets=16)

    def assert_listed_only():
        listed: dict[str, set[str]] = {}
        for e in eng.table.current_snapshot()["entries"]:
            commit = e["dir"].split("/")[1]
            rel = os.path.relpath(e["dir"], f"data/{commit}")
            for f in e["files"]:
                listed.setdefault(commit, set()).update(
                    os.path.normpath(os.path.join(rel, n)) for n in (f["name"], f".{f['name']}.crc")
                )
        assert listed
        for commit, names in listed.items():
            root = os.path.join(eng.table.path, "data", commit)
            on_disk = {os.path.relpath(os.path.join(d, n), root) for d, _, ns in os.walk(root) for n in ns}
            assert on_disk == names, commit

    eng.replay(feed)
    assert [e["kind"] for e in eng.table.current_snapshot()["entries"]] == ["delta"]
    assert_listed_only()
    eng.table.compact()
    assert {e["kind"] for e in eng.table.current_snapshot()["entries"]} == {"base"}
    assert_listed_only()
