"""M4: additive schema evolution (FIXTURES.md F5) — new data fields appearing
mid-stream widen the table; pre-evolution rows read back null."""

from pyspark.sql import functions as F

from airbyte_module_spark import model
from airbyte_module_spark.lake.table import LakeTable
from airbyte_module_spark.sources.generator import FeedSpec, generate_feed
from airbyte_module_spark.streaming.pipeline import CdcPipeline
from airbyte_module_spark.oracle import apply_events
from tests.util import assert_lineage_matches_files, count_jobs, envelope, unreferenced_commit_dirs


def test_evolution_adds_columns_with_inferred_types(spark, tmp_path):
    feed = str(tmp_path / "feed")
    events = generate_feed(
        FeedSpec(seed=31, n_events=300, n_shards=6, evolution_after=80), feed
    )
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    pipe = CdcPipeline(table)
    pipe.replay_stream(feed, str(tmp_path / "ck"), max_files_per_trigger=2)

    schema = {f.name: f.dataType.simpleString() for f in table.schema().fields}
    assert schema.get("branch") == "string"
    assert schema.get("size") == "bigint"

    actual = (
        table.read()
        .select("repo", "path", "branch", "size")
        .orderBy("repo", "path")
        .toPandas()
    )
    expected = apply_events(events)
    exp = expected.set_index(["repo", "path"])
    for row in actual.itertuples(index=False):
        e = exp.loc[(row.repo, row.path)]
        if "branch" in exp.columns and isinstance(e.get("branch"), str):
            assert row.branch == e["branch"]
            assert int(row.size) == int(e["size"])
        else:
            assert row.branch is None


def test_pre_evolution_files_null_fill(spark, tmp_path):
    """Rows written before evolve() must read back null for new columns —
    no rewrite happened (entry dirs unchanged)."""
    import pyspark.sql.types as T

    feed = str(tmp_path / "feed")
    generate_feed(FeedSpec(seed=32, n_events=100, n_shards=1), feed)
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    CdcPipeline(table).replay_stream(feed)
    dirs_before = sorted(e["dir"] for e in table.current_snapshot()["entries"])

    table.evolve([T.StructField("stars", T.LongType(), True)])
    dirs_after = sorted(e["dir"] for e in table.current_snapshot()["entries"])
    assert dirs_before == dirs_after, "evolution must not rewrite data"
    assert table.read().filter(F.col("stars").isNotNull()).count() == 0
    assert "stars" in table.read().columns


def test_keyless_replay_evolves_and_appends_every_event(spark, tmp_path):
    """A keyless (append-only) table runs the same ingest as a keyed one:
    fields appearing mid-stream widen the table with inferred types, every
    non-tombstone event lands as its own row, and lineage records no LWW
    conflicts (each event is its own winner)."""
    feed = str(tmp_path / "feed")
    events = generate_feed(
        FeedSpec(seed=31, n_events=300, n_shards=6, evolution_after=80), feed
    )
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=8, key_columns=[])
    CdcPipeline(table).replay_stream(
        feed, str(tmp_path / "ck"), max_files_per_trigger=2
    )

    schema = {f.name: f.dataType.simpleString() for f in table.schema().fields}
    assert schema.get("branch") == "string"
    assert schema.get("size") == "bigint"

    live = [e["record"]["data"] for e in events if e["record"]["data"]["op"] != "d"]
    assert table.read().count() == len(live)
    assert table.read().filter(F.col("branch").isNotNull()).count() == sum(
        1 for d in live if d.get("branch") is not None
    )

    lineage = table.lineage()
    assert lineage
    for lin in lineage:
        assert lin["n_conflicts"] == 0
        assert lin["n_events"] == lin["n_winners"]
        assert_lineage_matches_files(table, lin)


def _lines(spark, *lines):
    return spark.createDataFrame([(line,) for line in lines], "value string")


def test_winner_field_evolves_once_and_lands(spark, tmp_path):
    """A field a WINNING event carries evolves the table once and its
    values land: the first attempt's staged write is dropped (no data dir
    left behind), the table widens, and the batch lands once more with
    one lineage record."""
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    pipe = CdcPipeline(table)
    pipe.apply_batch(_lines(spark, envelope("a", 1, 10), envelope("b", 2, 11)), batch_id=0)
    v0 = table.current_version()
    batch = _lines(spark, envelope("a", 3, 12, stars=5), envelope("b", 4, 13))
    assert pipe.apply_batch(batch, batch_id=1) == v0 + 2  # one evolve, one merge
    assert {f.name: f.dataType.simpleString() for f in table.schema().fields}["stars"] == "bigint"
    assert {r["path"]: r["stars"] for r in table.read().collect()} == {"a": 5, "b": None}
    lineage = table.lineage()
    assert [lin["batch_id"] for lin in lineage] == [0, 1]
    assert lineage[1]["n_events"] == 2
    assert_lineage_matches_files(table, lineage[1])
    assert unreferenced_commit_dirs(table) == set()


def test_loser_only_field_neither_evolves_nor_reruns(spark, tmp_path):
    """A field seen only on an LWW loser is superseded data: the table keeps
    its schema and the batch lands in one attempt (one merge, no sampling
    job, no second write)."""
    table = LakeTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    pipe = CdcPipeline(table)
    v0 = table.current_version()
    batch = _lines(spark, envelope("a", 1, 10, stars=5), envelope("a", 2, 11))
    assert count_jobs(spark, lambda: pipe.apply_batch(batch, batch_id=0)) <= 3
    assert table.current_version() == v0 + 1
    assert "stars" not in table.schema().fieldNames()
    assert [r["commit"] for r in table.read().collect()] == ["c2"]
