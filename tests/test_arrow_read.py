"""``LakeTable.read_arrow`` / ``changes_arrow`` against the Spark reads they
stand in for: row- and schema-equal to ``read(...).toArrow()`` and
``changes(...).toArrow()`` on every snapshot shape. Tables have 16 buckets
and the session 4 shuffle partitions, so a delta file holds several
buckets and every slice filters a shared file."""

from __future__ import annotations

import collections
import datetime as dt
import itertools
import os
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from airbyte_module_spark import model
from airbyte_module_spark.lake import table as table_mod
from airbyte_module_spark.lake.table import LakeTable

USER = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("score", T.DoubleType(), True),
    ]
)
META = [
    T.StructField(model.META_EMITTED, T.LongType(), True),
    T.StructField(model.META_SEQ, T.LongType(), True),
    T.StructField(model.META_OP, T.StringType(), True),
]
_batch_ids = itertools.count()


def _table(spark, tmp_path, user=USER, key_columns=("id",), n_buckets=16) -> LakeTable:
    return LakeTable.create(
        spark, str(tmp_path / "t"), schema=model.table_schema(user),
        n_buckets=n_buckets, key_columns=list(key_columns),
    )


def _merge(spark, table, rows, user=USER, truncate=False) -> int:
    """Commit ``rows`` of (*user columns, cursor, seq, op)."""
    df = spark.createDataFrame(rows, T.StructType(list(user.fields) + META))
    return table.merge(df, batch_id=next(_batch_ids), truncate=truncate)


def _rows(t: pa.Table) -> list:
    return sorted((tuple(r.values()) for r in t.to_pylist()), key=repr)


def _same(reader: pa.RecordBatchReader, df) -> pa.Table:
    got, want = reader.read_all(), df.toArrow()
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    return got


def _check_read(table: LakeTable, version: int | None = None) -> pa.Table:
    """The full read and every bucket slice equal Spark's."""
    snap = table.snapshot(version) if version is not None else table.current_snapshot()
    for b in table.live_buckets(snap):
        _same(table.read_arrow([b], version), table.read(version, buckets=[b]))
    return _same(table.read_arrow(version=version), table.read(version))


def _check_changes(table: LakeTable, from_version: int, to_version: int | None = None):
    reader = table.changes_arrow(from_version, to_version)
    assert reader is not None  # a delta-only range
    return _same(reader, table.changes(from_version, to_version))


def _ids(t: pa.Table) -> dict:
    return {r["id"]: r["name"] for r in t.to_pylist()}


def _assert_shared_delta(table: LakeTable) -> None:
    """Some delta entry of the head holds more than one bucket."""
    entries = table.current_snapshot()["entries"]
    assert any(e["kind"] == "delta" and len(e["buckets"]) > 1 for e in entries)


BASE_ROWS = [
    (1, "a", 1.0, 100, 1, "i"),
    (2, "b", 2.0, 100, 2, "i"),
    (3, "c", 3.0, 100, 3, "d"),  # tombstone in the base
    (4, "d", None, 100, 4, "i"),
    (5, None, 5.0, 100, 5, "i"),
]
DELTA_ROWS = [
    (1, "a2", 1.5, 200, 6, "u"),
    (2, None, None, 200, 7, "d"),  # tombstone in a delta
    (6, "f", 6.0, 200, 8, "u"),
    (6, "f-old", 6.0, 150, 9, "u"),  # loses inside its own batch
]


def test_read_arrow_base_only(spark, tmp_path):
    t = _table(spark, tmp_path)
    _merge(spark, t, BASE_ROWS, truncate=True)
    assert {e["kind"] for e in t.current_snapshot()["entries"]} == {"base"}
    got = _check_read(t)
    assert _ids(got) == {1: "a", 2: "b", 4: "d", 5: None}


def test_read_arrow_base_plus_deltas_with_tombstones(spark, tmp_path):
    t = _table(spark, tmp_path)
    _merge(spark, t, BASE_ROWS, truncate=True)
    _merge(spark, t, DELTA_ROWS)
    _merge(spark, t, [(3, "c2", 3.5, 300, 10, "u"), (6, None, None, 300, 11, "d")])
    _assert_shared_delta(t)
    got = _check_read(t)
    assert _ids(got) == {1: "a2", 3: "c2", 4: "d", 5: None}


def test_read_arrow_deltas_only(spark, tmp_path):
    t = _table(spark, tmp_path)
    _merge(spark, t, BASE_ROWS)
    _merge(spark, t, DELTA_ROWS)
    assert {e["kind"] for e in t.current_snapshot()["entries"]} == {"delta"}
    _assert_shared_delta(t)
    got = _check_read(t)
    assert _ids(got) == {1: "a2", 4: "d", 5: None, 6: "f"}


def test_read_arrow_late_event_loses_to_compacted_base(spark, tmp_path):
    """An event with a lower cursor than the compacted row lands in a later
    delta: the base row must win, and the stale delta row must not surface."""
    t = _table(spark, tmp_path, n_buckets=2)
    _merge(spark, t, [(1, "a", 1.0, 100, 1, "u"), (2, "b", 2.0, 100, 2, "u")])
    t.compact()
    _merge(spark, t, [(1, "late", 9.0, 50, 3, "u"), (2, "new", 3.0, 200, 4, "u")])
    _merge(spark, t, [(2, None, None, 60, 5, "d")])  # a late delete loses too
    got = _check_read(t)
    assert _ids(got) == {1: "a", 2: "new"}


def test_read_arrow_evolved_schema_over_old_files(spark, tmp_path):
    t = _table(spark, tmp_path)
    v_old = _merge(spark, t, BASE_ROWS, truncate=True)
    _merge(spark, t, DELTA_ROWS)
    t.evolve([T.StructField("lang", T.StringType(), True),
              T.StructField("size", T.IntegerType(), True)])
    wide = T.StructType(list(USER.fields) + [
        T.StructField("lang", T.StringType(), True),
        T.StructField("size", T.IntegerType(), True),
    ])
    v_wide = _merge(spark, t, [(4, "d2", 4.5, "py", 7, 300, 20, "u"),
                               (7, "g", 7.0, None, 8, 300, 21, "u")], user=wide)
    got = _check_read(t)
    assert got.column_names == ["id", "name", "score", "lang", "size"]
    by_id = {r["id"]: r for r in got.to_pylist()}
    assert by_id[1]["lang"] is None and by_id[1]["size"] is None  # old file
    assert (by_id[4]["lang"], by_id[4]["size"]) == ("py", 7)
    _check_read(t, version=v_old)  # the old snapshot keeps its own schema
    _check_changes(t, v_old)  # pre-evolve deltas read through the new schema
    _check_changes(t, v_wide - 1, v_wide)


def test_read_arrow_keyless_streams_every_file(spark, tmp_path):
    t = _table(spark, tmp_path, key_columns=())
    _merge(spark, t, BASE_ROWS, truncate=True)
    v1 = _merge(spark, t, DELTA_ROWS)
    _merge(spark, t, [(1, "a", 1.0, 100, 1, "i")])  # a duplicate row stays
    _assert_shared_delta(t)
    got = _check_read(t)
    assert got.num_rows == 4 + 3 + 1  # every row but the two tombstones
    _check_changes(t, v1 - 1)


def test_read_arrow_pinned_old_version(spark, tmp_path):
    t = _table(spark, tmp_path)
    v1 = _merge(spark, t, BASE_ROWS)
    v2 = _merge(spark, t, DELTA_ROWS)
    t.compact()
    _merge(spark, t, [(1, "a3", 0.5, 400, 30, "u")])
    assert _ids(_check_read(t, version=v1)) == {1: "a", 2: "b", 4: "d", 5: None}
    assert _ids(_check_read(t, version=v2)) == {1: "a2", 4: "d", 5: None, 6: "f"}
    assert _ids(_check_read(t))[1] == "a3"


def test_changes_arrow_delta_ranges(spark, tmp_path):
    """Tombstones and in-range overwrites of a key, metadata columns kept."""
    t = _table(spark, tmp_path)
    v1 = _merge(spark, t, BASE_ROWS)
    v2 = _merge(spark, t, DELTA_ROWS)
    _merge(spark, t, [(6, None, None, 300, 11, "d"), (8, "h", 8.0, 300, 12, "u")])
    _assert_shared_delta(t)
    got = _check_changes(t, v1)
    assert {r["id"]: r[model.META_OP] for r in got.to_pylist()} == {
        1: "u", 2: "d", 6: "d", 8: "u"
    }
    _check_changes(t, 0, v2)
    _check_changes(t, v2, v2)  # empty range


def test_changes_arrow_leaves_rewritten_range_to_spark(spark, tmp_path):
    t = _table(spark, tmp_path)
    v1 = _merge(spark, t, BASE_ROWS)
    _merge(spark, t, DELTA_ROWS)
    t.compact()
    assert t.changes_arrow(v1) is None
    keyless = LakeTable.create(
        spark, str(tmp_path / "keyless"), schema=model.table_schema(USER), key_columns=[]
    )
    _merge(spark, keyless, BASE_ROWS)
    keyless.compact()
    with pytest.raises(ValueError, match="keyless"):
        keyless.changes_arrow(0)


TYPED = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("ts_ntz", T.TimestampNTZType(), True),
        T.StructField("day", T.DateType(), True),
        T.StructField("amount", T.DecimalType(12, 3), True),
        T.StructField("wide", T.DecimalType(30, 5), True),
        T.StructField("pos", T.StructType([
            T.StructField("line", T.IntegerType(), False),  # read back nullable
            T.StructField("file", T.StringType(), True),
        ]), True),
        T.StructField("tags", T.ArrayType(T.LongType(), False), True),
        T.StructField("attrs", T.MapType(T.StringType(), T.IntegerType(), True), True),
        T.StructField("blob", T.BinaryType(), True),
        T.StructField("ratio", T.FloatType(), True),
        T.StructField("small", T.ShortType(), True),
    ]
)


def _typed_row(i: int, cursor: int, seq: int, op: str = "u") -> tuple:
    return (
        i,
        dt.datetime(2024, 1, 2, 3, 4, 5, 678901 + i, tzinfo=dt.timezone.utc),
        dt.datetime(1999, 12, 31, 23, 59, 59, i),
        dt.date(2020, 2, 29) + dt.timedelta(days=i),
        Decimal(f"{i}.125"),
        Decimal(f"123456789012345678901{i}.00001"),
        (i, f"f{i}.py"),
        [i, i + 1],
        {"k": i, "n": None},
        bytes([0, i % 256, 255]),
        i / 4.0,
        -i,
        cursor, seq, op,
    )


def test_read_arrow_column_types(spark, tmp_path):
    t = _table(spark, tmp_path, user=TYPED)
    _merge(spark, t, [_typed_row(i, 100, i) for i in range(6)], user=TYPED, truncate=True)
    v = _merge(spark, t, [_typed_row(i, 200, 10 + i) for i in range(3, 9)], user=TYPED)
    nulls = (9,) + (None,) * (len(TYPED.fields) - 1) + (300, 20, "u")
    _merge(spark, t, [nulls, _typed_row(0, 300, 21, "d")], user=TYPED)
    _assert_shared_delta(t)
    got = _check_read(t)
    assert got.num_rows == 9  # ids 1-9: id 0 deleted
    _check_changes(t, v - 1)
    _check_changes(t, v)


def _disk_files(table: LakeTable, entry: dict) -> dict[str, tuple[list[int], int]]:
    """Name → (sorted ``_ab_bucket`` set, bytes) of each non-empty parquet
    file in ``entry``'s dir, as listed on disk — what its manifest
    ``files`` must record (``test_manifest_files_match_disk``)."""
    d = os.path.join(table.path, entry["dir"])
    out = {}
    for name in os.listdir(d):
        if name.endswith(".parquet") and not name.startswith(("_", ".")):
            path = os.path.join(d, name)
            held = set(pq.read_table(path, columns=[model.BUCKET_COLUMN])[model.BUCKET_COLUMN].to_pylist())
            if held:
                out[name] = (sorted(held), os.path.getsize(path))
    return out


@pytest.fixture()
def several_files_per_delta(spark):
    """Writes keep all 4 shuffle partitions, so a delta entry of these tiny
    tables has several files, each holding several buckets."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


def _assert_several_files(table: LakeTable) -> None:
    deltas = [e for e in table.current_snapshot()["entries"] if e["kind"] == "delta"]
    assert any(len(_disk_files(table, e)) > 1 for e in deltas)


def _held(table: LakeTable, entries: list[dict]) -> dict[str, set[int]]:
    """Path → buckets of each non-empty data file of ``entries``."""
    return {
        os.path.join(table.path, e["dir"], name): set(held)
        for e in entries
        for name, (held, _) in _disk_files(table, e).items()
    }


@pytest.mark.usefixtures("several_files_per_delta")
def test_arrow_reads_open_each_file_once_per_call(spark, tmp_path, monkeypatch):
    """A delta file shared by several buckets is read once per full read
    and once per change poll, not once per bucket it holds; a slice opens
    only the files holding its bucket, from the first slice a freshly
    loaded table serves on."""
    t = _table(spark, tmp_path)
    _merge(spark, t, BASE_ROWS, truncate=True)
    v = _merge(spark, t, DELTA_ROWS)
    _merge(spark, t, [(3, "c2", 3.5, 300, 10, "u"), (7, "g", 7.0, 300, 11, "u")])
    _assert_shared_delta(t)
    _assert_several_files(t)
    entries = t.current_snapshot()["entries"]
    files = _held(t, entries)
    fresh = LakeTable.load(spark, t.path)
    opens = collections.Counter()
    orig = pq.ParquetFile

    def counting(path, *a, **k):
        opens[path] += 1
        return orig(path, *a, **k)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    for b in fresh.live_buckets():
        opens.clear()
        fresh.read_arrow([b]).read_all()
        assert sorted(opens) == sorted(p for p, held in files.items() if b in held)
        assert set(opens.values()) == {1}
    opens.clear()
    fresh.read_arrow().read_all()
    assert sorted(opens) == sorted(files)
    assert set(opens.values()) == {1}
    opens.clear()
    fresh.changes_arrow(v - 1).read_all()
    deltas = [e for e in entries if e["kind"] == "delta"]
    assert sorted(opens) == sorted(_held(t, deltas))
    assert set(opens.values()) == {1}
    monkeypatch.undo()
    _check_read(t)
    _check_changes(t, v - 1)


@pytest.mark.usefixtures("several_files_per_delta")
def test_reads_list_no_directory(spark, tmp_path, monkeypatch):
    """Every read takes its files from the manifest: with directory
    listing refused, the Arrow and Spark reads, the change polls and
    ``entry_bytes`` all still work, and ``entry_bytes`` sums the bytes of
    the non-empty files holding the slice."""
    t = _table(spark, tmp_path)
    _merge(spark, t, BASE_ROWS, truncate=True)
    v = _merge(spark, t, DELTA_ROWS)
    _merge(spark, t, [(3, "c2", 3.5, 300, 10, "u"), (7, "g", 7.0, 300, 11, "u")])
    _assert_several_files(t)
    on_disk = [f for e in t.current_snapshot()["entries"] for f in _disk_files(t, e).values()]
    want_bytes = {
        b: sum(size for held, size in on_disk if b in held) for b in t.live_buckets()
    }
    want_rows = sorted(map(tuple, t.read().collect()))
    want_changes = sorted(map(tuple, t.changes(v - 1).collect()))

    def refuse(*a, **k):
        raise AssertionError("a read listed a directory")

    for name in ("listdir", "scandir", "walk"):
        monkeypatch.setattr(os, name, refuse)
    got = _check_read(t)  # the full read and every slice
    assert got.num_rows == len(want_rows)
    _check_changes(t, v - 1)
    assert sorted(map(tuple, t.read().collect())) == want_rows
    assert sorted(map(tuple, t.changes(v - 1).collect())) == want_changes
    assert {b: t.entry_bytes([b]) for b in want_bytes} == want_bytes
    assert t.entry_bytes() == sum(size for _, size in on_disk)


@pytest.mark.usefixtures("several_files_per_delta")
@pytest.mark.parametrize("key_columns", [["repo", "path"], []], ids=["keyed", "keyless"])
def test_manifest_files_match_disk(spark, tmp_path, key_columns):
    """Every entry of every snapshot lists exactly the non-empty parquet
    files in its dir, each with its ``_ab_bucket`` set and size: an ingest
    batch, an upsert, an overwrite and a compaction, keyed and keyless."""
    from airbyte_module_spark import Engine
    from airbyte_module_spark.sources.generator import FeedSpec, generate_feed

    feed = str(tmp_path / "feed")
    generate_feed(FeedSpec(seed=41, n_events=80, n_shards=2), feed)
    eng = Engine(spark, str(tmp_path / "t"), key_columns=key_columns, n_buckets=16)
    eng.replay(feed)
    rows = spark.createDataFrame(
        [("org9/put", f"f{i}", "c", "py", "x") for i in range(12)],
        "repo string, path string, commit string, lang string, content string",
    )
    eng.write(rows, mode="upsert")
    eng.write(rows.limit(6), mode="overwrite")
    eng.write(rows, mode="append")
    eng.table.compact()
    t = eng.table
    entries = [e for v in t.catalog.list_snapshot_versions() for e in t.snapshot(v)["entries"]]
    assert {e["kind"] for e in entries} == {"delta", "base"}
    assert any(e["kind"] == "delta" and len(e["files"]) > 1 for e in entries)
    for e in entries:
        disk = _disk_files(t, e)
        assert {f["name"]: (f["buckets"], f["bytes"]) for f in e["files"]} == disk
        assert e["buckets"] == sorted({b for held, _ in disk.values() for b in held})


@pytest.mark.usefixtures("several_files_per_delta")
def test_one_bucket_slice_holds_only_its_delta_rows(spark, tmp_path, monkeypatch):
    """A slice filters each shared delta file as it reads it: what it
    resolves in memory is exactly its own bucket's delta rows."""
    t = _table(spark, tmp_path)
    _merge(spark, t, BASE_ROWS, truncate=True)
    _merge(spark, t, DELTA_ROWS)
    _merge(spark, t, [(3, "c2", 3.5, 300, 10, "u"), (7, "g", 7.0, 300, 11, "u")])
    _assert_shared_delta(t)
    _assert_several_files(t)
    deltas = [e for e in t.current_snapshot()["entries"] if e["kind"] == "delta"]
    raw = spark.read.parquet(*[os.path.join(t.path, e["dir"]) for e in deltas])
    per_bucket = {
        r[model.BUCKET_COLUMN]: r["count"]
        for r in raw.groupBy(model.BUCKET_COLUMN).count().collect()
    }
    resolved = []
    orig = table_mod._lww_arrow

    def spy(rows, keys):
        resolved.append(rows)
        return orig(rows, keys)

    monkeypatch.setattr(table_mod, "_lww_arrow", spy)
    for b in t.live_buckets():
        resolved.clear()
        _same(t.read_arrow([b]), t.read(buckets=[b]))
        held = sum(r.num_rows for r in resolved)
        assert held == per_bucket.get(b, 0)
        assert all(set(r[model.BUCKET_COLUMN].to_pylist()) <= {b} for r in resolved)
