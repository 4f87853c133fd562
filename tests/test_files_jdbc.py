"""File source/sink (S3/S6) and JDBC (S4) surface tests.

Mirrors the reference's write→read roundtrip e2e
(/root/reference/hack/test_module.sh:216-227: write a dataset through the
module, read it back, diff) — here per file format, lossless by assertion.
JDBC has no database in this sandbox (SURVEY.md §2.1 S4), so its tests pin
the option mapping the connectors' YAML config translates into.
"""

from __future__ import annotations

import pytest

from airbyte_module_spark.sources.files import read_file, write_file
from airbyte_module_spark.sources.jdbc import jdbc_options, jdbc_url


@pytest.fixture()
def df(spark):
    return spark.createDataFrame(
        [
            (1, "plain", "with,comma", 1.5),
            (2, None, 'quo"te', -3.25),
            (3, "unicode é", "tab\there", 0.0),
        ],
        "id long, s1 string, s2 string, v double",
    )


@pytest.mark.parametrize("fmt", ["csv", "json", "parquet"])
def test_write_read_roundtrip(spark, tmp_path, df, fmt):
    path = str(tmp_path / fmt)
    write_file(df, path, format=fmt)
    back = read_file(spark, path, format=fmt, schema=df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    assert back.schema == df.schema


def test_csv_infers_schema_without_explicit_schema(spark, tmp_path, df):
    path = str(tmp_path / "inferred")
    write_file(df, path, format="csv")
    back = read_file(spark, path, format="csv")
    assert back.count() == 3
    assert [f.name for f in back.schema.fields] == ["id", "s1", "s2", "v"]


def test_append_mode_accumulates(spark, tmp_path, df):
    path = str(tmp_path / "appended")
    write_file(df, path, format="json")
    write_file(df, path, format="json", mode="append")
    assert read_file(spark, path, format="json", schema=df.schema).count() == 6


def test_engine_file_methods(spark, tmp_path, df):
    from airbyte_module_spark import Engine

    eng = Engine(spark, str(tmp_path / "t"))
    path = str(tmp_path / "csv_out")
    eng.write_file(df, path, format="csv")
    assert eng.read_file(path, format="csv", schema=df.schema).count() == 3


def test_unknown_format_rejected(spark, df):
    with pytest.raises(ValueError):
        write_file(df, "/tmp/x", format="xml")
    with pytest.raises(ValueError):
        read_file(spark, "/tmp/x", format="avro")


# ------------------------------------------------------------------- jdbc
def test_jdbc_url_from_reference_connection_shape():
    # the connection block of /root/reference/sample/read_mysql.yaml:8-14
    conn = {"host": "db.example", "port": 3306, "database": "fybrik"}
    assert jdbc_url(conn, "mysql") == "jdbc:mysql://db.example:3306/fybrik"
    assert (
        jdbc_url({"host": "h", "database": "d"}, "postgresql")
        == "jdbc:postgresql://h:5432/d"
    )


def test_jdbc_options_partitioned_scan():
    opts = jdbc_options(
        "jdbc:mysql://h:3306/d",
        "userdata",
        user="root",
        password="pw",
        partition_column="id",
        num_partitions=16,
        lower_bound=0,
        upper_bound=1_000_000,
    )
    assert opts["dbtable"] == "userdata"
    assert opts["partitionColumn"] == "id"
    assert opts["numPartitions"] == "16"
    assert opts["lowerBound"] == "0" and opts["upperBound"] == "1000000"
    assert opts["user"] == "root" and opts["password"] == "pw"


def test_jdbc_options_partition_bounds_required():
    with pytest.raises(ValueError):
        jdbc_options("jdbc:mysql://h/d", "t", partition_column="id")


# ------------------------------------------------------- resolved-read memo
def test_repeated_reads_run_no_inference_job(spark, tmp_path, df):
    """A parquet corpus read and a CSV file asset's schema each infer their
    schema with a Spark job; repeating the read on unchanged files reuses
    the resolved plan and runs none."""
    from airbyte_module_spark import queries as Q
    from airbyte_module_spark.config import FileAsset
    from tests.util import count_jobs

    Q.redact_columns(spark, "/root/testdata/sf0.001")
    assert count_jobs(spark, lambda: Q.redact_columns(spark, "/root/testdata/sf0.001")) == 0
    path = str(tmp_path / "asset_csv")
    write_file(df, path, format="csv")
    asset = FileAsset(spark, "f", {"path": path, "format": "csv"})
    assert count_jobs(spark, asset.schema) >= 1
    assert count_jobs(spark, asset.schema) == 0
    assert asset.read() is asset.read()


def test_rewritten_file_is_resolved_again(spark, tmp_path):
    """A file rewritten in place (new size) reads back its new rows and
    columns, not the plan resolved for the old file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    first = read_file(spark, path, "parquet")
    assert sorted(r.a for r in first.collect()) == [1, 2]
    pq.write_table(pa.table({"a": [3, 4, 5], "b": ["x", "y", "z"]}), path)
    again = read_file(spark, path, "parquet")
    assert again is not first
    assert again.columns == ["a", "b"]
    assert sorted(tuple(r) for r in again.collect()) == [(3, "x"), (4, "y"), (5, "z")]


def test_directory_gaining_a_file_is_resolved_again(spark, tmp_path, df):
    """A directory read is keyed on its data files: a marker file does not
    re-resolve it, an appended data file does and its rows show."""
    path = str(tmp_path / "dir")
    write_file(df, path, format="parquet")
    first = read_file(spark, path, "parquet")
    (tmp_path / "dir" / "_SUCCESS").write_text("")
    (tmp_path / "dir" / ".hidden").write_text("x")
    assert read_file(spark, path, "parquet") is first
    write_file(df, path, format="parquet", mode="append")
    again = read_file(spark, path, "parquet")
    assert again is not first
    assert again.count() == 6


def test_sessions_never_share_a_resolved_read(spark, tmp_path, df):
    """Each session resolves its own reads, and they die with it."""
    import gc
    import weakref

    from pyspark.sql.session import _monkey_patch_RDD

    path = str(tmp_path / "shared")
    write_file(df, path, format="parquet")
    mine = read_file(spark, path, "parquet")
    other = spark.newSession()
    # a new session binds ``RDD.toDF`` to itself: hand it back to ``spark``
    _monkey_patch_RDD(spark)
    theirs = read_file(other, path, "parquet")
    assert theirs is not mine
    assert theirs.sparkSession is other and mine.sparkSession is spark
    assert read_file(other, path, "parquet") is theirs
    assert read_file(spark, path, "parquet") is mine
    gone = weakref.ref(other)
    del other, theirs
    gc.collect()
    assert gone() is None


def test_relative_glob_url_and_missing_paths_read_afresh(spark, tmp_path, df):
    """Paths the memo does not key (relative, glob, URL, not stat-able)
    read as a plain Spark read does, every time."""
    import os

    from pyspark.errors import AnalysisException

    path = str(tmp_path / "plain")
    write_file(df, path, format="parquet")
    # Spark resolves a relative path against the JVM's working directory
    relative = os.path.relpath(path, spark._jvm.System.getProperty("user.dir"))
    for p in (relative, f"{path}/*.parquet", f"file://{path}"):
        first = read_file(spark, p, "parquet")
        assert first.count() == 3, p
        assert read_file(spark, p, "parquet") is not first, p
    missing = str(tmp_path / "later")
    with pytest.raises(AnalysisException):
        read_file(spark, missing, "parquet")
    write_file(df, missing, format="parquet")
    assert read_file(spark, missing, "parquet").count() == 3
