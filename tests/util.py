"""Shared helpers: engine-vs-oracle comparison (golden-diff discipline,
mirroring /root/reference/tests/test_fybrik.sh:144-162)."""

from __future__ import annotations

import json
import os
import uuid

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from airbyte_module_spark import model, oracle
from airbyte_module_spark.lake.table import LakeTable

BASE_COLS = ["repo", "path", "commit", "lang", "content"]


def engine_state(table: LakeTable, cols: list[str] | None = None) -> pd.DataFrame:
    """Final user-facing state + per-row sha, sorted, as pandas."""
    cols = cols or BASE_COLS
    df = (
        table.read_internal()
        .filter(F.col(model.META_OP) != "d")
        .select(*cols, F.col(model.META_SHA).alias("content_sha"))
        .orderBy("repo", "path")
    )
    return df.toPandas().reset_index(drop=True)


def assert_matches_oracle(table: LakeTable, events: list[dict], cols: list[str] | None = None):
    cols = cols or BASE_COLS
    expected = oracle.apply_events(events)
    for c in cols:
        if c not in expected.columns:
            expected[c] = None
    expected = expected[cols + ["content_sha"]].sort_values(["repo", "path"]).reset_index(drop=True)
    actual = engine_state(table, cols)
    assert len(actual) == len(expected), f"row count {len(actual)} != {len(expected)}"
    pd.testing.assert_frame_equal(
        actual.fillna(""), expected.fillna(""), check_dtype=False
    )
    # per-row content sha256 equality is implied by the frame equality on
    # content_sha; also check the whole-table digest invariant
    assert table.digest() == oracle.table_digest(expected, cols)


def unreferenced_commit_dirs(table: LakeTable) -> set[str]:
    """``data/commit-*`` dirs on disk that the head snapshot does not reference."""
    data = os.path.join(table.path, "data")
    on_disk = set(os.listdir(data)) if os.path.isdir(data) else set()
    return on_disk - {e["dir"].split("/")[1] for e in table.current_snapshot()["entries"]}


def assert_lineage_matches_files(table: LakeTable, rec: dict) -> None:
    """A batch's lineage record against the files it names: the per-file
    rows add up to the batch's winners, and each file's rows, buckets and
    cursor/offset ranges equal what its data on disk holds."""
    assert sum(p["rows"] for p in rec["per_partition"]) == rec["n_winners"]
    for p in rec["per_partition"]:
        cols = [model.META_EMITTED, model.META_SEQ, model.BUCKET_COLUMN]
        t = pq.read_table(os.path.join(table.path, p["file"]), columns=cols)
        assert p["rows"] == t.num_rows
        assert p["buckets"] == sorted(set(t[model.BUCKET_COLUMN].to_pylist()))
        for col, name in ((model.META_EMITTED, "emitted_at"), (model.META_SEQ, "seq")):
            mm = pc.min_max(t[col])
            assert (p[f"min_{name}"], p[f"max_{name}"]) == (mm["min"].as_py(), mm["max"].as_py())


def count_jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs on this thread."""
    sc = spark.sparkContext
    gid = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def envelope(path: str, seq: int, emitted_at: int | None, op: str = "u", **extra) -> str:
    """One RECORD line of the default stream for key ``("org/r", path)``;
    ``emitted_at=None`` leaves the cursor out, ``extra`` adds payload
    fields."""
    data = {"op": op, "seq": seq, "repo": "org/r", "path": path, "commit": f"c{seq}",
            "lang": "py", "content": f"v{seq}", **extra}
    record = {"stream": model.STREAM_NAME, "data": data}
    if emitted_at is not None:
        record["emitted_at"] = emitted_at
    return json.dumps({"type": "RECORD", "record": record})


def codegen_compiles(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far (a
    generated source found in its cache is not compiled again)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
