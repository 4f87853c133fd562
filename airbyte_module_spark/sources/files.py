"""Generic file source/sink: csv / json (NDJSON) / parquet / text.

Reference parity: the ``airbyte/source-file`` connector reads parquet/csv
from a URL (``/root/reference/sample/sample.yaml:4-10``, format + HTTPS
provider) and the ``destination-csv`` / ``destination-local-json``
connectors write delimited / NDJSON files (``/root/reference/sample/
write_config.yaml:4-8``, registry ``/root/reference/helm/abm/
values.yaml:82-89``). Here both directions are one Spark reader/writer call:
Spark's DataSource V2 handles splitting, header parsing, compression, and
predicate/column pushdown (for parquet) natively and in parallel — the
reference streams the same bytes through a single dockerized connector
process, one line at a time.

CSV defaults mirror the connector's: header row on, explicit schema
preferred (the reference "plays it safe" with a two-type string/double
schema, ``abm/connector.py:182-185``; we accept a real StructType instead
and fall back to inference when absent).

Resolving a read is not free: Spark lists the path and, for parquet (and
csv/json without a schema), runs a job to infer the schema. ``read_file``
therefore resolves each local file or directory once per session and file
identity, and hands the same plan back while the files are unchanged;
nothing is cached, so every action still scans the files.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

FORMATS = ("csv", "json", "parquet", "text")

# the session attribute holding its resolved reads
_MEMO = "_ams_resolved_reads"


def _identity(path: str):
    """What a resolved read of ``path`` depends on: a file's ``(size,
    mtime_ns)``, or a directory's ``(name, size, mtime_ns)`` for every data
    file under it, skipping the ``_``/``.`` names Spark's listing skips
    (partition dirs ``k=v`` are kept). Raises OSError if ``path`` is gone."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return st.st_size, st.st_mtime_ns
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for n in names:
            if not _hidden(n):
                f = os.path.join(root, n)
                st = os.stat(f)
                files.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def _hidden(name: str) -> bool:
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def read_file(
    spark: SparkSession,
    path: str,
    format: str = "csv",
    schema: T.StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """Read a file/directory/glob (local path, s3a://, https:// via hadoop fs)
    as a DataFrame. For csv, ``header`` defaults to true and schema inference
    is used only when no schema is given (inference costs an extra pass —
    pass a schema at scale).

    An absolute local path is resolved (listed, its schema inferred) once
    per session and file identity (see ``_identity``): a repeated read
    returns the same DataFrame, and a rewritten, added or removed data file
    resolves it again. One entry per ``(path, format, options, schema)``,
    replaced on a change. The entries live on the session object, so they
    die with it (a module-level ``WeakKeyDictionary`` keyed by the session
    would keep every session alive: each DataFrame refers to its session).
    A relative path, a glob, a URL or a path that cannot be stat'ed is read
    afresh every time."""
    if format not in FORMATS:
        raise ValueError(f"format must be one of {FORMATS}, got {format!r}")
    if not os.path.isabs(path) or any(c in path for c in "*?[{\\"):
        return _resolve(spark, path, format, schema, options)
    try:
        identity = _identity(path)
    except OSError:
        return _resolve(spark, path, format, schema, options)
    key = (path, format, tuple(sorted(options.items())),
           schema if schema is None or isinstance(schema, str) else schema.json())
    memo = vars(spark).setdefault(_MEMO, {})
    hit = memo.get(key)
    if hit is not None and hit[0] == identity:
        return hit[1]
    df = _resolve(spark, path, format, schema, options)
    memo[key] = (identity, df)
    return df


def _resolve(spark: SparkSession, path: str, format: str, schema, options: dict) -> DataFrame:
    reader = spark.read
    if format == "csv":
        options = {"header": "true", **options}
        if schema is None:
            options.setdefault("inferSchema", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.options(**options).format(format).load(path)


def write_file(
    df: DataFrame,
    path: str,
    format: str = "csv",
    mode: str = "overwrite",
    **options: str,
) -> None:
    """Write a DataFrame as csv/json/parquet/text files. ``mode`` maps to the
    reference's append/overwrite sync modes (``abm/server.py:182-187``)."""
    if format not in FORMATS:
        raise ValueError(f"format must be one of {FORMATS}, got {format!r}")
    writer = df.write.mode(mode)
    if format == "csv":
        options = {"header": "true", **options}
    writer.options(**options).format(format).save(path)
