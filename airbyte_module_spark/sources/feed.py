"""Change-feed source: NDJSON envelope shards → typed change DataFrames.

Replaces the reference's connector read path — dockerized ``read`` subprocess,
stdout line filtering and 100-line batching (``/root/reference/abm/
connector.py:138-161,212-243``) — with Spark's JSON source. Message-type
filtering (drop LOG/STATE, keep RECORD — reference ``abm/connector.py:
143-157``), stream filtering (``abm/connector.py:216-221``) and record
projection (``abm/connector.py:130-131``) become Catalyst-optimized
filter/select; non-JSON noise lines land as nulls and are filtered, mirroring
the reference's try/continue skip.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_module_spark import model


def read_feed_stream(
    spark: SparkSession, feed_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming tail of a feed directory (SURVEY.md §2.8 T1).

    ``maxFilesPerTrigger`` bounds micro-batch size — the Spark-native
    replacement for the reference's hardcoded 100-message batches
    (``abm/connector.py:138``).
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(feed_path)


def parse_envelopes_once(
    raw: DataFrame,
    data_schema: T.StructType | None = None,
    stream: str = model.STREAM_NAME,
) -> DataFrame:
    """One-pass envelope parse.

    A single ``from_json`` per line decodes the full envelope with the data
    payload typed as a struct of the given schema (the fast parse shape —
    see ``model.envelope_schema`` for the measured map-vs-struct pitfall).
    """
    data_schema = data_schema or model.base_data_schema()
    env_schema = model.envelope_schema(data_schema)
    m = F.from_json(F.col("value"), env_schema)
    out_cols = [
        m["record"]["data"][f.name].alias(f.name)
        for f in data_schema.fields
        if f.name not in ("op", "seq")
    ] + [
        m["record"]["emitted_at"].alias(model.META_EMITTED),
        m["record"]["data"]["seq"].cast("long").alias(model.META_SEQ),
        m["record"]["data"]["op"].alias(model.META_OP),
    ]
    return _project_filter_once(raw, m, out_cols, stream)


def _project_filter_once(
    raw: DataFrame, m, out_cols: list[Column], stream: str, keep_value: bool = False
) -> DataFrame:
    """Single-parse projection+filter shape for envelope decoding.

    The naive ``select(from_json(...).alias("m")) .filter(m.type == ...)``
    costs 2-3 JSON parses per line: Catalyst pushes the type/stream/op
    predicates below the projection (substituting the from_json expression
    into each) and rewrites every ``GetStructField(from_json(...))`` into
    its own schema-pruned ``from_json`` — measured 7.5s vs 3.0s for a
    single parse on the 10M-event feed at local[32]. This shape restores
    one-parse-per-line with public APIs:

    - ALL field extractions + the RECORD/stream/op keep-predicate are
      aliases of ONE projection, so per-operator subexpression elimination
      evaluates the shared ``from_json`` once;
    - a ``rand(0)`` guard column rides the projection and the filter
      references it (``_nd > -1`` — always true, but NOT foldable: the
      optimizer has no value-range analysis for rand(), whereas
      ``IsNotNull(rand())`` would constant-fold away since rand() is
      non-nullable, un-referencing the guard and re-enabling pushdown): a
      projection with a non-deterministic alias is a predicate-pushdown
      barrier (PushPredicateThroughNonJoin requires every project field be
      deterministic), so the keep-filter stays ABOVE the projection and
      tests the computed boolean instead of re-deriving it from the line.
      The seed is fixed because the generated code embeds it: an unseeded
      ``rand()`` drew a new seed per micro-batch, so every trigger
      compiled a fresh class;
    - ``enableJsonExpressionOptimization=false`` (set in session.py) stops
      the per-field schema-pruned from_json rewrite that would defeat CSE
      by making the copies textually different.
    """
    keep = (
        (m["type"] == "RECORD")
        & (m["record"]["stream"] == stream)
        & m["record"]["data"]["op"].isNotNull()
    )
    cols = list(out_cols)
    if keep_value:
        cols.append(F.col("value"))
    proj = raw.select(*cols, keep.alias("_keep"), F.rand(0).alias("_nd"))
    return proj.filter(F.col("_keep") & (F.col("_nd") > -1.0)).drop(
        "_keep", "_nd"
    )


def parse_envelopes_minimal(
    raw: DataFrame,
    key_columns: list[str],
    stream: str = model.STREAM_NAME,
    key_types: dict[str, T.DataType] | None = None,
) -> DataFrame:
    """Identity/cursor-only envelope parse — the keyed-ingest hot path.

    Output: key columns + ``_ab_emitted_at, _ab_seq, _ab_op`` + the raw
    ``value`` line. ONE ``from_json`` per line against a schema that types
    only the identity keys, op and seq — Jackson still tokenizes the whole
    line but materializes nothing else (no content UTF8String, no metadata
    fields), and crucially no second ``get_json_object``/``json_object_keys``
    parse rides along. LWW winner selection needs exactly these columns;
    the full parse (+ the schema-evolution key probe) runs afterwards on
    winners only — at a 20:1 conflict ratio that is 5% of the events.
    Filters (RECORD type, stream, op present) are identical to
    :func:`parse_envelopes_once`, so a malformed event can never win a key
    it would previously have lost.

    ``key_types``: data types for the key columns (from the table schema) —
    parsing a non-string key as string would hash-bucket it differently
    from the table's typed ``with_bucket`` and break bucket locality."""
    key_types = key_types or {}
    min_data = T.StructType(
        [
            T.StructField(k, key_types.get(k, T.StringType()), True)
            for k in key_columns
        ]
        + [
            T.StructField("op", T.StringType(), True),
            T.StructField("seq", T.LongType(), True),
        ]
    )
    env_schema = model.envelope_schema(min_data)
    m = F.from_json(F.col("value"), env_schema)
    out_cols = [m["record"]["data"][k].alias(k) for k in key_columns] + [
        m["record"]["emitted_at"].alias(model.META_EMITTED),
        m["record"]["data"]["seq"].cast("long").alias(model.META_SEQ),
        m["record"]["data"]["op"].alias(model.META_OP),
    ]
    return _project_filter_once(raw, m, out_cols, stream, keep_value=True)
