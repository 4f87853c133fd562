"""Data model: Airbyte-style change-event envelopes and the repo_files table.

The envelope mirrors the reference's AirbyteRecordMessage construction
(``/root/reference/abm/server.py:209``: ``AirbyteMessage(type=RECORD,
record=AirbyteRecordMessage(stream=..., data=row, emitted_at=now_ms))``) and
the RECORD example documented at ``/root/reference/abm/connector.py:125-128``:

    {"type": "RECORD",
     "record": {"stream": "repo_files", "namespace": "public",
                "emitted_at": 1704067200123,
                "data": {"op": "u", "seq": 42, "repo": "...", "path": "...",
                         "commit": "<40-hex>", "lang": "python",
                         "content": "..."}}}

``data`` is kept as a raw JSON string in the envelope schema so that additive
schema evolution (new fields appearing mid-stream, FIXTURES.md F5) can be
handled per micro-batch without restarting the stream: the engine inspects
``json_object_keys`` per batch and widens the parse schema + table schema
additively (SURVEY.md §2.8 T4).

Engine metadata columns use the ``_ab_`` prefix, mirroring the reference's
``_airbyte_`` metadata columns that are stripped from user-facing schemas
(``/root/reference/abm/connector.py:115-117``).
"""

from __future__ import annotations

from pyspark.sql import types as T

STREAM_NAME = "repo_files"

#: Identity key of the upsert (BASELINE.json north_star: "keyed by repo+path").
KEY_COLUMNS = ["repo", "path"]

#: Engine metadata columns (internal; stripped on user-facing reads).
META_EMITTED = "_ab_emitted_at"
META_SEQ = "_ab_seq"
META_OP = "_ab_op"
META_SHA = "_ab_content_sha"
META_COLUMNS = [META_EMITTED, META_SEQ, META_OP, META_SHA]
META_PREFIX = "_ab_"

#: Ingest-time partition/bucket column (hidden-partitioning analogue).
BUCKET_COLUMN = "_ab_bucket"

#: Envelope schema. `data` stays a JSON string until the per-batch parse so
#: the streaming source schema never has to change when data fields evolve.
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField(
            "record",
            T.StructType(
                [
                    T.StructField("stream", T.StringType()),
                    T.StructField("namespace", T.StringType()),
                    T.StructField("emitted_at", T.LongType()),
                    T.StructField("data", T.StringType()),
                ]
            ),
        ),
    ]
)


def envelope_schema(data_schema: T.StructType) -> T.StructType:
    """Full typed envelope schema with the data payload as a struct of the
    given fields — the one-pass parse schema for the ingest hot path.

    Measured pitfall (Spark 4.1, local[32], 1M lines): parsing the payload as
    ``map<string,string>`` costs ~25x more than a typed struct (9.9s vs
    0.4s), so the engine always parses with the *current* table schema as a
    struct and detects new fields from ``json_object_keys`` on the raw line
    (same scan, no second from_json).
    """
    return T.StructType(
        [
            T.StructField("type", T.StringType()),
            T.StructField(
                "record",
                T.StructType(
                    [
                        T.StructField("stream", T.StringType()),
                        T.StructField("namespace", T.StringType()),
                        T.StructField("emitted_at", T.LongType()),
                        T.StructField("data", data_schema),
                    ]
                ),
            ),
        ]
    )

#: Base data schema of the repo_files stream (BASELINE.json input_hint).
BASE_DATA_FIELDS: list[tuple[str, T.DataType]] = [
    ("op", T.StringType()),
    ("seq", T.LongType()),
    ("repo", T.StringType()),
    ("path", T.StringType()),
    ("commit", T.StringType()),
    ("lang", T.StringType()),
    ("content", T.StringType()),
]


def base_data_schema() -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in BASE_DATA_FIELDS])


#: Columns of the data payload that become user-facing table columns
#: (op/seq are routed into metadata columns instead).
def user_columns(data_schema: T.StructType) -> list[str]:
    return [f.name for f in data_schema.fields if f.name not in ("op", "seq")]


#: Schema of the target table rows = user columns + metadata columns.
def table_schema(data_schema: T.StructType) -> T.StructType:
    fields = [f for f in data_schema.fields if f.name not in ("op", "seq")]
    fields += [
        T.StructField(META_EMITTED, T.LongType(), True),
        T.StructField(META_SEQ, T.LongType(), True),
        T.StructField(META_OP, T.StringType(), True),
        T.StructField(META_SHA, T.StringType(), True),
    ]
    return T.StructType(fields)
