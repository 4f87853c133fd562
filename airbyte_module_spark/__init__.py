"""airbyte_module_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Re-expresses the query/data-processing capabilities of fybrik/airbyte-module
(reference: /root/reference, Apache-2.0) as an idiomatic Spark pipeline:

- Airbyte-style change-event envelopes (``{"type":"RECORD","record":{...}}``,
  reference ``abm/connector.py:125-128``) parsed with ``from_json`` — never
  per-row Python.
- Last-writer-wins dedup over the ``emitted_at`` cursor (window/row_number).
- MERGE into a snapshot-versioned lake table of source-code repositories
  (Iceberg-style merge-on-read semantics with background compaction,
  implemented over parquet with public DataFrame APIs — no proprietary
  formats).
- Structured Streaming tail with checkpointed, idempotent ``foreachBatch``
  upserts (exactly-once effective semantics).
- Vectorized pandas/Arrow UDFs for content normalization and sha256
  fingerprinting (replacing the reference's ``iterrows`` write loop at
  ``abm/server.py:206-210``).

Nothing here is a port: the reference delegates all data movement to
dockerized Airbyte connectors; this engine replaces every subprocess boundary
with Spark-native primitives per SURVEY.md §1.3.
"""

import importlib

__all__ = ["Engine", "get_spark", "AssetConfig", "build_assets"]

_LAZY = {"Engine": "engine", "get_spark": "session", "AssetConfig": "config", "build_assets": "config"}


def __getattr__(name):
    # lazy: the Python worker daemon and kernels pickled by reference import
    # this package, and need neither pyspark.sql nor yaml
    if name in _LAZY:
        return getattr(importlib.import_module(f"{__name__}.{_LAZY[name]}"), name)
    raise AttributeError(name)
