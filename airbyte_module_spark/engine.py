"""Engine — the user-facing API, semantic parity with the reference's
HTTP/Flight surface (SURVEY.md §2.10):

| reference entry point                         | Engine equivalent        |
|-----------------------------------------------|--------------------------|
| GET /{asset} / Flight do_get (read asset)     | ``Engine.read()``        |
| Flight do_put write_mode=append (default)     | ``Engine.write(df, "append")``   |
| Flight do_put write_mode=overwrite            | ``Engine.write(df, "overwrite")``|
| (no reference analogue — north rule)          | ``Engine.write(df, "upsert")``   |
| get_flight_info (schema discovery)            | ``Engine.schema()``      |
| connector read loop                           | ``Engine.replay/tail()`` |
| source-file / destination-csv,-local-json     | ``Engine.read_file/write_file`` |
| source-mysql/-postgres, destination-mysql     | ``sources.jdbc.read_jdbc/write_jdbc`` |
| post-write dbt normalization container        | ``post_merge_hook=``     |

The reference's append/overwrite sync modes (``/root/reference/abm/
server.py:182-187``) are special cases of the MERGE sink; schema discovery
(``abm/connector.py:176-180``) becomes a metadata lookup instead of a
docker round-trip.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_module_spark import model
from airbyte_module_spark.lake.table import LakeTable
from airbyte_module_spark.streaming.pipeline import CdcPipeline

WRITE_MODES = ("append", "overwrite", "upsert")


def check_write_mode(mode: str) -> None:
    """Raise ValueError unless ``mode`` is one of :data:`WRITE_MODES` —
    an unknown mode must not land as an append."""
    if mode not in WRITE_MODES:
        raise ValueError(f"unknown write mode {mode!r}; expected one of {WRITE_MODES}")


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        schema: T.StructType | None = None,
        key_columns: list[str] | None = None,
        n_buckets: int = 32,
        **pipeline_opts,
    ):
        """``schema``/``key_columns`` configure a fresh table (any asset shape,
        like the reference's per-asset YAML config at ``abm/config.py:13-18``);
        defaults give the repo_files CDC table from BASELINE.json input_hint."""
        self.spark = spark
        self.table_path = table_path
        try:
            self.table = LakeTable.load(spark, table_path)
        except FileNotFoundError:
            full_schema = model.table_schema(schema) if schema is not None else None
            self.table = LakeTable.create(
                spark,
                table_path,
                schema=full_schema,
                key_columns=key_columns,
                n_buckets=n_buckets,
            )
        self.pipeline = CdcPipeline(self.table, **pipeline_opts)

    # -------------------------------------------------------------- querying
    def read(
        self, buckets: list[int] | None = None, version: int | None = None
    ) -> DataFrame:
        """Current winners, metadata columns stripped (reference GET /asset,
        ``/root/reference/abm/server.py:39-60``). ``buckets`` restricts to a
        subset of hash buckets — complete per identity key, so parallel
        clients can split a read bucket-wise (per-bucket Flight endpoints).
        ``version`` pins the read to a specific snapshot (time travel; the
        HTTP server pins every response to the version it advertises in
        ``X-Table-Version`` so a commit racing the request cannot make the
        header promise changes the body lacks)."""
        return self.table.read(buckets=buckets, version=version)

    def schema(self) -> T.StructType:
        """User-facing schema (reference get_flight_info discovery,
        ``/root/reference/abm/server.py:238-256``)."""
        full = self.table.schema()
        return T.StructType(
            [f for f in full.fields if not f.name.startswith(model.META_PREFIX)]
        )

    def digest(self, cols: list[str] | None = None, commutative: bool = False) -> str:
        """Table digest; ``commutative=True`` is the 10^10-row form (see
        :meth:`LakeTable.digest`)."""
        return self.table.digest(cols, commutative=commutative)

    def lineage(self) -> list[dict]:
        return self.table.lineage()

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Change rows applied between two snapshots (CDC-consumer read) —
        see :meth:`LakeTable.changes`."""
        return self.table.changes(from_version, to_version)

    # ----------------------------------------------------------------- files
    def read_file(self, path: str, format: str = "csv", schema=None, **options) -> DataFrame:
        """Read a csv/json/parquet/text file or directory (reference
        source-file connector, ``/root/reference/sample/sample.yaml:4-10``)."""
        from airbyte_module_spark.sources.files import read_file

        return read_file(self.spark, path, format=format, schema=schema, **options)

    def write_file(self, df: DataFrame, path: str, format: str = "csv",
                   mode: str = "overwrite", **options) -> None:
        """Write a DataFrame as csv/json/parquet/text files (reference
        destination-csv / destination-local-json connectors,
        ``/root/reference/sample/write_config.yaml:4-8``)."""
        from airbyte_module_spark.sources.files import write_file

        write_file(df, path, format=format, mode=mode, **options)

    # ------------------------------------------------------------ maintenance
    def maintenance(self) -> int | None:
        """Compact buckets whose delta count crossed the threshold. Runs only
        when called — never inside merge — so ingest batches are never
        stalled; schedule it as a background job at cluster scale."""
        return self.table.maintenance()

    # --------------------------------------------------------------- writing
    def write(self, df: DataFrame, mode: str = "append") -> int | None:
        """Write a plain DataFrame of user rows.

        ``append``/``overwrite`` mirror the reference's do_put sync modes
        (``abm/server.py:182-187``); rows are stamped with an ingest-time
        cursor exactly like the reference stamps ``emitted_at=now_ms`` on
        every written record (``abm/server.py:202,209``). ``upsert`` applies
        LWW on the identity key. All three converge in MERGE — no per-row
        Python anywhere (contrast ``abm/server.py:206-210``). ``overwrite``
        is ONE replacement commit (``merge(truncate=True)``): a crash leaves
        either the full old state or the full new state, matching the
        reference's per-request atomicity (one catalog handed to one
        connector run, ``abm/server.py:182-187``).

        The stamped rows go through the pipeline's one commit tail
        (:meth:`CdcPipeline.commit`): content transform, merge, then the
        post-merge hook and scheduled maintenance, so writes count toward
        ``maintenance_every`` like ingest batches. A write has no batch id:
        no source can deliver it again, so it is neither checked against
        nor recorded in the exactly-once record — two writes within one
        clock tick both land, and the record stays bounded however many
        writes a keyless table takes. Any other ``mode`` raises ValueError
        before anything is evolved or committed.
        """
        check_write_mode(mode)
        table_cols = {f.name for f in self.table.schema().fields}
        new_cols = [
            T.StructField(f.name, f.dataType, True)
            for f in df.schema.fields
            if f.name not in table_cols
        ]
        if new_cols:
            self.table.evolve(new_cols)
        now_ms = int(time.time() * 1000)
        changes = (
            df.withColumn(model.META_EMITTED, F.lit(now_ms))
            .withColumn(
                model.META_SEQ, F.monotonically_increasing_id()
            )
            .withColumn(model.META_OP, F.lit("u" if mode == "upsert" else "i"))
        )
        return self.pipeline.commit(changes, truncate=(mode == "overwrite"))

    # ------------------------------------------------------------------- cdc
    def replay(
        self,
        feed_path: str,
        checkpoint_dir: str | None = None,
        max_files_per_trigger: int | None = None,
    ) -> None:
        """Bounded, resumable replay of a change feed directory: a stream
        with ``trigger(availableNow=True)`` that lands every file the
        checkpoint has not yet consumed. Without ``checkpoint_dir`` the
        table keeps one checkpoint per feed path (see
        :meth:`CdcPipeline.replay_stream`), so replaying a feed again lands
        only its new files. ``max_files_per_trigger`` splits the bounded
        replay into multiple micro-batches (availableNow honors source rate
        limits) — the shape a production tail actually runs."""
        self.pipeline.replay_stream(
            feed_path, checkpoint_dir, max_files_per_trigger=max_files_per_trigger
        )

    def tail(
        self,
        feed_path: str,
        checkpoint_dir: str,
        processing_time: str = "1 second",
        max_files_per_trigger: int | None = None,
    ):
        """Continuous tail of a change feed; returns the StreamingQuery."""
        return self.pipeline.replay_stream(
            feed_path,
            checkpoint_dir,
            max_files_per_trigger=max_files_per_trigger,
            processing_time=processing_time,
        )
