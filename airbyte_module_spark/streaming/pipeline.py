"""CDC pipeline: change-feed tail → transform → MERGE.

Every ingest is Structured Streaming with a checkpointed ``foreachBatch``
sink (SURVEY.md §3.4); the sink and ``Engine.write`` end in one commit
tail, :meth:`CdcPipeline.commit`. Replay and tail share one code path:
``trigger(availableNow=True)`` gives bounded replay of every feed file the
checkpoint has not yet consumed; ``processingTime`` gives a continuous
tail. Restarting from the checkpoint resumes at the last committed source
offset, and the ``(checkpoint_id, batch_id)`` dedup inside
:meth:`LakeTable.merge` makes re-delivered batches no-ops — together:
exactly-once effective semantics (SURVEY.md §2.8 T2).

Replaces the reference's pull loop — one full_refresh connector run per HTTP/
Flight request (``/root/reference/abm/connector.py:223``, cursors disabled at
``:226``) — with an incremental, resumable, cursor-aware stream.
"""

from __future__ import annotations

import hashlib
import os
import re
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_module_spark import model
from airbyte_module_spark.functions import content as cf
from airbyte_module_spark.lake.table import LakeTable
from airbyte_module_spark.plans.lineage import batch_totals, lineage_from_grouped
from airbyte_module_spark.sources import feed as feed_src

_INT_RE = re.compile(r"^-?\d+$")
_FLOAT_RE = re.compile(r"^-?\d+\.\d+([eE][+-]?\d+)?$")


class _NewFields(Exception):
    """A batch's winners carry payload fields the table lacks (``names``):
    its staged write is dropped so the batch can land again after the
    table evolves."""

    def __init__(self, names: list[str]):
        super().__init__(names)
        self.names = names


def _observed(seen: Observation) -> dict:
    """The row ``seen`` collected on the batch's write, or ``{}`` when the
    observed frame had no rows: adaptive execution replaces a stage that
    wrote nothing with an empty relation, and the stage's observed
    metrics go with it (``Observation.get`` then fails on an empty row)."""
    try:
        return seen.get
    except Py4JJavaError:
        return {}


class CdcPipeline:
    def __init__(
        self,
        table: LakeTable,
        collect_lineage: bool = True,
        post_merge_hook=None,
        maintenance_every: int | None = 16,
    ):
        """One ingest pipeline for keyed and keyless tables alike; new payload
        fields always widen the table (additive schema evolution).

        ``collect_lineage``: attach each batch's lineage record to its
        snapshot. The batch totals are observed on the write either way —
        they carry the schema-evolution probe — so ``False`` only skips
        storing the record.

        ``post_merge_hook``: optional ``callable(table, version)`` invoked
        after each successfully committed merge — the user-pluggable
        equivalent of the reference's post-write dbt normalization container
        (``/root/reference/abm/normalization.py:28-42``, invoked at
        ``abm/server.py:219-228``), except it receives the committed table
        instead of re-reading it through a second container. Runs after the
        commit, so a hook failure never loses the batch; exactly-once skips
        (already-applied batches) do not re-fire it.

        ``maintenance_every``: run :meth:`LakeTable.maintenance` (compact
        buckets over the delta threshold) after every Nth committed batch
        or client write — off the commit critical path (the batch is already
        durable when it runs) but inside the sink, so a long MoR replay/tail
        bounds its own delta growth without an operator remembering to schedule anything.
        ``None`` disables it (run maintenance() as an external background
        job instead — the cluster-scale deployment shape)."""
        self.table = table
        self.collect_lineage = collect_lineage
        self.post_merge_hook = post_merge_hook
        self.maintenance_every = maintenance_every
        self._batches_since_maintenance = 0
        # commits arrive from the streaming sink and from Flight/HTTP
        # handler threads at once
        self._maintenance_lock = threading.Lock()
        # per-commit phase wall-times (replaced by each commit) — the
        # serial-fraction profile behind the N→4N scaling evidence
        # (scripts/scaling_bench.py --profile reads this)
        self.timings: dict[str, float] = {}
        # Structured Streaming progress of the last replay_stream
        self.stream_progress: list[dict] = []

    def _post_commit(self, version: int | None) -> None:
        """After a durable commit: fire the user hook, then scheduled
        maintenance every Nth applied batch or write (never on exactly-once
        skips). The count-and-check is atomic, so concurrent commits run
        maintenance once per N between them."""
        if version is None:
            return
        if self.post_merge_hook is not None:
            self.post_merge_hook(self.table, version)
        if not self.maintenance_every:
            return
        with self._maintenance_lock:
            self._batches_since_maintenance += 1
            due = self._batches_since_maintenance >= self.maintenance_every
            if due:
                self._batches_since_maintenance = 0
        if due:
            self.table.maintenance()

    def commit(self, rows: DataFrame, timings: dict | None = None, **merge_opts) -> int | None:
        """The one commit tail of every writer — ``apply_batch`` (the
        streaming sink) and ``Engine.write`` (client writes): content
        transform → :meth:`LakeTable.merge` (``merge_opts`` passed on) →
        :meth:`_post_commit`. ``timings`` (default: a fresh dict) becomes
        :attr:`timings`, with the merge and post-commit wall times added."""
        tm = self.timings = {} if timings is None else timings
        if "content" in rows.columns:
            rows = self.transform(rows)
        t0 = time.time()
        version = self.table.merge(rows, **merge_opts)
        tm["merge"] = round(time.time() - t0, 3)
        t0 = time.time()
        self._post_commit(version)
        tm["post_commit"] = round(time.time() - t0, 3)
        return version

    # ------------------------------------------------------------ transforms
    def data_schema(self) -> T.StructType:
        """Parse schema for the data payload, derived from the current table
        schema (so it widens automatically after evolution)."""
        fields = [
            T.StructField("op", T.StringType(), True),
            T.StructField("seq", T.LongType(), True),
        ]
        for f_ in self.table.schema().fields:
            if not f_.name.startswith(model.META_PREFIX):
                fields.append(T.StructField(f_.name, f_.dataType, True))
        return T.StructType(fields)

    def transform(self, changes: DataFrame) -> DataFrame:
        """Normalize content + sha256 fingerprint (north_star F6/F7), as
        codegen expressions (no Python boundary). Tombstones keep null
        content/sha."""
        changes = changes.withColumn(
            "content", cf.normalize_content_expr(F.col("content"))
        )
        return changes.withColumn(
            model.META_SHA,
            F.when(F.col("content").isNotNull(), cf.sha256_expr(F.col("content"))),
        )

    # ------------------------------------------------------------- evolution
    def _evolve_new_fields(self, grouped: DataFrame, new: list[str]) -> None:
        """Widen the table for fields that appeared mid-stream: infer a
        conservative type from one sample value per field (the reference
        plays the same 'number may be int or double, play it safe' game at
        ``/root/reference/abm/connector.py:182-185``). Runs only on the rare
        batch whose winners carry new fields, and samples ALL of them in ONE
        job over the per-key winner lines (nothing is cached, so the job
        parses the batch again) — never a pass over the whole feed."""
        samples = grouped.agg(
            *[
                F.first(
                    F.get_json_object(F.col("_w.value"), f"$.record.data.{name}"),
                    ignorenulls=True,
                ).alias(name)
                for name in new
            ]
        ).collect()[0]
        self.table.evolve(self._infer_fields(samples, new))

    @staticmethod
    def _infer_fields(samples, new: list[str]) -> list[T.StructField]:
        fields = []
        for name in new:
            v = samples[name]
            if v is not None and _INT_RE.match(v):
                dt: T.DataType = T.LongType()
            elif v is not None and _FLOAT_RE.match(v):
                dt = T.DoubleType()
            else:
                dt = T.StringType()
            fields.append(T.StructField(name, dt, True))
        return fields

    # ----------------------------------------------------------------- batch
    def apply_batch(
        self,
        raw: DataFrame,
        batch_id: int | str = 0,
        checkpoint_id: str = "adhoc",
        offset_watermark: int | None = None,
    ) -> int | None:
        """Parse + dedup, then the :meth:`commit` tail, for one batch of raw
        envelope lines — the streaming sink's body, for keyed and keyless
        tables alike. The write is the batch's one Spark action; a batch
        already applied runs none.

        ``offset_watermark`` is forwarded to ``LakeTable.merge``; the
        streaming sink sets it to its own ``batch_id`` because Structured
        Streaming's checkpoint gives the can-never-redeliver guarantee the
        watermark asserts. A direct call may leave it None, and its keyless
        exactly-once records are then never pruned. Keyed tables ignore it.

        Plan shape — minimal parse, full decode on WINNERS only:

        1. ``parse_envelopes_minimal``: ONE ``from_json`` per line typing
           only identity keys + op + seq (+ the envelope cursor); the raw
           line rides along untouched. No full-payload decode, no second
           ``json_object_keys`` parse — at a 20:1 conflict ratio, fully
           decoding every event pays ~20x the decode the table needs
           (measured: the r2 full-width parse with the probe column was
           2.2x this parse on the 10M-event replay).
        2. The per-key frame ``grouped``: the winner's raw line ``_w``,
           event count ``_n``, cursor/offset ranges ``_mne/_mxe/_mns/_mxs``.
           A keyed table builds it with ONE aggregation over (bucket, key)
           (LWW ``max_by`` over the cursor — see lake.table.dedup_lww for
           why an aggregate, not a window); the buffer carries (line,
           cursor), so map-side partial aggregation collapses conflicts
           before the exchange. A keyless (append-only — the reference's
           plain append sink, abm/server.py:182-187) table has no LWW:
           every event is its own winner, one row with the same columns.
           Nothing is cached: at tail cadence the cache and its extra
           action cost more than the rare re-parse below saves.
        3. One ``Observation`` on ``grouped`` collects the batch totals and
           the schema-evolution probe (``plans.lineage.batch_totals``) on
           the write itself. The merge's lineage callback reads it after
           the write: the totals, plus per-file records from the written
           files' footers, become the batch's lineage record. A field
           triggers evolution only when a WINNING row carries it (a field
           seen only on LWW losers is superseded data): the callback then
           raises ``_NewFields``, the merge drops the staged files, the
           table evolves (one sampling job) and the batch runs once more
           through the widened schema — about 3 parses instead of 1, on
           that batch only.
        4. Full payload decode, normalize + sha256 run on winners only,
           which take one cheap repartition onto the bucket key: each
           write task writes one delta file holding whole buckets, sorted
           by bucket, and the batch is one commit dir.
        """
        keys = self.table.key_columns
        tm = self.timings = {}
        t_batch = time.time()
        key_types = {
            f.name: f.dataType
            for f in self.table.schema().fields
            if f.name in keys
        }
        minimal = feed_src.parse_envelopes_minimal(raw, keys, key_types=key_types)
        minimal = self.table.with_bucket(minimal)
        winner = F.struct(
            F.col("value"),
            F.col(model.META_EMITTED),
            F.col(model.META_SEQ),
            F.col(model.META_OP),  # lineage counts winner deletes
        )
        if keys:
            order_key = F.struct(F.col(model.META_EMITTED), F.col(model.META_SEQ))
            grouped = minimal.groupBy(model.BUCKET_COLUMN, *keys).agg(
                F.max_by(winner, order_key).alias("_w"),
                F.count("*").alias("_n"),
                F.min(model.META_EMITTED).alias("_mne"),
                F.max(model.META_EMITTED).alias("_mxe"),
                F.min(model.META_SEQ).alias("_mns"),
                F.max(model.META_SEQ).alias("_mxs"),
            )
        else:
            grouped = minimal.select(
                F.col(model.BUCKET_COLUMN),
                winner.alias("_w"),
                F.lit(1).cast("long").alias("_n"),
                F.col(model.META_EMITTED).alias("_mne"),
                F.col(model.META_EMITTED).alias("_mxe"),
                F.col(model.META_SEQ).alias("_mns"),
                F.col(model.META_SEQ).alias("_mxs"),
            )
        # one write task, so one delta file, per shuffle partition.
        # shuffle.partitions can be non-numeric on some platforms
        # (e.g. "auto" under auto-optimized shuffle) — fall back to
        # the scheduler's default parallelism
        try:
            n_parts = int(self.table.spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            n_parts = self.table.spark.sparkContext.defaultParallelism

        def land(probe: bool) -> int | None:
            schema = self.data_schema()
            known = {f.name for f in schema.fields}
            seen = Observation()
            # full decode of the winning lines (5% of events at 20:1
            # conflict), projected through the current schema
            env_schema = model.envelope_schema(schema)
            w = grouped.observe(seen, *batch_totals()).select(
                F.col(model.BUCKET_COLUMN),
                F.col(f"_w.{model.META_EMITTED}").alias(model.META_EMITTED),
                F.col(f"_w.{model.META_SEQ}").alias(model.META_SEQ),
                F.from_json(F.col("_w.value"), env_schema).alias("m"),
            )
            winners = w.select(
                *[F.col(f"m.record.data.{c}").alias(c) for c in model.user_columns(schema)],
                F.col(model.META_EMITTED),
                F.col(model.META_SEQ),
                F.col("m.record.data.op").alias(model.META_OP),
                F.col(model.BUCKET_COLUMN),
            )

            def lineage(staged: list[dict]) -> dict | None:
                t0 = time.time()
                totals = _observed(seen)
                new = sorted(set(totals.get("observed_keys") or ()) - known)
                if probe and new:
                    raise _NewFields(new)
                lin, _ = lineage_from_grouped(
                    grouped, totals, batch_id, checkpoint_id, self.table.path, staged
                )
                tm["lineage"] = round(time.time() - t0, 3)
                return lin.to_dict() if self.collect_lineage else None

            return self.commit(
                winners.repartition(n_parts, F.col(model.BUCKET_COLUMN)),
                tm,
                batch_id=batch_id,
                checkpoint_id=checkpoint_id,
                lineage=lineage,
                prepared=True,
                offset_watermark=offset_watermark,
            )

        try:
            version = land(probe=True)
        except _NewFields as e:
            self._evolve_new_fields(grouped, e.names)
            # the re-run does not probe: a name evolve() leaves out (one
            # clashing with an ``_ab_`` metadata column) must not fail it
            version = land(probe=False)
        # the apply_batch total leaves out post-commit (hook + scheduled
        # maintenance), which is timed on its own
        tm["apply_batch_total"] = round(time.time() - t_batch - tm["post_commit"], 3)
        return version

    # ------------------------------------------------------------- streaming
    def replay_stream(
        self,
        feed_path: str,
        checkpoint_dir: str | None = None,
        max_files_per_trigger: int | None = None,
        processing_time: str | None = None,
    ):
        """Streaming ingest of a feed directory with checkpointed offsets —
        the one ingest path for replays and tails alike.

        ``processing_time=None`` → ``trigger(availableNow=True)``: process
        everything currently in the feed then stop (bounded replay / resume).
        Otherwise a continuous tail at the given cadence.

        ``checkpoint_dir=None`` uses a checkpoint the table owns, one per
        feed: ``<table>/_checkpoints/<sha256(feed_path)[:16]>`` (trailing
        ``/`` stripped). Replaying the same feed again then lands only the
        files the stream has not yet consumed, so a feed that gained files
        lands exactly once on a keyless table too.
        """
        if checkpoint_dir is None:
            feed_id = hashlib.sha256(feed_path.rstrip("/").encode()).hexdigest()[:16]
            checkpoint_dir = os.path.join(self.table.path, "_checkpoints", feed_id)
        raw = feed_src.read_feed_stream(
            self.table.spark, feed_path, max_files_per_trigger
        )
        checkpoint_id = checkpoint_dir
        self.stream_progress = []

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # foreachBatch delivers batch N only after every batch < N has
            # its offsets durably committed in this checkpoint, so batch_id
            # is a valid can-never-redeliver watermark (batch N itself may
            # re-run after a crash — strictly-below pruning keeps its entry)
            self.apply_batch(
                batch_df,
                batch_id=batch_id,
                checkpoint_id=checkpoint_id,
                offset_watermark=batch_id,
            )

        writer = raw.writeStream.foreachBatch(sink).option(
            "checkpointLocation", checkpoint_dir
        )
        if processing_time:
            writer = writer.trigger(processingTime=processing_time)
        else:
            writer = writer.trigger(availableNow=True)
        query = writer.start()
        if processing_time is None:
            query.awaitTermination()
            # per-trigger duration breakdown (latestOffset / walCommit /
            # addBatch / commitOffsets ...) — the only visibility into what
            # Structured Streaming spends OUTSIDE apply_batch; metadata-
            # sized, read by perfbench's tail_serve
            import json as _json

            self.stream_progress = [
                _json.loads(p.json) for p in query.recentProgress
            ]
        return query
