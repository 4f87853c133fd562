"""Per-batch / per-partition lineage records (SURVEY.md §2.4 A1).

BASELINE.json north_star requires "per-partition lineage (source offset
range, rows applied, merge conflicts) and throughput metrics". Lineage is
computed with one small aggregation per micro-batch (map-side combined by
Catalyst) and persisted inside the lake table's snapshot metadata, so a
snapshot fully explains which batch produced it and what it applied.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airbyte_module_spark import model


@dataclass
class BatchLineage:
    batch_id: int | str
    checkpoint_id: str
    n_events: int
    n_winners: int
    n_conflicts: int  # events superseded by LWW within the batch
    n_deletes: int
    min_emitted_at: int | None
    max_emitted_at: int | None
    buckets: list[int] = field(default_factory=list)
    per_partition: list[dict] = field(default_factory=list)

    def to_dict(self) -> dict:
        return asdict(self)


def lineage_from_grouped(
    grouped: DataFrame, batch_id: int | str, checkpoint_id: str
) -> tuple[BatchLineage, list[str]]:
    """Lineage from the ingest's per-key frame (one row per live key, or
    per event on a keyless table: ``_w`` winner struct, ``_n`` event count,
    ``_mne/_mxe`` cursor range, ``_mns/_mxs`` offset range — see
    CdcPipeline.apply_batch).

    The frame is already cached and, on a keyed table, metadata-sized, so
    lineage costs ONE tiny re-aggregation instead of two extra passes over
    the full feed — the per-partition "source offset range, rows applied"
    the north rule asks for falls out of numbers the dedup already computed.

    Also returns the distinct payload field names observed on winner
    lines — the schema-evolution probe — riding the SAME aggregation job
    (per-bucket ``collect_set`` of each winner's key array, flattened and
    deduped driver-side over the <= n_buckets rows). Probe and lineage each
    cost one driver job per micro-batch when run separately; at production
    tail cadence (small batches, many triggers) the fixed per-job cost
    dominates both, so the merged form halves the engine-owned driver jobs
    between trigger and merge (round-6 multibatch attribution)."""
    aggs = [
        F.sum("_n").alias("events"),
        F.count("*").alias("winners"),
        F.sum((F.col(f"_w.{model.META_OP}") == "d").cast("long")).alias("deletes"),
        F.min("_mne").alias("min_emitted_at"),
        F.max("_mxe").alias("max_emitted_at"),
        F.min("_mns").alias("min_seq"),
        F.max("_mxs").alias("max_seq"),
        F.array_distinct(
            F.flatten(
                F.collect_set(
                    F.json_object_keys(
                        F.get_json_object(F.col("_w.value"), "$.record.data")
                    )
                )
            )
        ).alias("observed_keys"),
    ]
    rows = grouped.groupBy(model.BUCKET_COLUMN).agg(*aggs).collect()
    observed = sorted({k for r in rows for k in (r["observed_keys"] or [])})
    per_partition = [
        {
            model.BUCKET_COLUMN: r[model.BUCKET_COLUMN],
            "events": int(r["events"]),
            "min_emitted_at": r["min_emitted_at"],
            "max_emitted_at": r["max_emitted_at"],
            "min_seq": r["min_seq"],
            "max_seq": r["max_seq"],
        }
        for r in rows
    ]
    n_events = sum(int(r["events"]) for r in rows)
    n_winners = sum(int(r["winners"]) for r in rows)
    lin = BatchLineage(
        batch_id=batch_id,
        checkpoint_id=checkpoint_id,
        n_events=n_events,
        n_winners=n_winners,
        n_conflicts=n_events - n_winners,
        n_deletes=sum(int(r["deletes"] or 0) for r in rows),
        min_emitted_at=min((r["min_emitted_at"] for r in rows), default=None),
        max_emitted_at=max((r["max_emitted_at"] for r in rows), default=None),
        buckets=sorted(int(r[model.BUCKET_COLUMN]) for r in rows),
        per_partition=per_partition,
    )
    return lin, observed
