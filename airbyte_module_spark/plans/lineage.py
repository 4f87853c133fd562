"""Per-batch / per-file lineage records (SURVEY.md §2.4 A1).

BASELINE.json north_star requires "per-partition lineage (source offset
range, rows applied, merge conflicts) and throughput metrics". Lineage
costs no Spark job of its own: the batch totals are aggregates observed on
the batch's write itself (``DataFrame.observe`` with :func:`batch_totals`),
and the per-partition records — one per delta file, the
``spark_partition_id()`` grain of the write — are read from each file's
parquet footer. The record is persisted inside the lake table's snapshot
metadata, so a snapshot fully explains which batch produced it and what it
applied.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame
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
    # cursor and source-offset ranges over every event of the batch; events
    # without a cursor are left out (None when no event has one)
    min_emitted_at: int | None
    max_emitted_at: int | None
    min_seq: int | None
    max_seq: int | None
    buckets: list[int] = field(default_factory=list)
    # one record per delta file the batch wrote (one per write task):
    # {file, buckets, rows, min/max_emitted_at, min/max_seq}, from the
    # file's footer — rows and ranges count the winners the file holds
    per_partition: list[dict] = field(default_factory=list)

    def to_dict(self) -> dict:
        return asdict(self)


def batch_totals() -> list[Column]:
    """The aggregates a batch's write observes on the ingest's per-key frame
    (one row per live key, or per event on a keyless table: ``_w`` winner
    struct, ``_n`` event count, ``_mne/_mxe`` cursor range, ``_mns/_mxs``
    offset range — see CdcPipeline.apply_batch): event, winner and winner
    delete counts, the cursor and offset ranges (``min``/``max`` skip
    nulls), and ``observed_keys`` — the distinct payload field names on
    winner lines, the schema-evolution probe."""
    return [
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


def _footer_ranges(path: str) -> dict:
    """``rows`` and the ``min/max_emitted_at``, ``min/max_seq`` ranges of
    one parquet file, from its footer's row-group statistics (no data page
    is read). A range is None when no row of the file has the column set."""
    md = pq.read_metadata(path)
    names = md.schema.names
    out: dict = {"rows": md.num_rows}
    for col, name in ((model.META_EMITTED, "emitted_at"), (model.META_SEQ, "seq")):
        j = names.index(col)
        stats = [md.row_group(i).column(j).statistics for i in range(md.num_row_groups)]
        have = [s for s in stats if s is not None and s.has_min_max]
        out[f"min_{name}"] = min((s.min for s in have), default=None)
        out[f"max_{name}"] = max((s.max for s in have), default=None)
    return out


def lineage_from_grouped(
    grouped: DataFrame,
    totals: dict,
    batch_id: int | str,
    checkpoint_id: str,
    root: str,
    entries: list[dict],
) -> tuple[BatchLineage, list[str]]:
    """Lineage of one committed batch, without a Spark job: ``totals`` is
    the row of :func:`batch_totals` the write observed on ``grouped`` (the
    per-key frame the batch was written from; no job runs on it here), or
    ``{}`` for a batch without rows; ``entries`` are the snapshot entries
    the write staged under the table dir ``root``, whose files' footers
    give the per-file records.

    Returns the record and the distinct payload field names observed on
    winner lines (the schema-evolution probe)."""
    per_partition = [
        {"file": f"{e['dir']}/{f['name']}", "buckets": f["buckets"],
         **_footer_ranges(os.path.join(root, e["dir"], f["name"]))}
        for e in entries
        for f in e["files"]
    ]
    n_events = int(totals.get("events") or 0)
    n_winners = int(totals.get("winners") or 0)
    lin = BatchLineage(
        batch_id=batch_id,
        checkpoint_id=checkpoint_id,
        n_events=n_events,
        n_winners=n_winners,
        n_conflicts=n_events - n_winners,
        n_deletes=int(totals.get("deletes") or 0),
        min_emitted_at=totals.get("min_emitted_at"),
        max_emitted_at=totals.get("max_emitted_at"),
        min_seq=totals.get("min_seq"),
        max_seq=totals.get("max_seq"),
        buckets=sorted({b for e in entries for b in e["buckets"]}),
        per_partition=per_partition,
    )
    return lin, sorted(totals.get("observed_keys") or ())
