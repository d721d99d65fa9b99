"""Structured Streaming binlog/WAL tail -> exactly-once MERGE sink.

BASELINE.json:6: "a Structured Streaming binlog/WAL tail that parses
insert/update/delete change events ... applies them via key-partitioned
MERGE/upsert ... Exactly-once is achieved with idempotent commit manifests
(batch-epoch fenced Iceberg snapshot commits) plus a checkpointed offset
log, so killing and resuming mid-stream replays to the identical final
table state."

Realization (no Kafka jar in the sandbox — SURVEY.md §2.1 S2): the
binlog/WAL is an append-only directory of parquet event segments; Spark's
file stream source provides the checkpointed offset log (planned batches
are persisted to ``checkpointLocation/offsets`` BEFORE execution, so a
killed epoch is re-delivered with the identical file range). The sink is
``foreachBatch`` -> :func:`etlframwork_spark.merge.merge_batch`, whose
``(job_id, batch_id)`` fence makes re-delivered epochs no-ops. Together:
at-least-once delivery x idempotent commit = exactly-once table state.

Schema evolution across restarts: the event schema is discovered from the
segment footers at (re)start (additive union); the stream reads with that
explicit schema (older segments back-fill nulls), and the merge's schema
gate evolves the table registry at the first micro-batch that carries a
new column (micro-batch-boundary resolution per BJ:6).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import SparkSession
from pyspark.sql.types import StructField, StructType

from ..lineage import MetricsTable
from ..merge import SHA_COL, merge_batch
from ..table import SnapshotTable
from .sources import FileStreamSource

from pyspark.sql.types import StringType


def derive_target_schema(
    event_schema: StructType, key_cols: list[str], order_col: str
) -> StructType:
    """Target-table schema from the event envelope: keys first, payload in
    envelope order, then the order column and the engine's sha column."""
    by_name = {f.name: f for f in event_schema.fields}
    for k in key_cols + [order_col]:
        if k not in by_name:
            raise ValueError(f"event schema missing required column {k!r}")
    payload = [
        f for f in event_schema.fields if f.name not in (*key_cols, order_col, "op", SHA_COL)
    ]
    return StructType(
        [StructField(k, by_name[k].dataType, False) for k in key_cols]
        + [StructField(f.name, f.dataType, True) for f in payload]
        + [StructField(order_col, by_name[order_col].dataType, False)]
        + [StructField(SHA_COL, StringType(), True)]
    )


@dataclass
class IngestJob:
    """Declarative config for one CDC ingest pipeline (the [genre]
    job/step-config surface, SURVEY.md §1.1)."""

    job_id: str
    events_dir: str
    table_root: str
    checkpoint_dir: str
    metrics_dir: str | None = None
    quarantine_dir: str | None = None
    key_cols: list[str] = field(default_factory=lambda: ["repo", "path"])
    order_col: str = "lsn"
    num_buckets: int = 16
    max_files_per_trigger: int = 8
    write_mode: str = "cow"  # or "mor" (delta-append merge-on-read fast path)
    compact_min_deltas: int | None = None  # mor: fold deltas when a bucket reaches this many
    available_now: bool = True  # drain-and-stop; else continuous
    processing_interval: str = "5 seconds"
    # metadata hygiene cadence: every N epochs expire old snapshots and
    # prune old fences so a long-running stream's metadata stays O(buckets
    # + retained window) instead of O(epochs). None disables.
    expire_every: int | None = 50
    keep_snapshots: int = 10

    @classmethod
    def from_dict(cls, d: dict) -> "IngestJob":
        return cls(**{k: v for k, v in d.items() if k in cls.__dataclass_fields__})


def open_or_create_table(job: IngestJob, event_schema: StructType) -> SnapshotTable:
    if SnapshotTable.exists(job.table_root):
        return SnapshotTable.load(job.table_root)
    target = derive_target_schema(event_schema, job.key_cols, job.order_col)
    return SnapshotTable.create(
        job.table_root,
        target,
        key_cols=job.key_cols,
        order_col=job.order_col,
        num_buckets=job.num_buckets,
        name=job.job_id,
    )


def run_ingest(
    spark: SparkSession,
    job: IngestJob,
    fault_injector: Callable[[str], None] | None = None,
    await_termination: bool = True,
    source=None,
):
    """Start (or resume, given the same checkpoint) the ingest stream.

    With ``available_now`` the call drains all currently-visible segments
    in ``max_files_per_trigger`` chunks and returns; otherwise it returns
    the running StreamingQuery for the caller to manage.

    ``source`` may be any object with ``discover_schema()`` and
    ``read_stream(spark, schema)`` (sources.py); defaults to the file
    tail described by the job. Swapping in KafkaStreamSource changes
    nothing else — fencing, checkpointing and MERGE are source-agnostic.

    Each micro-batch is one ``merge_batch`` epoch. An epoch whose commit
    loses to another writer (a rebucket, or a compaction or purge run
    elsewhere) is recomputed inside ``merge_batch`` from fresh state, so
    the stream keeps running; its validation and quarantine write run
    once, and the epoch fence keeps the recompute exactly-once.
    """
    if source is None:
        source = FileStreamSource(job.events_dir, job.max_files_per_trigger)
    event_schema = source.discover_schema()
    table = open_or_create_table(job, event_schema)
    metrics = MetricsTable(job.metrics_dir) if job.metrics_dir else None

    def apply_epoch(batch_df, epoch_id: int) -> None:
        merge_batch(
            batch_df.sparkSession,
            table,
            batch_df,
            job_id=job.job_id,
            epoch_id=epoch_id,
            metrics=metrics,
            quarantine_dir=job.quarantine_dir,
            write_mode=job.write_mode,
            fault_injector=fault_injector,
        )
        if job.write_mode == "mor" and job.compact_min_deltas:
            from ..maintenance import compact_buckets

            compact_buckets(batch_df.sparkSession, table, min_deltas=job.compact_min_deltas)
        if job.expire_every and epoch_id > 0 and epoch_id % job.expire_every == 0:
            table.expire_snapshots(keep_last=job.keep_snapshots)

    stream = source.read_stream(spark, event_schema)
    writer = stream.writeStream.foreachBatch(apply_epoch).option(
        "checkpointLocation", job.checkpoint_dir
    )
    if job.available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=job.processing_interval)
    query = writer.start()
    if job.available_now and await_termination:
        query.awaitTermination()
        return table.refresh()
    return query
