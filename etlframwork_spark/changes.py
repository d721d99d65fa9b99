"""Incremental change reader: the CDC *read* side of the snapshot table.

``read_changes(spark, table, from_snapshot, to_snapshot)`` returns the
row-level delta between two retained snapshots as a change feed
(_change_type ∈ insert | update | delete) — what a downstream consumer
would subscribe to for incremental materialization (the Iceberg
"incremental read" / changelog-scan concept).

Scale design: the manifest diff prunes to buckets whose FILE LISTS
changed between the snapshots (unchanged buckets are carried forward by
reference, so their file lists are identical strings); only those
buckets are scanned on both sides, then a full-outer join on the key
compares per-row lsn. Tombstones participate so deletes surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .table import TOMBSTONE_COL, SnapshotTable, is_tombstone, lww_order_cols, parse_fence


def changed_buckets(table: SnapshotTable, from_snapshot: int, to_snapshot: int) -> list[int]:
    """Buckets whose base or delta files differ between the snapshots."""
    old = table.bucket_files(from_snapshot)
    new = table.bucket_files(to_snapshot)
    return sorted(b for b in set(old) | set(new) if old.get(b) != new.get(b))


def read_changes(
    spark: SparkSession, table: SnapshotTable, from_snapshot: int, to_snapshot: int
) -> DataFrame:
    """Row-level delta feed between two snapshots (manifest-pruned)."""
    buckets = changed_buckets(table, from_snapshot, to_snapshot)
    key_cols = table.key_cols
    order_col = table.order_col
    schema = table.schema()
    cols = [f.name for f in schema.fields]
    if not buckets:
        empty = table.read(
            spark, snapshot_id=to_snapshot, schema_id=table.meta["current_schema_id"]
        ).limit(0)
        return empty.withColumn("_change_type", F.lit("insert")).limit(0)

    # Both sides read under the CURRENT registry schema id (not each
    # snapshot's own pinned schema): across a rename/drop evolution the two
    # snapshots would otherwise surface different column names and the diff
    # below would misalign — the field-id projection maps each side's files
    # onto today's names, so the change feed is always in the current schema
    # (round-5; pinned by test_read_changes_across_rename).
    cur_sid = table.meta["current_schema_id"]
    old = (
        table.read(
            spark,
            snapshot_id=from_snapshot,
            buckets=buckets,
            schema_id=cur_sid,
            include_tombstones=True,
        )
        .filter(~is_tombstone())
        .select(*[F.col(c).alias(f"_old_{c}") for c in cols])
    )
    new = table.read(
        spark,
        snapshot_id=to_snapshot,
        buckets=buckets,
        schema_id=cur_sid,
        include_tombstones=True,
    )

    cond = None
    for k in key_cols:
        e = F.col(k).eqNullSafe(F.col(f"_old_{k}"))
        cond = e if cond is None else cond & e
    j = new.join(old, cond, "full_outer")

    new_live = ~is_tombstone() & F.col(key_cols[0]).isNotNull()
    old_live = F.col(f"_old_{key_cols[0]}").isNotNull()
    change = (
        F.when(new_live & ~old_live, "insert")
        .when(~new_live & old_live, "delete")
        .when(new_live & old_live & (F.col(order_col) != F.col(f"_old_{order_col}")), "update")
    )
    # Keys AND the ordering key coalesce from the old side: a key
    # tombstoned then physically removed by purge_tombstones between the
    # two snapshots has NO new-side row at all, so its delete would
    # otherwise surface with a NULL order and be silently dropped by the
    # downstream merge's validation gate (round-6 advice #2). The old
    # side's order is the deleted row's own (lsn, commit); the downstream
    # delete-beats-live tie-break (table.lww_resolve) makes a delete at that
    # exact order deterministically remove the stored row, while any
    # genuinely newer upstream event still wins. For insert/update rows
    # the new side is non-null and the coalesce is an identity.
    order_like = set(lww_order_cols(order_col, cols))
    out_cols = [
        F.coalesce(F.col(c), F.col(f"_old_{c}")).alias(c)
        if c in key_cols or c in order_like
        else F.col(c)
        for c in cols
        if c != TOMBSTONE_COL
    ]
    return j.withColumn("_change_type", change).filter(F.col("_change_type").isNotNull()).select(
        *out_cols, "_change_type"
    )


# -------------------------------------------------- incremental downstream
def last_synced_snapshot(dst: SnapshotTable, job_id: str) -> int | None:
    """Highest source snapshot id this sync job has committed into
    ``dst`` — recovered from dst's own fence log (``{job_id}:{src_snap}``),
    so the sync cursor is exactly as durable and atomic as the data it
    fences: no sidecar state to drift."""
    parsed = [parse_fence(fence) for fence in dst.meta.get("committed_fences", {})]
    return max((p[1] for p in parsed if p is not None and p[0] == job_id), default=None)


def sync_incremental(
    spark: SparkSession,
    src: SnapshotTable,
    dst: SnapshotTable,
    job_id: str = "sync",
    transform=None,
    **merge_kwargs,
) -> dict:
    """Exactly-once incremental propagation ``src -> dst`` (medallion
    bronze->silver chaining): consume ``src``'s change feed since the
    last sync and MERGE it into ``dst``.

    The sync cursor IS a dst epoch fence (``{job_id}:{src_snapshot}``):
    committing the changes and advancing the cursor are one atomic
    manifest commit, re-running any sync is a fenced no-op, and a crash
    between read and commit simply re-reads the same feed. First sync
    bootstraps from ``src``'s full live state when the change-feed base
    (the previous cursor) is no longer retained.

    ``transform`` (optional) maps the change-feed DataFrame before the
    merge — project/derive downstream columns; it must preserve the key
    and order columns and MUST be deterministic (a retry re-applies it).

    Scale: the feed is manifest-pruned to changed buckets (read_changes);
    the merge rewrites only dst buckets the changes hash into. Nothing
    here is O(table); steady-state cost is O(changed data per sync).
    """
    src.refresh()
    dst.refresh()
    cur = src.snapshot()["snapshot_id"]
    last = last_synced_snapshot(dst, job_id)
    if last is not None and cur <= last:
        return {"skipped": True, "synced_from": last, "synced_to": last, "reason": "up_to_date"}

    retained = {s["snapshot_id"] for s in src.meta["snapshots"]}
    if last is not None and last in retained:
        feed = read_changes(spark, src, last, cur)
        batch = feed.withColumn(
            "op",
            F.when(F.col("_change_type") == "delete", "delete").otherwise("insert"),
        ).drop("_change_type")
        mode = "incremental"
    else:
        if last is not None:
            # The cursor snapshot expired on src: the delete history between
            # last and cur is GONE, so re-inserting the full state could
            # leave rows downstream that were deleted upstream. Refuse
            # loudly (Iceberg incremental reads fail the same way) instead
            # of silently diverging.
            raise ValueError(
                f"sync cursor snapshot {last} is no longer retained on the "
                f"source (retained: {sorted(retained)}); deletes between it "
                f"and {cur} are unrecoverable. Recreate the downstream table "
                "(empty dst bootstraps from the full live state) or retain "
                "source snapshots at least as long as the sync interval "
                "(expire_snapshots keep_last)."
            )
        if dst.files_for():
            # delta files too: a dst populated exclusively via MOR commits
            # (append_delta) has empty base files but is NOT empty
            raise ValueError(
                "first sync requires an EMPTY downstream table (bootstrap "
                "writes the full live state as inserts; a non-empty dst "
                "would keep rows the source may have deleted)"
            )
        # bootstrap: full live state as inserts. Pinned snapshot read so a
        # concurrent src commit cannot tear the batch; deletes need no
        # replay — absent keys are simply absent in the snapshot.
        batch = src.read(spark, snapshot_id=cur).withColumn("op", F.lit("insert"))
        mode = "bootstrap"
    if transform is not None:
        batch = transform(batch)

    from .merge import merge_batch

    out = merge_batch(
        spark, dst, batch, job_id=job_id, epoch_id=cur, **merge_kwargs
    )
    return {
        "skipped": bool(out.get("skipped")),
        "mode": mode,
        "synced_from": last,
        "synced_to": cur,
        "rows": out.get("events"),
        "snapshot_id": out.get("snapshot_id"),
    }
