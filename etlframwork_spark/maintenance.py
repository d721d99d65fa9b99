"""Table maintenance: tombstone purge + snapshot/file GC.

At 10^10-event scale delete tombstones accrue without bound. A tombstone
is only needed while a LOWER-lsn event for its key could still be
(re)delivered; once the stream's checkpointed offset log guarantees every
source offset below ``watermark_lsn`` is fully committed, tombstones with
``lsn < watermark_lsn`` are dead weight and can be dropped by a
copy-on-write rewrite. Snapshot expiry + vacuum then reclaim the old
files (table.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .table import TOMBSTONE_COL, SnapshotTable, recompute_on_conflict


def purge_tombstones(
    spark: SparkSession, table: SnapshotTable, watermark_lsn: int
) -> dict:
    """Rewrite buckets containing purgeable tombstones (rows with
    ``_deleted AND lsn < watermark_lsn``); untouched buckets carry forward
    by reference. Returns counts. Safe only when the ingest checkpoint
    guarantees no re-delivery below ``watermark_lsn``. Racing a concurrent
    writer to the same buckets fails the commit (CommitConflict) and the
    rewrite is recomputed from fresh state."""
    return recompute_on_conflict(_purge_once, spark, table, watermark_lsn)


def _purge_once(spark: SparkSession, table: SnapshotTable, watermark_lsn: int) -> dict:
    table.refresh()
    read_snapshot = table.snapshot()["snapshot_id"]
    purgeable = F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)) & (
        F.col(table.order_col) < F.lit(watermark_lsn)
    )
    hit = table.bucket_counts(table.read(spark, include_tombstones=True).filter(purgeable))
    if not hit:
        return {"buckets_rewritten": 0, "tombstones_purged": 0}
    n_purged = sum(hit.values())
    # sorted like compaction: the rewrite already pays the shuffle, and
    # sorting keeps per-file key bounds tight for stats.py file skipping
    table.rewrite_buckets(
        table.read(spark, buckets=hit, include_tombstones=True).filter(~purgeable),
        hit,
        {"operation": "purge_tombstones", "watermark_lsn": watermark_lsn, "purged": n_purged},
        key_sort=True,
        validate_from_snapshot=read_snapshot,
    )
    return {"buckets_rewritten": len(hit), "tombstones_purged": n_purged}


def compact_buckets(
    spark: SparkSession,
    table: SnapshotTable,
    min_deltas: int = 1,
    max_records_per_file: int | None = None,
) -> dict:
    """Fold merge-on-read delta files back into bucket base files.

    Buckets carrying >= ``min_deltas`` delta files are read with the
    table's LWW resolve (tombstones retained — purge is a separate,
    watermark-gated op) and rewritten; the replace commit clears their
    delta lists. State is unchanged byte-for-byte (LWW associativity),
    asserted in tests/test_mor.py. Racing a concurrent writer (e.g. an
    ingest epoch appending a delta to a bucket being compacted) fails the
    commit (CommitConflict) and the compaction is recomputed from fresh
    state — never silently dropping the new delta.

    **Clustering for file skipping** (the stats.py payoff): the rewrite
    always sorts each bucket by the key columns, and
    ``max_records_per_file`` splits the sorted stream into size-bounded
    files. Each file then covers a CONTIGUOUS key range, so its recorded
    (repo, path) bounds are tight and a repo-equality predicate — which
    hash bucketing alone cannot prune (the bucket is hash(repo, path), so
    one repo's paths land everywhere) — skips every file whose range
    excludes it. This is Iceberg's sort-order/rewrite concept: ingest
    stays fast and hash-bucketed; compaction buys the read-side pruning.
    With ``max_records_per_file=None`` each bucket stays one file and
    sorting costs one in-task sort.
    """
    return recompute_on_conflict(_compact_once, spark, table, min_deltas, max_records_per_file)


def _compact_once(
    spark: SparkSession,
    table: SnapshotTable,
    min_deltas: int,
    max_records_per_file: int | None = None,
) -> dict:
    table.refresh()
    read_snapshot = table.snapshot()["snapshot_id"]
    counts = table.delta_file_counts()
    buckets = sorted(b for b, n in counts.items() if n >= min_deltas)
    if not buckets:
        return {"buckets_compacted": 0, "delta_files_folded": 0}
    folded = sum(counts[b] for b in buckets)
    table.rewrite_buckets(
        table.read(spark, buckets=buckets, include_tombstones=True),
        buckets,
        {"operation": "compact", "buckets": len(buckets), "delta_files_folded": folded},
        key_sort=True,
        max_records_per_file=max_records_per_file,
        validate_from_snapshot=read_snapshot,
    )
    return {"buckets_compacted": len(buckets), "delta_files_folded": folded}


def rebucket(
    spark: SparkSession,
    table: SnapshotTable,
    new_num_buckets: int,
    max_records_per_file: int | None = None,
) -> dict:
    """Evolve the table's bucket count (Iceberg partition-spec evolution).

    A table created at B=4 that grows 100x saturates write parallelism
    (merge routes each bucket to one task) — round-3 verdict #3: the only
    path was a manual rewrite outside the format. This rewrites every
    live row under the new ``xxhash64(key) % new_num_buckets`` layout in
    ONE atomic replace commit that also updates the table's bucket spec;
    per-snapshot specs keep time travel and key-equality pruning honest
    for pre-rebucket snapshots (they pin buckets under the count their
    files were written with).

    One full-table shuffle by design — the same cost class as Iceberg's
    rewrite_data_files under a new spec; ingest continues against the new
    spec afterwards with state unchanged (digest-pinned in
    tests/test_maintenance.py). Tombstones are retained (purge is a
    separate watermark-gated op). Racing a concurrent writer fails the
    commit (CommitConflict) and the rewrite recomputes from fresh state.
    """
    if int(new_num_buckets) < 1:
        raise ValueError(f"new_num_buckets must be >= 1, got {new_num_buckets}")
    return recompute_on_conflict(
        _rebucket_once, spark, table, int(new_num_buckets), max_records_per_file
    )


def _rebucket_once(
    spark: SparkSession,
    table: SnapshotTable,
    new_num_buckets: int,
    max_records_per_file: int | None,
) -> dict:
    table.refresh()
    if new_num_buckets == table.num_buckets:
        return {"rebucketed": False, "num_buckets": new_num_buckets}
    snap = table.snapshot()
    old_buckets = {int(b) for b in snap["files"]} | {
        int(b) for b, fs in snap.get("delta_files", {}).items() if fs
    }
    # the commit replaces every bucket of both specs; each new bucket maps
    # wholly to one task, one file per bucket (bar maxRecordsPerFile splits)
    _, files_by_bucket = table.rewrite_buckets(
        table.read(spark, include_tombstones=True),
        old_buckets | set(range(new_num_buckets)),
        {
            "operation": "rebucket",
            "from_buckets": len(old_buckets),
            "num_buckets": new_num_buckets,
        },
        key_sort=True,
        max_records_per_file=max_records_per_file,
        validate_from_snapshot=snap["snapshot_id"],
        new_num_buckets=new_num_buckets,
    )
    return {
        "rebucketed": True,
        "num_buckets": new_num_buckets,
        "files_written": sum(len(v) for v in files_by_bucket.values()),
    }


def full_maintenance(
    spark: SparkSession, table: SnapshotTable, watermark_lsn: int, keep_snapshots: int = 5
) -> dict:
    """purge_tombstones + expire_snapshots + vacuum in one sweep."""
    out = purge_tombstones(spark, table, watermark_lsn)
    out["snapshots_expired"] = table.expire_snapshots(keep_last=keep_snapshots)
    out["files_vacuumed"] = table.vacuum()
    return out
