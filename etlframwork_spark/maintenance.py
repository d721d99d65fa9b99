"""Table maintenance: tombstone purge, compaction, rebucketing and
snapshot/file GC.

At 10^10-event scale delete tombstones accrue without bound. A tombstone
is only needed while a LOWER-lsn event for its key could still be
(re)delivered; once the stream's checkpointed offset log guarantees every
source offset below ``watermark_lsn`` is fully committed, tombstones with
``lsn < watermark_lsn`` are dead weight and can be dropped by a
copy-on-write rewrite. Snapshot expiry + vacuum then reclaim the old
files (table.py).

Purge, compaction and rebucketing are each one ``SnapshotTable.rewrite``:
pick the buckets on fresh state, read them with tombstones at a pinned
snapshot, rewrite them key-sorted and commit validated from the pin,
recomputing on CommitConflict.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .table import SnapshotTable, is_tombstone


def purge_tombstones(
    spark: SparkSession, table: SnapshotTable, watermark_lsn: int
) -> dict:
    """Rewrite buckets containing purgeable tombstones (rows with
    ``_deleted AND lsn < watermark_lsn``); untouched buckets carry forward
    by reference. Returns counts. Safe only when the ingest checkpoint
    guarantees no re-delivery below ``watermark_lsn``. Racing a concurrent
    writer to the same buckets fails the commit (CommitConflict) and the
    rewrite is recomputed from fresh state."""
    purgeable = is_tombstone() & (F.col(table.order_col) < F.lit(watermark_lsn))
    hit, _, _ = table.rewrite(
        spark,
        lambda: table.bucket_counts(table.read(spark, include_tombstones=True).filter(purgeable)),
        lambda df: df.filter(~purgeable),
        lambda hit: {"operation": "purge_tombstones", "watermark_lsn": watermark_lsn,
                     "purged": sum(hit.values())},
    )
    return {"buckets_rewritten": len(hit), "tombstones_purged": sum(hit.values())}


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
    folded, _, _ = table.rewrite(
        spark,
        lambda: {b: n for b, n in table.delta_file_counts().items() if n >= min_deltas},
        lambda df: df,
        lambda folded: {"operation": "compact", "buckets": len(folded),
                        "delta_files_folded": sum(folded.values())},
        max_records_per_file=max_records_per_file,
    )
    return {"buckets_compacted": len(folded), "delta_files_folded": sum(folded.values())}


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
    new_num_buckets = int(new_num_buckets)
    if new_num_buckets < 1:
        raise ValueError(f"new_num_buckets must be >= 1, got {new_num_buckets}")

    def pick() -> dict[int, int]:
        # every bucket id of both specs: reading them reads every row, and
        # the commit replaces and validates them all, so a concurrent write
        # to an old bucket empty at the pin is a CommitConflict too. Each
        # new bucket maps wholly to one write task, one file per bucket
        # (bar maxRecordsPerFile splits).
        if new_num_buckets == table.num_buckets:
            return {}
        return dict.fromkeys(range(max(table.num_buckets, new_num_buckets)), 0)

    picked, _, files = table.rewrite(
        spark,
        pick,
        lambda df: df,
        lambda _: {"operation": "rebucket", "from_buckets": table.num_buckets,
                   "num_buckets": new_num_buckets},
        max_records_per_file=max_records_per_file,
        new_num_buckets=new_num_buckets,
    )
    out = {"rebucketed": bool(picked), "num_buckets": new_num_buckets}
    if picked:
        out["files_written"] = sum(len(v) for v in files.values())
    return out


def full_maintenance(
    spark: SparkSession, table: SnapshotTable, watermark_lsn: int, keep_snapshots: int = 5
) -> dict:
    """purge_tombstones + expire_snapshots + vacuum in one sweep."""
    out = purge_tombstones(spark, table, watermark_lsn)
    out["snapshots_expired"] = table.expire_snapshots(keep_last=keep_snapshots)
    out["files_vacuumed"] = table.vacuum()
    return out
