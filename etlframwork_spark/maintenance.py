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

from .table import BUCKET_COL, TOMBSTONE_COL, SnapshotTable, bucket_exchange, bucket_expr


_MAX_RECOMPUTE = 3


def purge_tombstones(
    spark: SparkSession, table: SnapshotTable, watermark_lsn: int
) -> dict:
    """Rewrite buckets containing purgeable tombstones (rows with
    ``_deleted AND lsn < watermark_lsn``); untouched buckets carry forward
    by reference. Returns counts. Safe only when the ingest checkpoint
    guarantees no re-delivery below ``watermark_lsn``. Racing a concurrent
    writer to the same buckets fails the commit (CommitConflict) and the
    rewrite is recomputed from fresh state."""
    from .table import CommitConflict

    for attempt in range(_MAX_RECOMPUTE):
        try:
            return _purge_once(spark, table, watermark_lsn)
        except CommitConflict:
            if attempt == _MAX_RECOMPUTE - 1:
                raise
    raise AssertionError("unreachable")


def _purge_once(spark: SparkSession, table: SnapshotTable, watermark_lsn: int) -> dict:
    table.refresh()
    read_snapshot = table.snapshot()["snapshot_id"]
    full = table.read(spark, include_tombstones=True)
    purgeable = F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)) & (
        F.col(table.order_col) < F.lit(watermark_lsn)
    )
    nb = table.num_buckets
    hit = (
        full.filter(purgeable)
        .select(bucket_expr(table.key_cols, nb).alias(BUCKET_COL))
        .groupBy(BUCKET_COL)
        .count()
        .collect()
    )
    buckets = sorted(r[BUCKET_COL] for r in hit)
    n_purged = sum(r["count"] for r in hit)
    if not buckets:
        return {"buckets_rewritten": 0, "tombstones_purged": 0}

    keep = (
        table.read(spark, buckets=buckets, include_tombstones=True)
        .filter(~purgeable)
        .withColumn(BUCKET_COL, bucket_expr(table.key_cols, nb))
    )
    data_dir = table.new_data_dir()
    (
        bucket_exchange(keep, buckets)
        # same key-clustered layout as sorted compaction: the rewrite is
        # already paying the shuffle, sorting keeps per-file key bounds
        # tight for stats.py file skipping
        .sortWithinPartitions(BUCKET_COL, *table.key_cols)
        .write.partitionBy(BUCKET_COL)
        .option("compression", "zstd")
        .parquet(data_dir)
    )
    from .merge import _list_written_files

    files_by_bucket = _list_written_files(data_dir)
    table.commit(
        files_by_bucket,
        buckets,
        summary={"operation": "purge_tombstones", "watermark_lsn": watermark_lsn, "purged": n_purged},
        validate_from_snapshot=read_snapshot,
    )
    return {"buckets_rewritten": len(buckets), "tombstones_purged": n_purged}


def compact_buckets(
    spark: SparkSession,
    table: SnapshotTable,
    min_deltas: int = 1,
    sort_by_key: bool = True,
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

    **Clustering for file skipping** (the stats.py payoff): with
    ``sort_by_key`` (default) the rewrite sorts each bucket by the key
    columns, and ``max_records_per_file`` splits the sorted stream into
    size-bounded files. Each file then covers a CONTIGUOUS key range, so
    its recorded (repo, path) bounds are tight and a repo-equality
    predicate — which hash bucketing alone cannot prune (the bucket is
    hash(repo, path), so one repo's paths land everywhere) — skips every
    file whose range excludes it. This is Iceberg's sort-order/rewrite
    concept: ingest stays fast and hash-bucketed; compaction buys the
    read-side pruning. With ``max_records_per_file=None`` each bucket
    stays one file (today's layout) and sorting costs one in-task sort.
    """
    from .table import CommitConflict

    for attempt in range(_MAX_RECOMPUTE):
        try:
            return _compact_once(spark, table, min_deltas, sort_by_key, max_records_per_file)
        except CommitConflict:
            if attempt == _MAX_RECOMPUTE - 1:
                raise
    raise AssertionError("unreachable")


def _compact_once(
    spark: SparkSession,
    table: SnapshotTable,
    min_deltas: int,
    sort_by_key: bool = True,
    max_records_per_file: int | None = None,
) -> dict:
    table.refresh()
    read_snapshot = table.snapshot()["snapshot_id"]
    counts = table.delta_file_counts()
    buckets = sorted(b for b, n in counts.items() if n >= min_deltas)
    if not buckets:
        return {"buckets_compacted": 0, "delta_files_folded": 0}
    folded = sum(counts[b] for b in buckets)
    keep = table.read(spark, buckets=buckets, include_tombstones=True).withColumn(
        BUCKET_COL, bucket_expr(table.key_cols, table.num_buckets)
    )
    data_dir = table.new_data_dir()
    out = bucket_exchange(keep, buckets)
    if sort_by_key:
        # rows arrive grouped by bucket within the task; sorting by
        # (bucket, *key) keeps the grouping and orders each bucket's rows
        # by key, so maxRecordsPerFile cuts the stream into contiguous
        # key-range runs (tight per-file bounds for stats.py skipping)
        out = out.sortWithinPartitions(BUCKET_COL, *table.key_cols)
    writer = out.write.partitionBy(BUCKET_COL).option("compression", "zstd")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.parquet(data_dir)
    from .merge import _list_written_files

    files_by_bucket = _list_written_files(data_dir)
    table.commit(
        files_by_bucket,
        buckets,
        summary={"operation": "compact", "buckets": len(buckets), "delta_files_folded": folded},
        mode="replace",
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
    from .table import CommitConflict

    if int(new_num_buckets) < 1:
        raise ValueError(f"new_num_buckets must be >= 1, got {new_num_buckets}")
    for attempt in range(_MAX_RECOMPUTE):
        try:
            return _rebucket_once(spark, table, int(new_num_buckets), max_records_per_file)
        except CommitConflict:
            if attempt == _MAX_RECOMPUTE - 1:
                raise
    raise AssertionError("unreachable")


def _rebucket_once(
    spark: SparkSession,
    table: SnapshotTable,
    new_num_buckets: int,
    max_records_per_file: int | None,
) -> dict:
    table.refresh()
    if new_num_buckets == table.num_buckets:
        return {"rebucketed": False, "num_buckets": new_num_buckets}
    read_snapshot = table.snapshot()["snapshot_id"]
    snap = table.snapshot()
    old_buckets = sorted(
        {int(b) for b in snap["files"]}
        | {int(b) for b, fs in snap.get("delta_files", {}).items() if fs}
    )
    full = table.read(spark, include_tombstones=True).withColumn(
        BUCKET_COL, bucket_expr(table.key_cols, new_num_buckets)
    )
    data_dir = table.new_data_dir()
    # every new bucket is affected: each maps wholly to one task, one
    # file per bucket (bar maxRecordsPerFile splits)
    out = bucket_exchange(full, range(new_num_buckets)).sortWithinPartitions(
        BUCKET_COL, *table.key_cols
    )
    writer = out.write.partitionBy(BUCKET_COL).option("compression", "zstd")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.parquet(data_dir)
    from .merge import _list_written_files

    files_by_bucket = _list_written_files(data_dir)
    changed = sorted(set(old_buckets) | set(files_by_bucket))
    table.commit(
        files_by_bucket,
        changed,
        summary={
            "operation": "rebucket",
            "from_buckets": len(old_buckets),
            "num_buckets": new_num_buckets,
        },
        mode="replace",
        validate_from_snapshot=read_snapshot,
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
