"""Key-partitioned MERGE/upsert — the engine's flagship operator.

Implements BASELINE.json:6's "key-partitioned MERGE/upsert (keyed on
repo+path, ordered by commit LSN with last-writer-wins dedup in a per-key
sorted-merge apply)" as a copy-on-write merge into the bucketed
``SnapshotTable``:

1.  validate/parse the CDC batch (quarantine malformed rows);
2.  detect additive schema evolution vs the table's schema registry
    (micro-batch-boundary resolution, BJ:6);
3.  batch stats (events, deletes, order-column bounds) ride the
    resolve+write action through one ``Observation`` on the batch side;
4.  take the last writer per key through ``table.lww_resolve``: a
    ``max_by`` of the row over the (lsn, commit) order. Catalyst plans
    partial_max_by before the shuffle, so a hot key is pre-reduced
    map-side on every input partition — skew defuses without a salt and
    everything stays in whole-stage codegen. Copy-on-write resolves the
    batch with the stored rows of ONLY the buckets the batch hashes into;
    merge-on-read resolves the batch alone and leaves the rest to reads.

    LWW is associative/commutative over the total order (lsn, commit) —
    commit ids are unique per event — so any split of the work produces
    the identical final row; ties (event re-delivery) are exact
    duplicates and collapse, and at an exact tie a delete beats a live
    row. A late LOWER-lsn event never clobbers: the stored row
    participates in the same max with its stored lsn.
5.  winners that are deletes become tombstones; ``table.rewrite_buckets``
    writes and commits the rows, epoch-fenced and atomic. A cow epoch is
    one ``SnapshotTable.rewrite``, the pinned read-and-rewrite cycle of
    delete, purge, compaction and rebucket; a mor epoch appends delta
    files. Both recompute a commit lost to a concurrent writer;
    unaffected buckets carry forward by reference;
6.  per-bucket/file lineage + per-epoch throughput metrics from parquet
    footers (no extra Spark job).

Scale notes (100 TB posture): merge-on-read epochs scan the batch
EXACTLY ONCE — the stats ride the write and the affected-bucket list
falls out of the partitioned write. Copy-on-write adds one bucket-count
job over the batch (``table.bucket_counts``, at most ``num_buckets``
rows collected) because it must know the affected buckets before reading
their stored rows. The target table is never scanned beyond affected
buckets; all logic is JVM-side; the write routes each bucket wholly to
one task (``table.bucket_exchange``).
"""

from __future__ import annotations

import time
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .lineage import MetricsTable, shuffle_totals
from .table import (
    TOMBSTONE_COL,
    SnapshotTable,
    fence_key,
    is_tombstone,
    lww_resolve,
    recompute_on_conflict,
    tombstone_where,
)

VALID_OPS = ("insert", "update", "delete")
_STORED = "__stored__"
SHA_COL = "content_sha256"


def _align(df: DataFrame, schema: StructType, extra: list[str]) -> DataFrame:
    """Project ``df`` onto ``schema``'s columns (missing -> typed nulls),
    keeping ``extra`` columns (e.g. ``op``) as-is."""
    have = set(df.columns)
    cols = [
        (F.col(f.name).cast(f.dataType) if f.name in have else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in schema.fields
    ]
    return df.select(*cols, *[F.col(c) for c in extra])


def merge_batch(
    spark: SparkSession,
    table: SnapshotTable,
    batch: DataFrame,
    *,
    job_id: str = "job",
    epoch_id: int | None = 0,
    metrics: MetricsTable | None = None,
    quarantine_dir: str | None = None,
    write_mode: str = "cow",
    fault_injector: Callable[[str], None] | None = None,
    branch: str | None = None,
) -> dict[str, Any]:
    """Apply one micro-batch of CDC events to the table, exactly once.

    ``write_mode``:
      * ``cow`` (copy-on-write): rewrite affected buckets with the merged
        state — reads stay cheap, writes pay the rewrite.
      * ``mor`` (merge-on-read): append the batch's per-key winners as
        bucket DELTA files — no stored-table read, no rewrite; reads
        resolve LWW across base+deltas until compaction folds them
        (maintenance.compact_buckets). The at-scale ingest fast path.

    ``branch``: write-audit-publish — the merge reads stored rows from and
    commits to the named branch head; main is untouched until
    ``table.fast_forward(branch)`` publishes.

    ``(job_id, epoch_id)`` is the epoch fence: an epoch already committed
    is skipped (idempotent re-delivery, BJ:6). ``epoch_id=None`` applies
    the batch unfenced — every call applies, and an empty batch publishes
    nothing.

    A commit lost to a concurrent writer (another epoch, a compaction,
    purge or rebucket changed the epoch's buckets: ``CommitConflict``) is
    recomputed from fresh table state in both modes. Only the commit cycle
    (schema gate, read, resolve, write, commit) reruns; validation, the
    quarantine write and the fence check run once.

    Returns a summary dict; ``{"skipped": True}`` when the epoch fence was
    already committed.
    """
    if write_mode not in ("cow", "mor"):
        raise ValueError(f"unknown write_mode {write_mode!r}")
    t0 = time.monotonic()
    shuffle0 = shuffle_totals(spark)  # None unless the UI/REST is enabled
    fence = None if epoch_id is None else fence_key(job_id, epoch_id)
    table.refresh()
    if fence is not None and table.is_fence_committed(fence, branch=branch):
        return {"skipped": True, "fence": fence}
    if branch is not None and branch not in table.branches():
        raise KeyError(
            f"branch {branch!r} not found — create_branch first "
            f"(known branches: {sorted(table.branches())})"
        )

    key_cols = table.key_cols

    # -- 1. parse/validate (S3): op whitelist + non-null key/order cols -----
    order_col = table.order_col
    cond = F.col("op").isin(*VALID_OPS) & F.col(order_col).isNotNull()
    for k in key_cols:
        cond = cond & F.col(k).isNotNull()
    ev = batch.filter(cond)
    quarantined = 0
    if quarantine_dir is not None:
        bad = batch.filter(~F.coalesce(cond, F.lit(False)))
        quarantined = bad.count()
        if quarantined:
            bad.write.mode("append").option("compression", "zstd").parquet(quarantine_dir)

    timings: dict[str, float] = {"stats": 0.0}
    summary: dict[str, Any] = {"fence": fence, "quarantined": quarantined, "new_columns": [],
                               "events": 0, "deletes": 0, "affected_buckets": 0}
    bounds: dict[str, Any] = {"lo": None, "hi": None}
    obs: Observation | None = None
    # a delete event or a stored tombstone: it beats a live row at an
    # exact order tie and, as the winner, becomes a tombstone
    is_del = (F.col("op") == "delete") | ((F.col("op") == _STORED) & is_tombstone())

    def epoch_rows(stored: DataFrame | None) -> DataFrame:
        """The epoch's rows on the attempt's fresh table state: steps 2-4."""
        nonlocal obs
        # -- 2. schema-evolution gate (T7), against the fresh registry: the
        # stored rows are read, and the files recorded, under it
        schema = table.evolved_schema(f for f in batch.schema.fields if f.name != "op")
        all_cols = schema.fieldNames()
        summary["new_columns"] = all_cols[len(table.schema().fields):]
        # -- 3. batch stats ride the write: an Observation on the batch
        # side counts events and deletes and bounds the order column, with
        # no stats job. One Observation serves one action.
        obs = Observation(f"epoch_stats_{fence}")
        unioned = _align(ev, schema, ["op"]).select(*all_cols, "op").observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.min(order_col).alias("lo"),
            F.max(order_col).alias("hi"),
            F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("dels"),
        )
        if stored is not None:
            unioned = unioned.unionByName(_align(stored, schema, []).withColumn("op", F.lit(_STORED)))
        # -- 4. LWW resolve
        resolved = lww_resolve(unioned, key_cols, all_cols + ["op"], order_col, is_del)
        if SHA_COL in all_cols:
            # winners: stored rows keep their sha; new upserts get
            # sha2(content) computed JVM-side. Tables declared without the
            # column (generic keyed upsert) skip this derivation.
            resolved = resolved.withColumn(
                SHA_COL,
                F.when(F.col("op") == _STORED, F.col(SHA_COL))
                .otherwise(F.sha2(F.col("content"), 256) if "content" in all_cols else F.lit(None).cast("string")),
            )
        # winning deletes become tombstones (payload and sha nulled, key +
        # full ordering key retained)
        return tombstone_where(resolved, is_del, key_cols, order_col).drop("op")

    # -- 5. write the epoch's buckets, fenced atomic commit ------------------
    # The hook timestamps the primitive's phases.
    marks: dict[str, float] = {}

    def hook(stage: str) -> None:
        if fault_injector is not None:
            fault_injector(stage)
        marks[stage] = time.monotonic()

    def epoch_summary(files_by_bucket: dict[int, list[str]]) -> dict[str, Any] | None:
        timings["resolve_write"] = round(time.monotonic() - marks["pre_write"], 2)
        # Zero written files <=> zero validated events (a cow epoch rewrites
        # only the buckets its events hash into). An EMPTY plan loses its
        # CollectMetrics node to Catalyst, so obs.get must not be read there.
        if not files_by_bucket:
            return None
        m = obs.get
        bounds.update(lo=m["lo"], hi=m["hi"])
        summary.update(events=m["n"] or 0, deletes=m["dels"] or 0, affected_buckets=len(files_by_bucket))
        # a COPY: commit/lineage timings land in the returned dict only,
        # so the in-memory snapshot keeps matching the manifest on disk
        return {**summary, "operation": f"merge_{write_mode}", "timings": dict(timings)}

    if write_mode == "cow":
        # rewrite the buckets the batch hashes into with the LWW over the
        # batch ∪ their stored rows, tombstones included, so a late
        # lower-LSN re-delivery can never resurrect a deleted key
        def pick() -> dict[int, int]:
            t_pick = time.monotonic()
            picked = table.bucket_counts(ev)
            marks["picked"] = time.monotonic()
            timings["stats"] = round(marks["picked"] - t_pick, 2)
            return picked

        def rows(stored: DataFrame) -> DataFrame:
            # driver-side planning of the stored-side scan (scan_files +
            # _read_files); grows with live schema versions, not file count
            timings["read_plan"] = round(time.monotonic() - marks["picked"], 3)
            return epoch_rows(stored)

        _, snap, files_by_bucket = table.rewrite(
            spark, pick, rows, lambda _: epoch_summary, fault_injector=hook, fence=fence, branch=branch
        )
    else:
        # resolve the batch ALONE: stored rows (tombstones included) meet it
        # in the read-time LWW. The exchange deals every bucket of the
        # fresh spec, so a recompute after a rebucket hashes anew.
        def append() -> tuple[dict[str, Any] | None, dict[int, list[str]]]:
            table.refresh()
            return table.rewrite_buckets(
                epoch_rows(None), range(table.num_buckets), epoch_summary,
                mode="append_delta", fault_injector=hook, fence=fence, branch=branch,
            )

        snap, files_by_bucket = recompute_on_conflict(append)
    if not files_by_bucket:
        # an empty epoch still commits its fence so its re-delivery is a
        # no-op; an empty unfenced batch publishes nothing
        snap = None if fence is None else table.commit(
            {}, [], fence=fence, summary={**summary, "operation": "noop"}, branch=branch
        )
        summary["snapshot_id"] = None if snap is None else snap["snapshot_id"]
        summary.update(skipped=fence is not None and snap is None, timings=timings)
        return summary
    if snap is None:  # fence raced us
        summary["skipped"] = True
        return summary
    timings["commit"] = round(time.monotonic() - marks["pre_commit"], 2)
    n_events, n_deletes = summary["events"], summary["deletes"]

    # -- 6. lineage + throughput metrics --------------------------------------
    t_l0 = time.monotonic()
    secs = time.monotonic() - t0
    shuffle1 = shuffle_totals(spark) if shuffle0 is not None else None
    sh_read = sh_write = io_in = io_out = None
    if shuffle0 is not None and shuffle1 is not None:
        sh_read = shuffle1["shuffle_read_bytes"] - shuffle0["shuffle_read_bytes"]
        sh_write = shuffle1["shuffle_write_bytes"] - shuffle0["shuffle_write_bytes"]
        io_in = shuffle1["input_bytes"] - shuffle0["input_bytes"]
        io_out = shuffle1["output_bytes"] - shuffle0["output_bytes"]
    summary.update(
        snapshot_id=snap["snapshot_id"],
        files_written=sum(len(v) for v in files_by_bucket.values()),
        seconds=secs,
        events_per_sec=(n_events / secs if secs > 0 else None),
        shuffle_read_bytes=sh_read,
        shuffle_write_bytes=sh_write,
    )
    timings["lineage"] = 0.0
    if metrics is not None:
        metrics.emit_lineage(
            job_id, epoch_id, snap["snapshot_id"], files_by_bucket, bounds["lo"], bounds["hi"], table
        )
        timings["lineage"] = round(time.monotonic() - t_l0, 2)
        metrics.emit_epoch(
            {
                "job_id": job_id,
                "epoch_id": epoch_id,
                "snapshot_id": snap["snapshot_id"],
                "events": n_events,
                "upserts": n_events - n_deletes,
                "deletes": n_deletes,
                "quarantined": quarantined,
                "affected_buckets": summary["affected_buckets"],
                "files_written": summary["files_written"],
                "seconds": secs,
                "events_per_sec": summary["events_per_sec"],
                "shuffle_read_bytes": sh_read,
                "shuffle_write_bytes": sh_write,
                "input_bytes": io_in,
                "output_bytes": io_out,
            }
        )
    summary["timings"] = timings
    return summary


# ------------------------------------------------------------ predicate DML
def delete_where(
    spark: SparkSession,
    table: SnapshotTable,
    predicate,
    filters: list[tuple] | None = None,
) -> dict:
    """``DELETE FROM table WHERE predicate`` with CDC-correct semantics.

    Matching LIVE rows become delete TOMBSTONES (payload and content-sha
    nulled; key + the FULL ordering key retained, by the same
    ``table.tombstone_where`` rule a merged delete follows) via a
    copy-on-write rewrite of only the affected buckets: one
    ``SnapshotTable.rewrite``, the read-and-rewrite cycle cow epochs,
    purge, compaction and rebucketing also run. Tombstoning instead of
    physical removal keeps the table's replay invariants: a late/duplicate
    re-delivery of any event at-or-below the row's (lsn, commit) order
    cannot resurrect the key, while a genuinely newer event re-inserts it
    (standard point-in-time DELETE under concurrent ingest). The payload
    bytes leave the CURRENT snapshot immediately; older snapshots still
    reference the old files until ``expire_snapshots`` + ``vacuum`` — run
    those for a full scrub (GDPR path). ``purge_tombstones`` later
    reclaims the tombstone rows themselves.

    ``predicate``: a Column or SQL-expression string evaluated against
    live rows only (existing tombstones are never re-deleted, which also
    makes the operation idempotent). ``filters`` (optional triplets) are
    forwarded to ``table.read`` for scan pruning AND conjoined into the
    delete condition itself — the semantics are consistently
    ``predicate AND filters`` (round-6 advice #4: pruning-only filters
    made the tombstoned set bucket-discovery-dependent when the filters
    weren't implied by the predicate).

    At 100 TB: one filtered scan to find affected buckets (stats/bucket
    pruning applies), then a rewrite shuffling only those buckets —
    untouched buckets carry forward by reference. Racing writers fail the
    CAS commit and the delete recomputes from fresh state.
    """
    from .stats import filters_to_expr, validate_filters

    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    # table.read(filters=...) re-applies the filters as a row predicate, so
    # the find scan already counts pred AND filters; conjoin the same
    # filters into the tombstone flag below so both agree.
    if filters:
        pred = pred & filters_to_expr(validate_filters(filters))
    hit, snap, _ = table.rewrite(
        spark,
        lambda: table.bucket_counts(table.read(spark, filters=filters).filter(pred)),
        # a matching row becomes a tombstone; a tombstone stays one
        lambda df: tombstone_where(
            df,
            is_tombstone() | F.coalesce(pred.cast("boolean"), F.lit(False)),
            table.key_cols,
            table.order_col,
        ),
        lambda hit: {"operation": "delete_where", "rows_deleted": sum(hit.values())},
    )
    return {
        "buckets_rewritten": len(hit),
        "rows_deleted": sum(hit.values()),
        "snapshot_id": snap["snapshot_id"],
    }


def merge_into(
    spark: SparkSession,
    table: SnapshotTable,
    source: DataFrame,
    new_order: int,
    *,
    when_matched: str = "update",
    matched_condition=None,
    when_not_matched: str = "insert",
    job_id: str = "merge_into",
    epoch_id: int | None = None,
    **merge_kwargs,
) -> dict:
    """Conditional ``MERGE INTO table USING source ON keys`` — the classic
    warehouse DML shape, composed over ``merge_batch``.

    ``source`` is any DataFrame carrying the table's key columns plus the
    payload columns to write (it does NOT need the order column — every
    emitted change is stamped at ``new_order``, which must sit above the
    stream's delivered watermark exactly like ``update_where``).

    Clauses (each optional branch of the standard statement):

    * ``when_matched``: ``"update"`` (matched target rows are upserted
      with the source's values), ``"delete"`` (matched rows are
      tombstoned), or ``"ignore"`` (insert-only merge).
    * ``matched_condition``: optional SQL boolean over the joined view —
      source columns by their own names, target columns as ``t_<name>``
      (e.g. ``"value > t_value"`` = upsert only newer). Matched rows
      failing it are left untouched.
    * ``when_not_matched``: ``"insert"`` or ``"ignore"``.

    Duplicate source keys are REJECTED (ANSI/Delta MERGE semantics: one
    source row per target row; LWW silently picking one would mask a bug
    in the feed). Everything downstream is inherited from ``merge_batch``:
    epoch fencing via ``epoch_id``, LWW vs concurrent ingest (events above
    ``new_order`` still win), bucket-local rewrite, lineage, content-sha.

    At 100 TB: the target is read ONLY for the buckets the source keys
    hash into (one O(num_buckets) collect), the match join is an equi
    join on the key columns (sort-merge/shuffled-hash — source and the
    pruned target shuffle once each), and the resulting change batch
    flows through the same bucket-aligned write as any ingest epoch.
    """
    if when_matched not in ("update", "delete", "ignore"):
        raise ValueError(f"when_matched must be update|delete|ignore, got {when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(f"when_not_matched must be insert|ignore, got {when_not_matched!r}")
    table.refresh()  # the target is read on this handle before merge_batch refreshes it
    key_cols = table.key_cols
    missing = [k for k in key_cols if k not in source.columns]
    if missing:
        raise ValueError(f"source is missing key column(s) {missing}")
    schema = table.schema()
    order_col = table.order_col

    cond_nn = None
    for k in key_cols:
        e = F.col(k).isNotNull()
        cond_nn = e if cond_nn is None else cond_nn & e
    src = source.filter(cond_nn)
    if src.groupBy(*key_cols).count().filter("count > 1").limit(1).count() > 0:
        raise ValueError(
            "duplicate keys in MERGE source: the statement requires at most "
            "one source row per target row (pre-aggregate the source, e.g. "
            "LWW it on its own ordering, before merging)"
        )

    # bucket-prune the target read to the buckets the source keys hash
    # into (same shape as delete_where's find scan; O(num_buckets) rows)
    tgt = table.read(spark, buckets=table.bucket_counts(src)).select(
        *[F.col(k).alias(f"_t_{k}") for k in key_cols],
        *[
            F.col(f.name).alias(f"t_{f.name}")
            for f in schema.fields
            if f.name not in key_cols and f.name != TOMBSTONE_COL
        ],
    )
    jcond = None
    for k in key_cols:
        e = F.col(k) == F.col(f"_t_{k}")
        jcond = e if jcond is None else jcond & e
    joined = src.join(tgt, jcond, "left")
    matched = F.col(f"_t_{key_cols[0]}").isNotNull()
    mcond = (
        F.lit(True)
        if matched_condition is None
        else F.coalesce(
            (F.expr(matched_condition) if isinstance(matched_condition, str) else matched_condition).cast("boolean"),
            F.lit(False),
        )
    )

    src_cols = [c for c in source.columns if c in schema.fieldNames()]
    # ANSI/Delta MERGE UPDATE-SET semantics (round-6 advice #1): payload
    # columns the source does NOT carry keep the matched target row's
    # value — previously merge_batch's _align null back-filled them, so a
    # partial-column source silently wiped unassigned target columns.
    # One select serves every branch: for a matched row ``t_<c>`` is the
    # stored value; for a not-matched insert the outer join leaves
    # ``t_<c>`` null, which is exactly the standard INSERT back-fill.
    # Order/sha/tombstone stay excluded (stamped/derived/engine-owned).
    payload_fields = [
        f
        for f in schema.fields
        if f.name not in key_cols and f.name not in (order_col, TOMBSTONE_COL, SHA_COL)
    ]
    out_sel = [F.col(k) for k in key_cols] + [
        (F.col(f.name) if f.name in src_cols else F.col(f"t_{f.name}").alias(f.name))
        for f in payload_fields
    ]
    branches = []
    if when_matched in ("update", "delete"):
        op = "update" if when_matched == "update" else "delete"
        branches.append(joined.filter(matched & mcond).select(*out_sel, F.lit(op).alias("op")))
    if when_not_matched == "insert":
        branches.append(joined.filter(~matched).select(*out_sel, F.lit("insert").alias("op")))
    if not branches:
        raise ValueError("both clauses are 'ignore' — the merge would be a no-op")
    batch = branches[0]
    for b in branches[1:]:
        batch = batch.unionByName(b)
    batch = batch.withColumn(order_col, F.lit(new_order).cast(schema[order_col].dataType))
    if SHA_COL in schema.fieldNames() and SHA_COL in batch.columns:
        batch = batch.drop(SHA_COL)  # derived, never accepted from the source
    return merge_batch(
        spark, table, batch, job_id=job_id, epoch_id=epoch_id, **merge_kwargs
    )


def update_where(
    spark: SparkSession,
    table: SnapshotTable,
    assignments: dict,
    predicate,
    new_order: int,
    job_id: str = "update_where",
    epoch_id: int | None = None,
    filters: list[tuple] | None = None,
    **merge_kwargs,
) -> dict:
    """``UPDATE table SET ... WHERE predicate`` under concurrent CDC ingest.

    Implemented AS A MERGE: the matching live rows are read, the
    assignments applied, and the result fed back through ``merge_batch``
    as a correction batch at ``new_order`` — so UPDATE inherits the whole
    ingest contract for free: epoch fencing (pass ``epoch_id`` for
    exactly-once), quarantine validation, LWW resolution, bucket-local
    copy-on-write, lineage, and the content-sha invariant (updating
    ``content`` recomputes ``content_sha256`` like any upsert).

    ``new_order`` is the correction's position in the table's total
    order and MUST be above the source's delivered watermark: events
    already delivered (order <= new_order) can no longer beat the
    corrected row, while genuinely newer events win as usual. The
    original rows' unique ``commit`` tiebreak is carried through, so two
    corrections at the same ``new_order`` stay deterministic per key.

    ``assignments`` maps column name -> Column or plain literal (a str
    IS a literal — pass ``F.expr(...)`` for an expression; auto-parsing
    strings would make ``{"note": "flagged"}`` silently reference a
    column named flagged). Key/order/engine columns are rejected
    (changing a key is a delete+insert, not an update). ``filters`` are
    part of the update semantics — ``table.read`` re-applies them as a
    row predicate before ``predicate``, so the corrected set is
    consistently ``predicate AND filters`` (same contract as
    ``delete_where``); they additionally drive scan pruning.
    """
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    table.refresh()  # the matching rows are read on this handle, as in merge_into
    schema = table.schema()
    cols = set(schema.fieldNames())
    protected = set(table.key_cols) | {table.order_col, TOMBSTONE_COL, SHA_COL}
    for name in assignments:
        if name in protected:
            raise ValueError(
                f"column {name!r} is a key/order/engine column and cannot be "
                "assigned (delete + re-insert to change a key; the content "
                "sha is derived, never assigned)"
            )
        if name not in cols:
            raise KeyError(f"column {name!r} not in table schema {sorted(cols)}")
    upd = table.read(spark, filters=filters).filter(pred)
    for name, value in assignments.items():
        from pyspark.sql import Column

        col = value if isinstance(value, Column) else F.lit(value)
        upd = upd.withColumn(name, col.cast(schema[name].dataType))
    upd = upd.withColumn(table.order_col, F.lit(new_order).cast("long"))
    if SHA_COL in cols:
        # merge_batch derives the sha for non-stored upserts; drop ours
        upd = upd.drop(SHA_COL)
    batch = upd.withColumn("op", F.lit("update"))
    return merge_batch(
        spark, table, batch, job_id=job_id, epoch_id=epoch_id, **merge_kwargs
    )
