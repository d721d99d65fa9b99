"""Tombstone purge + GC: purged state must stay oracle-identical for the
VISIBLE rows while reclaiming tombstones and old files."""

from __future__ import annotations

from etlframwork_spark.events import (
    CDC_BASE_SCHEMA,
    EventLogSpec,
    TARGET_BASE_SCHEMA,
    _make_events_frame,
    apply_oracle,
    oracle_digests,
)
from etlframwork_spark.hashing import bucket_of
from etlframwork_spark.maintenance import full_maintenance, purge_tombstones, rebucket
from etlframwork_spark.merge import merge_batch
from etlframwork_spark.table import TOMBSTONE_COL, CommitConflict, SnapshotTable


def test_purge_tombstones_preserves_visible_state(spark, tmp_path):
    spec = EventLogSpec(seed=8, n_events=2000, n_repos=15, paths_per_repo=8, p_delete=0.25)
    pdf = _make_events_frame(spec).drop(columns=["lang"])
    table = SnapshotTable.create(
        str(tmp_path / "t"), TARGET_BASE_SCHEMA, key_cols=["repo", "path"], order_col="lsn", num_buckets=4
    )
    merge_batch(spark, table, spark.createDataFrame(pdf, schema=CDC_BASE_SCHEMA), epoch_id=0)
    want = oracle_digests(apply_oracle(pdf.assign(lang=None)))

    full = table.read(spark, include_tombstones=True)
    n_tomb = full.filter(TOMBSTONE_COL).count()
    assert n_tomb > 0

    # watermark covers the whole replay -> every tombstone is purgeable
    res = purge_tombstones(spark, table, watermark_lsn=spec.n_events + 1)
    assert res["tombstones_purged"] == n_tomb
    got = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in table.read(spark).collect()
    }
    assert got == want
    assert table.read(spark, include_tombstones=True).filter(TOMBSTONE_COL).count() == 0

    # partial watermark purges nothing below it twice (idempotent-ish)
    res2 = purge_tombstones(spark, table, watermark_lsn=spec.n_events + 1)
    assert res2["tombstones_purged"] == 0


def test_full_maintenance_reclaims_files(spark, tmp_path):
    spec = EventLogSpec(seed=14, n_events=1500, n_repos=10, paths_per_repo=6, p_delete=0.2)
    pdf = _make_events_frame(spec).drop(columns=["lang"])
    table = SnapshotTable.create(
        str(tmp_path / "t"), TARGET_BASE_SCHEMA, key_cols=["repo", "path"], order_col="lsn", num_buckets=4
    )
    for e, lo in enumerate(range(0, len(pdf), 500)):
        merge_batch(
            spark, table, spark.createDataFrame(pdf.iloc[lo : lo + 500], schema=CDC_BASE_SCHEMA), epoch_id=e
        )
    want = oracle_digests(apply_oracle(pdf.assign(lang=None)))
    out = full_maintenance(spark, table, watermark_lsn=spec.n_events + 1, keep_snapshots=1)
    assert out["files_vacuumed"] > 0
    got = {(r["repo"], r["path"]): r["content_sha256"] for r in table.read(spark).collect()}
    assert got == want


def test_rebucket_mid_ingest_digest_and_pruning(spark, tmp_path):
    """Round-3 verdict #3 (bucket-count evolution), the full 'done' bar:
    ingest at B=4 -> rebucket to 16 -> continue ingest; final state equals
    an uninterrupted B=16 run; key-equality pruning pins ONE bucket under
    the NEW spec; time travel to the pre-rebucket snapshot still reads
    correctly and pins under the OLD spec."""
    spec = EventLogSpec(seed=21, n_events=2400, n_repos=12, paths_per_repo=6, p_delete=0.15)
    pdf = _make_events_frame(spec).drop(columns=["lang"])
    chunks = [pdf.iloc[:800], pdf.iloc[800:1600], pdf.iloc[1600:]]

    evolving = SnapshotTable.create(
        str(tmp_path / "ev"), TARGET_BASE_SCHEMA, key_cols=["repo", "path"],
        order_col="lsn", num_buckets=4,
    )
    straight = SnapshotTable.create(
        str(tmp_path / "st"), TARGET_BASE_SCHEMA, key_cols=["repo", "path"],
        order_col="lsn", num_buckets=16,
    )
    for i, c in enumerate(chunks):
        merge_batch(spark, straight, spark.createDataFrame(c, schema=CDC_BASE_SCHEMA), epoch_id=i)

    merge_batch(spark, evolving, spark.createDataFrame(chunks[0], schema=CDC_BASE_SCHEMA), epoch_id=0)
    merge_batch(
        spark, evolving, spark.createDataFrame(chunks[1], schema=CDC_BASE_SCHEMA),
        epoch_id=1, write_mode="mor",  # leave deltas so rebucket folds them too
    )
    pre_rebucket_snap = evolving.snapshot()["snapshot_id"]
    pre_rows = sorted(tuple(r) for r in evolving.read(spark).collect())

    res = rebucket(spark, evolving, 16)
    assert res["rebucketed"] and evolving.num_buckets == 16
    merge_batch(spark, evolving, spark.createDataFrame(chunks[2], schema=CDC_BASE_SCHEMA), epoch_id=2)

    # 1. state digest-identical to the uninterrupted B=16 table
    assert sorted(tuple(r) for r in evolving.read(spark).collect()) == sorted(
        tuple(r) for r in straight.read(spark).collect()
    )
    # 2. key-equality pruning pins one bucket under the NEW spec
    row = evolving.read(spark).orderBy("repo", "path").first()
    filters = [("repo", "=", row["repo"]), ("path", "=", row["path"])]
    clean, dirty = evolving.scan_files(filters=filters)
    want_b = bucket_of([row["repo"], row["path"]], 16)
    for p in clean + dirty:
        assert f"_bucket={want_b}/" in p, p
    got = evolving.read(spark, filters=filters).collect()
    assert [(r["repo"], r["path"]) for r in got] == [(row["repo"], row["path"])]
    # 3. time travel to the pre-rebucket snapshot: correct rows, OLD spec
    tt = evolving.read(spark, snapshot_id=pre_rebucket_snap)
    assert sorted(tuple(r) for r in tt.collect()) == pre_rows
    old_b = bucket_of([row["repo"], row["path"]], 4)
    clean_tt, dirty_tt = evolving.scan_files(filters=filters, snapshot_id=pre_rebucket_snap)
    for p in clean_tt + dirty_tt:
        assert f"_bucket={old_b}/" in p, p


def _race_first_commit(table, race):
    """Run ``race()`` just before ``table``'s first commit; returns the
    list that records each CommitConflict its commits raise."""
    real_commit, raced, conflicts = table.commit, [], []

    def racing_commit(*a, **kw):
        if not raced:
            raced.append(True)
            race()
        try:
            return real_commit(*a, **kw)
        except CommitConflict:
            conflicts.append(True)
            raise

    table.commit = racing_commit
    return conflicts


def test_rebucket_conflicts_with_concurrent_writer(spark, tmp_path):
    """A rebucket computed from stale state must fail its commit, not
    silently drop a concurrent epoch's rows, and then recompute from
    fresh state."""
    spec = EventLogSpec(seed=4, n_events=600, n_repos=8, paths_per_repo=5, p_delete=0.1)
    pdf = _make_events_frame(spec).drop(columns=["lang"])
    t = SnapshotTable.create(
        str(tmp_path / "c"), TARGET_BASE_SCHEMA, key_cols=["repo", "path"],
        order_col="lsn", num_buckets=4,
    )
    merge_batch(spark, t, spark.createDataFrame(pdf.iloc[:300], schema=CDC_BASE_SCHEMA), epoch_id=0)
    conflicts = _race_first_commit(t, lambda: merge_batch(
        spark, SnapshotTable.load(t.root), spark.createDataFrame(pdf.iloc[300:], schema=CDC_BASE_SCHEMA),
        epoch_id=1, write_mode="mor",
    ))
    res = rebucket(spark, t, 8)
    # the first commit lost to the racing epoch; the recompute won
    assert len(conflicts) == 1
    assert res["rebucketed"]
    t.refresh()
    assert t.num_buckets == 8
    want = oracle_digests(apply_oracle(pdf.assign(lang=None)))
    got = {(r["repo"], r["path"]): r["content_sha256"] for r in t.read(spark).collect()}
    assert got == want


def test_shrinking_rebucket_recomputes_when_a_writer_fills_an_empty_bucket(spark, tmp_path):
    """A rebucket to fewer buckets validates every bucket id of both
    specs, so a concurrent epoch landing in an old bucket that was empty
    at the pin is a CommitConflict the rebucket recomputes from, not an
    error that stops it."""
    keys = [f"k{i}" for i in range(64)]
    low = next(k for k in keys if bucket_of([k], 8) < 4)
    high = next(k for k in keys if bucket_of([k], 8) >= 4)
    cols = "k string, lsn bigint, v string"
    t = SnapshotTable.create(
        str(tmp_path / "s"), spark.createDataFrame([], cols).schema, key_cols=["k"],
        order_col="lsn", num_buckets=8,
    )

    def batch(k, lsn):
        return spark.createDataFrame([(k, lsn, f"v{lsn}", "insert")], cols + ", op string")

    merge_batch(spark, t, batch(low, 1), epoch_id=0)
    conflicts = _race_first_commit(t, lambda: merge_batch(
        spark, SnapshotTable.load(t.root), batch(high, 2), epoch_id=1, write_mode="mor"
    ))
    assert rebucket(spark, t, 4)["rebucketed"]
    assert len(conflicts) == 1
    assert t.refresh().num_buckets == 4
    assert sorted((r["k"], r["lsn"]) for r in t.read(spark).collect()) == sorted([(low, 1), (high, 2)])
