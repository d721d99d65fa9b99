"""Incremental change reader vs the sequential oracle: the delta between
two snapshots must equal the oracle-state diff (insert/update/delete)."""

from __future__ import annotations

import pytest

from etlframwork_spark.changes import changed_buckets, read_changes
from etlframwork_spark.events import (
    CDC_BASE_SCHEMA,
    EventLogSpec,
    TARGET_BASE_SCHEMA,
    _make_events_frame,
    apply_oracle,
)
from etlframwork_spark.merge import merge_batch
from etlframwork_spark.table import SnapshotTable


def _diff(state_a: dict, state_b: dict) -> dict:
    out = {}
    for k in state_b:
        if k not in state_a:
            out[k] = "insert"
        elif state_b[k]["lsn"] != state_a[k]["lsn"]:
            out[k] = "update"
    for k in state_a:
        if k not in state_b:
            out[k] = "delete"
    return out


def test_read_changes_matches_oracle_diff(spark, tmp_path):
    spec = EventLogSpec(seed=31, n_events=3000, n_repos=20, paths_per_repo=10, p_delete=0.15)
    pdf = _make_events_frame(spec).drop(columns=["lang"])
    table = SnapshotTable.create(
        str(tmp_path / "t"), TARGET_BASE_SCHEMA, key_cols=["repo", "path"], order_col="lsn", num_buckets=8
    )
    cut = 1500
    merge_batch(spark, table, spark.createDataFrame(pdf.iloc[:cut], schema=CDC_BASE_SCHEMA), epoch_id=0)
    s1 = table.snapshot()["snapshot_id"]
    merge_batch(spark, table, spark.createDataFrame(pdf.iloc[cut:], schema=CDC_BASE_SCHEMA), epoch_id=1)
    s2 = table.snapshot()["snapshot_id"]

    oracle_a = apply_oracle(pdf.iloc[:cut].assign(lang=None))
    oracle_b = apply_oracle(pdf.assign(lang=None))
    want = _diff(oracle_a, oracle_b)

    got_df = read_changes(spark, table, s1, s2)
    got = {(r["repo"], r["path"]): r["_change_type"] for r in got_df.collect()}
    assert got == want
    # updates/inserts carry the NEW row payload
    for r in got_df.filter("_change_type != 'delete'").collect():
        assert r["lsn"] == oracle_b[(r["repo"], r["path"])]["lsn"]
    # no-change between identical snapshots
    assert read_changes(spark, table, s2, s2).count() == 0
    assert changed_buckets(table, s2, s2) == []


def test_read_changes_across_rename(spark, tmp_path):
    """The change feed must surface in the CURRENT schema even when the
    snapshot range straddles an evolve_schema rename — each side's files
    project onto today's names by field id (round-5; the from-side used
    to read the snapshot's own pre-rename schema and the _old_ select
    blew up on the missing new name)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("v", LongType()),
            StructField("lsn", LongType()),
        ]
    )
    ev_schema = StructType(schema.fields + [StructField("op", StringType())])
    t = SnapshotTable.create(
        str(tmp_path / "t"), schema, key_cols=["k"], order_col="lsn", num_buckets=4
    )
    merge_batch(
        spark,
        t,
        spark.createDataFrame([(f"k{i}", 10 + i, i, "insert") for i in range(8)], ev_schema),
        job_id="chg",
        epoch_id=0,
    )
    s0 = t.snapshot()["snapshot_id"]
    t.evolve_schema(renames={"v": "value"})
    new_ev = StructType(
        [
            StructField("k", StringType()),
            StructField("value", LongType()),
            StructField("lsn", LongType()),
            StructField("op", StringType()),
        ]
    )
    merge_batch(
        spark,
        t,
        spark.createDataFrame(
            [("k3", 999, 100, "insert"), ("k5", None, 101, "delete"), ("k9", 19, 102, "insert")],
            new_ev,
        ),
        job_id="chg",
        epoch_id=1,
    )
    s1 = t.snapshot()["snapshot_id"]
    feed = {r["k"]: (r["_change_type"], r["value"]) for r in read_changes(spark, t, s0, s1).collect()}
    assert feed == {"k3": ("update", 999), "k5": ("delete", None), "k9": ("insert", 19)}


# ----------------------------------------------------- incremental sync
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

_SYNC_SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("v", LongType()),
        StructField("lsn", LongType()),
    ]
)
_SYNC_EV = StructType(_SYNC_SCHEMA.fields + [StructField("op", StringType())])


def _mk(tmp_path, name):
    return SnapshotTable.create(
        str(tmp_path / name), _SYNC_SCHEMA, key_cols=["k"], order_col="lsn",
        num_buckets=4,
    )


def _merge(spark, t, rows, epoch):
    return merge_batch(
        spark, t, spark.createDataFrame(rows, _SYNC_EV), job_id="up", epoch_id=epoch
    )


def test_sync_incremental_propagates_and_fences(spark, tmp_path):
    """Medallion chaining: bootstrap, then incremental epochs with
    updates + deletes; downstream equals upstream after every sync;
    re-syncing the same snapshot is a fenced no-op."""
    from etlframwork_spark.changes import sync_incremental

    src = _mk(tmp_path, "src")
    dst = _mk(tmp_path, "dst")

    _merge(spark, src, [(f"k{i}", i, i, "insert") for i in range(20)], 0)
    r = sync_incremental(spark, src, dst, job_id="s2s")
    assert r["mode"] == "bootstrap" and not r["skipped"]
    dst.refresh()
    assert _state(spark, dst) == _state(spark, src)

    # epoch 1 upstream: updates + deletes
    _merge(spark, src, [("k3", 300, 100, "update"), ("k7", 0, 101, "delete"),
                        ("k50", 50, 102, "insert")], 1)
    r2 = sync_incremental(spark, src, dst, job_id="s2s")
    assert r2["mode"] == "incremental" and not r2["skipped"]
    dst.refresh()
    got = _state(spark, dst)
    assert got == _state(spark, src)
    assert ("k7",) not in {k for k in got}  # delete propagated
    # idempotent: same src snapshot -> up-to-date no-op
    r3 = sync_incremental(spark, src, dst, job_id="s2s")
    assert r3["skipped"] and r3["reason"] == "up_to_date"


class _Crash(Exception):
    pass


def _kill_at(stage):
    def inject(point):
        if point == stage:
            raise _Crash(point)

    return inject


@pytest.mark.parametrize("stage", ["pre_commit", "post_commit"])
def test_sync_incremental_killed_at_commit_points(spark, tmp_path, stage):
    """sync_incremental killed on its own, bootstrap and incremental, at a
    commit point of its merge (the merge's ``fault_injector``): dst loads,
    a kill before the commit leaves dst's snapshot and sync cursor as they
    were, and a re-run reaches the uninterrupted dst state and cursor (a
    fenced no-op after a kill past the commit)."""
    from etlframwork_spark.changes import last_synced_snapshot, sync_incremental

    src = _mk(tmp_path, "src")
    want = _mk(tmp_path, "want")
    dst = _mk(tmp_path, "dst")
    epochs = [
        [(f"k{i}", i, i, "insert") for i in range(20)],
        [("k3", 300, 100, "update"), ("k7", 0, 101, "delete"), ("k50", 50, 102, "insert")],
    ]
    for epoch, rows in enumerate(epochs):
        _merge(spark, src, rows, epoch)
        sync_incremental(spark, src, want, job_id="k")
        before = dst.refresh().snapshot()["snapshot_id"]
        cursor = last_synced_snapshot(dst, "k")
        with pytest.raises(_Crash):
            sync_incremental(spark, src, dst, job_id="k", fault_injector=_kill_at(stage))
        dst = SnapshotTable.load(dst.root)
        if stage == "pre_commit":
            assert dst.snapshot()["snapshot_id"] == before
            assert last_synced_snapshot(dst, "k") == cursor
        r = sync_incremental(spark, src, dst, job_id="k")
        assert r["skipped"] == (stage == "post_commit")
        want.refresh()
        dst.refresh()
        assert _state(spark, dst) == _state(spark, want)
        assert last_synced_snapshot(dst, "k") == last_synced_snapshot(want, "k")
        assert last_synced_snapshot(dst, "k") == src.snapshot()["snapshot_id"]


def test_sync_incremental_transform(spark, tmp_path):
    from etlframwork_spark.changes import sync_incremental

    src = _mk(tmp_path, "src")
    dst = _mk(tmp_path, "dst")
    _merge(spark, src, [(f"k{i}", i, i, "insert") for i in range(10)], 0)
    doubled = lambda df: df.withColumn("v", F.col("v") * 2)  # noqa: E731
    sync_incremental(spark, src, dst, job_id="t", transform=doubled)
    _merge(spark, src, [("k1", 100, 50, "update")], 1)
    sync_incremental(spark, src, dst, job_id="t", transform=doubled)
    dst.refresh()
    got = {r["k"]: r["v"] for r in dst.read(spark).collect()}
    assert got["k1"] == 200 and got["k2"] == 4


def test_sync_incremental_guards(spark, tmp_path):
    """Expired cursor and non-empty bootstrap fail loudly, not silently."""
    import pytest as _pytest

    from etlframwork_spark.changes import sync_incremental

    src = _mk(tmp_path, "src")
    dst = _mk(tmp_path, "dst")
    _merge(spark, src, [("a", 1, 1, "insert")], 0)
    sync_incremental(spark, src, dst, job_id="g")
    # advance src far enough that the cursor snapshot expires
    for e in range(1, 8):
        _merge(spark, src, [(f"b{e}", e, 10 + e, "insert")], e)
    src.expire_snapshots(keep_last=2)
    src.refresh()
    with _pytest.raises(ValueError, match="no longer retained"):
        sync_incremental(spark, src, dst, job_id="g")
    # non-empty dst with no cursor: bootstrap refused
    dst2 = _mk(tmp_path, "dst2")
    _merge(spark, dst2, [("x", 1, 1, "insert")], 0)
    with _pytest.raises(ValueError, match="EMPTY downstream"):
        sync_incremental(spark, src, dst2, job_id="fresh")


def _state(spark, t):
    return {
        tuple(r) for r in t.read(spark).select(*[c for c in t.schema().fieldNames()
                                                 if c != "_deleted"]).collect()
    }


def test_sync_propagates_delete_where_ties(spark, tmp_path):
    """delete_where stamps tombstones at the VICTIM's exact (lsn, commit);
    read_changes then feeds those deletes downstream where dst holds the
    identical live row at the identical order — a tie max_by alone does
    not resolve deterministically. The delete-beats-live tie-break
    (table.LWW_PRI) must make every delete propagate (round-6 advice #1)."""
    from etlframwork_spark.changes import sync_incremental
    from etlframwork_spark.merge import delete_where

    src = _mk(tmp_path, "src")
    dst = _mk(tmp_path, "dst")
    _merge(spark, src, [(f"k{i}", i, i, "insert") for i in range(20)], 0)
    sync_incremental(spark, src, dst, job_id="tie")
    delete_where(spark, src, "v >= 15")
    r = sync_incremental(spark, src, dst, job_id="tie")
    assert r["mode"] == "incremental" and not r["skipped"]
    dst.refresh()
    got = _state(spark, dst)
    assert got == _state(spark, src)
    assert {k for (k, _v, _l) in got} == {f"k{i}" for i in range(15)}


def test_sync_propagates_delete_after_purge(spark, tmp_path):
    """A key tombstoned then physically removed by purge_tombstones between
    two syncs surfaces in the feed with NO new-side row; its order must
    coalesce from the old side (round-6 advice #2 — a NULL-order delete
    was silently dropped by the downstream merge's validation gate)."""
    from etlframwork_spark.changes import read_changes, sync_incremental
    from etlframwork_spark.maintenance import purge_tombstones

    src = _mk(tmp_path, "src")
    dst = _mk(tmp_path, "dst")
    _merge(spark, src, [(f"k{i}", i, i, "insert") for i in range(10)], 0)
    s_boot = src.snapshot()["snapshot_id"]
    sync_incremental(spark, src, dst, job_id="purge")
    _merge(spark, src, [("k3", None, 100, "delete"), ("k7", None, 101, "delete")], 1)
    purge_tombstones(spark, src, watermark_lsn=1000)
    src.refresh()
    # the purged deletes carry a NON-NULL order coalesced from the old side
    feed = read_changes(spark, src, s_boot, src.snapshot()["snapshot_id"])
    dels = {r["k"]: r["lsn"] for r in feed.filter("_change_type = 'delete'").collect()}
    assert dels == {"k3": 3, "k7": 7}
    r = sync_incremental(spark, src, dst, job_id="purge")
    assert not r["skipped"]
    dst.refresh()
    got = _state(spark, dst)
    assert got == _state(spark, src)
    assert not any(k in ("k3", "k7") for (k, _v, _l) in got)


def test_sync_bootstrap_refuses_mor_only_dst(spark, tmp_path):
    """A dst populated exclusively via MOR delta commits has empty base
    file lists but is NOT empty — bootstrap must refuse it too (round-6
    advice #3)."""
    import pytest as _pytest

    from etlframwork_spark.changes import sync_incremental

    src = _mk(tmp_path, "src")
    dst = _mk(tmp_path, "dst")
    _merge(spark, src, [("a", 1, 1, "insert")], 0)
    merge_batch(
        spark, dst, spark.createDataFrame([("x", 1, 1, "insert")], _SYNC_EV),
        job_id="seed", epoch_id=0, write_mode="mor",
    )
    dst.refresh()
    assert not dst.snapshot()["files"]  # base empty; only deltas
    with _pytest.raises(ValueError, match="EMPTY downstream"):
        sync_incremental(spark, src, dst, job_id="morboot")
