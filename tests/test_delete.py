"""Predicate DELETE (round 5): ``delete_where`` = DELETE FROM t WHERE p.

CDC-correct: matching live rows become tombstones (payload + sha nulled,
key + full ordering key kept) via a bucket-local copy-on-write rewrite, so

- stale re-delivery (<= the row's (lsn, commit)) cannot resurrect the key,
- a genuinely newer event re-inserts it,
- the operation is idempotent (tombstones are not live, so a re-run
  matches nothing),
- only buckets holding matching rows are rewritten; the rest carry
  forward by file reference,
- ``purge_tombstones`` later reclaims the tombstone rows.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etlframwork_spark.merge import delete_where, merge_batch
from etlframwork_spark.table import SnapshotTable

SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("v", LongType()),
        StructField("note", StringType()),
        StructField("lsn", LongType()),
    ]
)
EV = StructType(SCHEMA.fields + [StructField("op", StringType())])


def _mk(tmp_path, nb=8):
    return SnapshotTable.create(
        str(tmp_path / "t"), SCHEMA, key_cols=["k"], order_col="lsn", num_buckets=nb
    )


def _merge(spark, t, rows, epoch, **kw):
    return merge_batch(
        spark, t, spark.createDataFrame(rows, EV), job_id="del", epoch_id=epoch, **kw
    )


def test_delete_where_basic_and_idempotent(spark, tmp_path):
    t = _mk(tmp_path)
    _merge(spark, t, [(f"k{i}", i, f"n{i}", i, "insert") for i in range(50)], 0)
    r = delete_where(spark, t, "v % 2 = 0")
    assert r["rows_deleted"] == 25
    t.refresh()
    got = {row["k"]: row["v"] for row in t.read(spark).collect()}
    assert got == {f"k{i}": i for i in range(50) if i % 2 == 1}
    # idempotent: tombstones are not live, a re-run matches nothing
    r2 = delete_where(spark, t, "v % 2 = 0")
    assert r2["rows_deleted"] == 0 and r2["buckets_rewritten"] == 0


def test_delete_where_payload_scrubbed_order_kept(spark, tmp_path):
    """Tombstones null every payload column (GDPR scrub of the current
    snapshot) but keep the FULL ordering key so LWW still fences."""
    t = _mk(tmp_path)
    _merge(spark, t, [(f"k{i}", i, "secret", i, "insert") for i in range(10)], 0)
    delete_where(spark, t, F.col("k") == "k3")
    t.refresh()
    dead = (
        t.read(spark, include_tombstones=True)
        .filter(F.col("_deleted") & (F.col("k") == "k3"))
        .collect()
    )
    assert len(dead) == 1
    row = dead[0]
    assert row["v"] is None and row["note"] is None  # payload scrubbed
    assert row["lsn"] == 3  # ordering key retained


def test_delete_where_blocks_stale_redelivery_allows_newer(spark, tmp_path):
    t = _mk(tmp_path)
    rows = [(f"k{i}", i, f"n{i}", i, "insert") for i in range(10)]
    _merge(spark, t, rows, 0)
    delete_where(spark, t, "k = 'k5'")
    # stale re-delivery of the ORIGINAL event (same lsn, new epoch id so
    # the fence does not skip it): the tombstone must win
    _merge(spark, t, [("k5", 5, "n5", 5, "insert")], 1)
    t.refresh()
    assert t.read(spark).filter("k = 'k5'").count() == 0
    # a genuinely newer event re-inserts
    _merge(spark, t, [("k5", 500, "fresh", 100, "insert")], 2)
    t.refresh()
    got = t.read(spark).filter("k = 'k5'").collect()
    assert len(got) == 1 and got[0]["v"] == 500


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_delete_where_over_mor_deltas(spark, tmp_path, write_mode):
    """The rewrite reads the RESOLVED state: a key whose newest version
    lives in a delta file is judged (and tombstoned) on that version."""
    t = _mk(tmp_path)
    _merge(spark, t, [(f"k{i}", i, None, i, "insert") for i in range(10)], 0,
           write_mode=write_mode)
    # second epoch moves k2's v from 2 -> 1000 (predicate no longer matches)
    # and k7's v from 7 -> 2 (predicate now matches)
    _merge(spark, t, [("k2", 1000, None, 100, "update"),
                      ("k7", 2, None, 101, "update")], 1, write_mode=write_mode)
    delete_where(spark, t, "v <= 2")
    t.refresh()
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert "k7" not in got and "k0" not in got and "k1" not in got
    assert got["k2"] == 1000  # newest version escaped the predicate


def test_delete_where_rewrites_only_affected_buckets(spark, tmp_path):
    t = _mk(tmp_path, nb=8)
    _merge(spark, t, [(f"k{i}", i, None, i, "insert") for i in range(64)], 0)
    t.refresh()
    before = {b: list(fs) for b, fs in t.snapshot()["files"].items()}
    r = delete_where(spark, t, "k = 'k13'")  # single key -> single bucket
    assert r["rows_deleted"] == 1 and r["buckets_rewritten"] == 1
    t.refresh()
    after = t.snapshot()["files"]
    changed = [b for b in after if after[b] != before.get(b)]
    assert len(changed) == 1  # every other bucket carried forward by reference
    assert t.read(spark).count() == 63


def test_delete_then_purge_reclaims_tombstones(spark, tmp_path):
    from etlframwork_spark.maintenance import purge_tombstones

    t = _mk(tmp_path)
    _merge(spark, t, [(f"k{i}", i, None, i, "insert") for i in range(20)], 0)
    delete_where(spark, t, "v >= 15")
    t.refresh()
    assert (
        t.read(spark, include_tombstones=True).filter("_deleted").count() == 5
    )
    purge_tombstones(spark, t, watermark_lsn=10**6)
    t.refresh()
    assert t.read(spark, include_tombstones=True).filter("_deleted").count() == 0
    assert t.read(spark).count() == 15


def test_delete_where_empty_match_is_noop_commit(spark, tmp_path):
    t = _mk(tmp_path)
    _merge(spark, t, [("a", 1, None, 1, "insert")], 0)
    t.refresh()
    sid = t.snapshot()["snapshot_id"]
    r = delete_where(spark, t, "v > 100")
    assert r == {"buckets_rewritten": 0, "rows_deleted": 0, "snapshot_id": sid}
    t.refresh()
    assert t.snapshot()["snapshot_id"] == sid  # no new snapshot


# ----------------------------------------------------------------- UPDATE
def test_update_where_basic(spark, tmp_path):
    from etlframwork_spark.merge import update_where

    t = _mk(tmp_path)
    _merge(spark, t, [(f"k{i}", i, f"n{i}", i, "insert") for i in range(20)], 0)
    r = update_where(
        spark, t, {"note": "flagged", "v": F.col("v") * 10}, "v >= 15",
        new_order=1000, epoch_id=1,
    )
    assert not r.get("skipped")
    t.refresh()
    got = {row["k"]: (row["v"], row["note"], row["lsn"]) for row in t.read(spark).collect()}
    assert len(got) == 20  # UPDATE never changes cardinality
    for i in range(15):
        assert got[f"k{i}"] == (i, f"n{i}", i)  # untouched
    for i in range(15, 20):
        assert got[f"k{i}"] == (i * 10, "flagged", 1000)


def test_update_where_order_semantics(spark, tmp_path):
    """Events at-or-below new_order lose to the correction; newer win."""
    from etlframwork_spark.merge import update_where

    t = _mk(tmp_path)
    _merge(spark, t, [("a", 1, "x", 10, "insert")], 0)
    update_where(spark, t, {"v": 99}, "k = 'a'", new_order=500, epoch_id=1)
    # stale event below the correction order: must not revert
    _merge(spark, t, [("a", 2, "stale", 400, "update")], 2)
    t.refresh()
    row = t.read(spark).filter("k = 'a'").collect()[0]
    assert (row["v"], row["lsn"]) == (99, 500)
    # genuinely newer event wins
    _merge(spark, t, [("a", 3, "new", 600, "update")], 3)
    t.refresh()
    row = t.read(spark).filter("k = 'a'").collect()[0]
    assert (row["v"], row["lsn"]) == (3, 600)


def test_update_where_fenced_idempotent(spark, tmp_path):
    """update_where IS a merge: the epoch fence makes re-runs no-ops."""
    from etlframwork_spark.merge import update_where

    t = _mk(tmp_path)
    _merge(spark, t, [(f"k{i}", i, None, i, "insert") for i in range(5)], 0)
    update_where(spark, t, {"v": 0}, "v > 2", new_order=100, job_id="fix", epoch_id=7)
    r2 = update_where(spark, t, {"v": 0}, "v > 2", new_order=100, job_id="fix", epoch_id=7)
    assert r2.get("skipped")


def test_unfenced_dml_applies_every_call(spark, tmp_path):
    """Without ``epoch_id`` update_where and merge_into are unfenced: a
    second call applies like the first instead of being taken for a
    re-delivery, and an empty unfenced batch publishes no snapshot."""
    from etlframwork_spark.merge import merge_into, update_where

    t = _mk(tmp_path)
    _merge(spark, t, [(f"k{i}", i, None, i, "insert") for i in range(10)], 0)
    update_where(spark, t, {"note": "low"}, "v < 3", new_order=100)
    r = update_where(spark, t, {"note": "high"}, "v >= 7", new_order=200)
    assert not r.get("skipped") and r["events"] == 3
    t.refresh()
    notes = {row["k"]: row["note"] for row in t.read(spark).collect()}
    assert notes == {
        f"k{i}": "low" if i < 3 else "high" if i >= 7 else None for i in range(10)
    }

    src = StructType([StructField("k", StringType()), StructField("v", LongType())])
    merge_into(spark, t, spark.createDataFrame([("k4", 40)], src), new_order=300)
    r = merge_into(spark, t, spark.createDataFrame([("k5", 50)], src), new_order=300)
    assert not r.get("skipped") and r["events"] == 1
    t.refresh()
    got = {row["k"]: row["v"] for row in t.read(spark).collect()}
    assert (got["k4"], got["k5"]) == (40, 50)

    sid = t.snapshot()["snapshot_id"]
    r = update_where(spark, t, {"note": "none"}, "v > 1000", new_order=400)
    assert r["events"] == 0 and r["snapshot_id"] is None
    assert t.refresh().snapshot()["snapshot_id"] == sid


def test_update_where_through_a_stale_handle_keeps_a_delete(spark, tmp_path):
    """update_where reads the rows it corrects on the caller's handle. A
    handle loaded before another writer deleted a key must not bring the
    key back as a correction."""
    from etlframwork_spark.merge import update_where

    t = _mk(tmp_path)
    _merge(spark, t, [("a", 1, None, 1, "insert"), ("b", 2, None, 2, "insert")], 0)
    stale = SnapshotTable.load(t.root)
    _merge(spark, t, [("a", None, None, 3, "delete")], 1)
    update_where(spark, stale, {"v": 0}, "v >= 1", new_order=100)
    got = {r["k"]: (r["v"], r["lsn"]) for r in t.refresh().read(spark).collect()}
    assert got == {"b": (0, 100)}


def test_update_where_rejects_protected_and_unknown(spark, tmp_path):
    from etlframwork_spark.merge import update_where

    t = _mk(tmp_path)
    with pytest.raises(ValueError, match="key/order/engine"):
        update_where(spark, t, {"k": "oops"}, "v > 0", new_order=1)
    with pytest.raises(ValueError, match="key/order/engine"):
        update_where(spark, t, {"lsn": 0}, "v > 0", new_order=1)
    with pytest.raises(KeyError, match="nope"):
        update_where(spark, t, {"nope": 1}, "v > 0", new_order=1)


def test_update_where_recomputes_content_sha(spark, tmp_path):
    """Updating content goes through merge's upsert path, so the derived
    content_sha256 invariant holds on the corrected rows too."""
    import hashlib

    from etlframwork_spark.events import TARGET_BASE_SCHEMA
    from etlframwork_spark.merge import update_where

    root = str(tmp_path / "sha_t")
    t = SnapshotTable.create(
        root, TARGET_BASE_SCHEMA, key_cols=["repo", "path"], order_col="lsn",
        num_buckets=4,
    )
    ev = StructType(
        [
            StructField("op", StringType()),
            StructField("lsn", LongType()),
            StructField("repo", StringType()),
            StructField("path", StringType()),
            StructField("commit", StringType()),
            StructField("content", StringType()),
        ]
    )
    rows = [("insert", i, "r0", f"f{i}.py", f"c{i}", f"body {i}") for i in range(6)]
    merge_batch(spark, t, spark.createDataFrame(rows, ev), job_id="u", epoch_id=0)
    update_where(
        spark, t, {"content": "REDACTED"}, "path = 'f2.py'",
        new_order=1000, job_id="u", epoch_id=1,
    )
    t.refresh()
    row = t.read(spark).filter("path = 'f2.py'").collect()[0]
    assert row["content"] == "REDACTED"
    assert row["content_sha256"] == hashlib.sha256(b"REDACTED").hexdigest()
    other = t.read(spark).filter("path = 'f1.py'").collect()[0]
    assert other["content"] == "body 1"


def test_delete_where_filters_conjoined(spark, tmp_path):
    """filters are part of the delete semantics (pred AND filters), not a
    pruning hint: a row matching pred but not filters must survive in
    EVERY bucket, and rows_deleted must count exactly the conjunction
    (round-6 advice #4)."""
    t = _mk(tmp_path)
    _merge(spark, t, [(f"k{i}", i * 10, f"n{i}", i, "insert") for i in range(10)], 0)
    out = delete_where(spark, t, "v >= 50", filters=[("k", "=", "k7")])
    assert out["rows_deleted"] == 1
    t.refresh()
    alive = {r["k"] for r in t.read(spark).collect()}
    assert alive == {f"k{i}" for i in range(10)} - {"k7"}


def test_mor_read_tie_tombstone_beats_live(spark, tmp_path):
    """Read-time MOR resolve at an exact order tie: a delta tombstone at
    the SAME lsn as the stored live base row must win deterministically."""
    t = _mk(tmp_path)
    _merge(spark, t, [("a", 1, "x", 5, "insert"), ("b", 2, "y", 6, "insert")], 0)
    merge_batch(
        spark, t, spark.createDataFrame([("a", None, None, 5, "delete")], EV),
        job_id="tie", epoch_id=1, write_mode="mor",
    )
    t.refresh()
    assert {r["k"] for r in t.read(spark).collect()} == {"b"}


def test_tie_semantics_identical_across_strategies(spark, tmp_path):
    """Delete-beats-live at exact order ties, uniformly: the same event
    history — containing in-batch ties, cross-epoch ties against stored
    rows, and a stale re-delivery against a tombstone — must produce the
    IDENTICAL final state through both write modes (cow resolves against
    stored rows, mor defers that to the read). The table has no commit
    column, so order = lsn alone and the ties are exact."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("v", LongType()),
            StructField("lsn", LongType()),
        ]
    )
    ev = StructType(schema.fields + [StructField("op", StringType())])

    epoch0 = [(f"k{i}", i, 10 + i, "insert") for i in range(8)]
    epoch1 = (
        # exact-tie deletes against stored rows k0..k3
        [(f"k{i}", None, 10 + i, "delete") for i in range(4)]
        # in-batch tie: insert and delete of k9 at the same lsn
        + [("k9", 99, 5, "insert"), ("k9", None, 5, "delete")]
    )
    epoch2 = [
        ("k0", 1000, 10, "insert"),   # stale re-delivery: ties the tombstone, must NOT resurrect
        ("k1", 111, 200, "insert"),   # genuinely newer: re-inserts
    ]

    def run(write_mode):
        from etlframwork_spark.table import SnapshotTable as ST

        t = ST.create(
            str(tmp_path / write_mode), schema, key_cols=["k"], order_col="lsn", num_buckets=4
        )
        for e, batch in enumerate((epoch0, epoch1, epoch2)):
            merge_batch(
                spark, t, spark.createDataFrame(batch, ev),
                job_id=write_mode, epoch_id=e, write_mode=write_mode,
            )
        t.refresh()
        return {(r["k"], r["v"], r["lsn"]) for r in t.read(spark).collect()}

    expected = (
        {("k1", 111, 200)}
        | {(f"k{i}", i, 10 + i) for i in range(4, 8)}
    )
    for name in ("cow", "mor"):
        got = run(name)
        assert got == expected, f"{name}: {sorted(got)} != {sorted(expected)}"
