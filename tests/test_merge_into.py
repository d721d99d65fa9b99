"""Conditional MERGE INTO (round 6): the classic warehouse DML shape,
composed over merge_batch — clauses, conditions, duplicate-source
rejection, fencing, and interaction with concurrent-ingest LWW."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etlframwork_spark.merge import merge_batch, merge_into
from etlframwork_spark.table import SnapshotTable

SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("v", LongType()),
        StructField("lsn", LongType()),
    ]
)
EV = StructType(SCHEMA.fields + [StructField("op", StringType())])
SRC = StructType([StructField("k", StringType()), StructField("v", LongType())])


def _mk(tmp_path, name="t"):
    return SnapshotTable.create(
        str(tmp_path / name), SCHEMA, key_cols=["k"], order_col="lsn", num_buckets=4
    )


def _seed(spark, t, n=10):
    merge_batch(
        spark, t,
        spark.createDataFrame([(f"k{i}", i, i, "insert") for i in range(n)], EV),
        job_id="seed", epoch_id=0,
    )


def test_merge_into_upsert_and_insert(spark, tmp_path):
    t = _mk(tmp_path)
    _seed(spark, t)
    src = spark.createDataFrame([("k3", 300), ("k7", 700), ("k99", 99)], SRC)
    out = merge_into(spark, t, src, new_order=1000, epoch_id=1)
    assert out["events"] == 3 and out["deletes"] == 0
    t.refresh()
    got = {r["k"]: (r["v"], r["lsn"]) for r in t.read(spark).collect()}
    assert len(got) == 11
    assert got["k3"] == (300, 1000) and got["k7"] == (700, 1000)
    assert got["k99"] == (99, 1000)
    assert got["k1"] == (1, 1)  # untouched


def test_merge_into_matched_condition_and_delete(spark, tmp_path):
    t = _mk(tmp_path)
    _seed(spark, t)
    # only-newer upsert: source value must beat the stored one
    src = spark.createDataFrame([("k2", 1), ("k8", 800)], SRC)
    merge_into(
        spark, t, src, new_order=1000, epoch_id=1,
        matched_condition="v > t_v", when_not_matched="ignore",
    )
    t.refresh()
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got["k2"] == 2      # 1 > 2 false -> untouched
    assert got["k8"] == 800    # 800 > 8 -> updated
    # matched-delete: remove keys named by the source
    dels = spark.createDataFrame([("k0", 0), ("k9", 0), ("kx", 0)], SRC)
    out = merge_into(
        spark, t, dels, new_order=2000, epoch_id=2,
        when_matched="delete", when_not_matched="ignore",
    )
    assert out["deletes"] == 2  # kx matched nothing -> no delete emitted
    t.refresh()
    keys = {r["k"] for r in t.read(spark).collect()}
    assert "k0" not in keys and "k9" not in keys and "kx" not in keys


def test_merge_into_rejects_duplicate_source_keys(spark, tmp_path):
    t = _mk(tmp_path)
    _seed(spark, t, 3)
    src = spark.createDataFrame([("k1", 10), ("k1", 20)], SRC)
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_into(spark, t, src, new_order=100)


def test_merge_into_fenced_and_lww_vs_newer_events(spark, tmp_path):
    t = _mk(tmp_path)
    _seed(spark, t)
    src = spark.createDataFrame([("k5", 555)], SRC)
    merge_into(spark, t, src, new_order=1000, job_id="mi", epoch_id=7)
    # duplicate delivery of the same epoch: fenced no-op
    out2 = merge_into(spark, t, src.withColumn("v", F.lit(999)), new_order=1000,
                      job_id="mi", epoch_id=7)
    assert out2.get("skipped")
    # a stale CDC event below the merge order loses; a newer one wins
    merge_batch(spark, t, spark.createDataFrame([("k5", 5, 500, "update")], EV),
                job_id="up", epoch_id=1)
    t.refresh()
    assert {r["v"] for r in t.read(spark).filter("k = 'k5'").collect()} == {555}
    merge_batch(spark, t, spark.createDataFrame([("k5", 6, 2000, "update")], EV),
                job_id="up", epoch_id=2)
    t.refresh()
    assert {r["v"] for r in t.read(spark).filter("k = 'k5'").collect()} == {6}


def test_merge_into_rewrites_only_source_buckets(spark, tmp_path):
    t = _mk(tmp_path)
    _seed(spark, t, 32)
    t.refresh()
    before = {b: list(fs) for b, fs in t.snapshot()["files"].items()}
    out = merge_into(
        spark, t, spark.createDataFrame([("k13", 130)], SRC),
        new_order=1000, epoch_id=1,
    )
    assert out["affected_buckets"] == 1
    t.refresh()
    after = t.snapshot()["files"]
    assert sum(1 for b in after if after[b] != before.get(b)) == 1


def test_insert_only_merge_through_a_stale_handle_keeps_the_row(spark, tmp_path):
    """merge_into matches the source against the target on the caller's
    handle. A handle loaded before another writer inserted key ``c`` must
    still see ``c`` as matched, so an insert-only merge leaves it alone."""
    t = _mk(tmp_path)
    _seed(spark, t, 2)
    stale = SnapshotTable.load(t.root)
    merge_batch(spark, t, spark.createDataFrame([("c", 3, 3, "insert")], EV), job_id="other", epoch_id=0)
    merge_into(spark, stale, spark.createDataFrame([("c", 99)], SRC), new_order=100, when_matched="ignore")
    got = {r["k"]: (r["v"], r["lsn"]) for r in t.refresh().read(spark).collect()}
    assert got == {"k0": (0, 0), "k1": (1, 1), "c": (3, 3)}


def test_merge_into_partial_source_keeps_unassigned_target_columns(spark, tmp_path):
    """ANSI/Delta MERGE UPDATE-SET semantics (round-6 advice #1): payload
    columns the source does NOT carry keep the matched target row's
    values — they must not be null back-filled by merge_batch's _align.
    Not-matched inserts back-fill the same columns with null, the
    standard INSERT behavior."""
    schema2 = StructType(
        [
            StructField("k", StringType()),
            StructField("v", LongType()),
            StructField("note", StringType()),
            StructField("lsn", LongType()),
        ]
    )
    ev2 = StructType(schema2.fields + [StructField("op", StringType())])
    t = SnapshotTable.create(
        str(tmp_path / "t_partial"), schema2, key_cols=["k"], order_col="lsn", num_buckets=4
    )
    merge_batch(
        spark, t,
        spark.createDataFrame([(f"k{i}", i, f"n{i}", i, "insert") for i in range(5)], ev2),
        job_id="seed", epoch_id=0,
    )
    src = spark.createDataFrame([("k1", 100), ("k9", 900)], SRC)  # no 'note' column
    merge_into(spark, t, src, new_order=1000, epoch_id=1)
    t.refresh()
    got = {r["k"]: (r["v"], r["note"]) for r in t.read(spark).collect()}
    assert got["k1"] == (100, "n1")  # unassigned column retained from target
    assert got["k9"] == (900, None)  # fresh insert: standard null back-fill
    assert got["k2"] == (2, "n2")    # unmatched target rows untouched
