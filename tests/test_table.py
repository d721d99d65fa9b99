"""Unit tests for the Iceberg-semantics SnapshotTable (SURVEY.md §2.1 S4/S6)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql.types import LongType, StringType, StructField, StructType

from pyspark.sql.types import BooleanType

from etlframwork_spark.events import TARGET_BASE_SCHEMA
from etlframwork_spark.table import TOMBSTONE_COL, SnapshotTable

TARGET_WITH_TOMBSTONE = StructType(
    TARGET_BASE_SCHEMA.fields + [StructField(TOMBSTONE_COL, BooleanType(), True)]
)


def _write_parquet(path, rows, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(cols)), path)


ARROW_BASE = [
    ("repo", pa.string()),
    ("path", pa.string()),
    ("commit", pa.string()),
    ("content", pa.string()),
    ("lsn", pa.int64()),
    ("content_sha256", pa.string()),
]


def _mk(tmp_path):
    return SnapshotTable.create(
        str(tmp_path / "t"), TARGET_BASE_SCHEMA, key_cols=["repo", "path"], order_col="lsn", num_buckets=4
    )


def test_create_load_roundtrip(tmp_path, spark):
    t = _mk(tmp_path)
    t2 = SnapshotTable.load(t.root)
    assert t2.schema() == TARGET_WITH_TOMBSTONE  # tombstone col auto-appended
    assert t2.key_cols == ["repo", "path"]
    assert t2.num_buckets == 4
    assert t2.read(spark).count() == 0


def test_commit_and_time_travel(tmp_path, spark):
    t = _mk(tmp_path)
    r1 = {"repo": "a/b", "path": "x.py", "commit": "c1", "content": "v1", "lsn": 1, "content_sha256": "s1"}
    f1 = os.path.join(t.root, "data", "s1", "f1.parquet")
    _write_parquet(f1, [r1], ARROW_BASE)
    s1 = t.commit({0: [f1]}, [0], summary={"operation": "test"})
    r2 = dict(r1, content="v2", lsn=2, commit="c2")
    f2 = os.path.join(t.root, "data", "s2", "f2.parquet")
    _write_parquet(f2, [r2], ARROW_BASE)
    s2 = t.commit({0: [f2]}, [0])
    assert s2["parent_id"] == s1["snapshot_id"]
    # current reads v2, time travel reads v1
    assert t.read(spark).select("content").first()[0] == "v2"
    assert t.read(spark, snapshot_id=s1["snapshot_id"]).select("content").first()[0] == "v1"
    # reload from disk sees the same state (atomic rename commit)
    assert SnapshotTable.load(t.root).snapshot()["snapshot_id"] == s2["snapshot_id"]


def test_fence_idempotence(tmp_path):
    t = _mk(tmp_path)
    f1 = os.path.join(t.root, "data", "s1", "f1.parquet")
    _write_parquet(f1, [{"repo": "a", "path": "p", "commit": "c", "content": "x", "lsn": 1, "content_sha256": "h"}], ARROW_BASE)
    s = t.commit({0: [f1]}, [0], fence="job:7")
    assert s is not None
    # re-delivered epoch commits exactly once
    assert t.commit({0: [f1]}, [0], fence="job:7") is None
    assert t.is_fence_committed("job:7")
    assert SnapshotTable.load(t.root).is_fence_committed("job:7")


def test_additive_schema_evolution(tmp_path, spark):
    t = _mk(tmp_path)
    evolved = StructType(t.schema().fields + [StructField("lang", StringType(), True)])
    f1 = os.path.join(t.root, "data", "s1", "f1.parquet")
    # file written under the OLD schema (no lang)
    _write_parquet(f1, [{"repo": "a", "path": "p", "commit": "c", "content": "x", "lsn": 1, "content_sha256": "h"}], ARROW_BASE)
    t.commit({0: [f1]}, [0], new_schema=evolved)
    assert t.meta["current_schema_id"] == 1
    row = t.read(spark).first()
    assert row["lang"] is None  # old file back-filled with null (BJ:6)
    # non-additive changes are rejected
    with pytest.raises(ValueError):
        t.check_additive(StructType([StructField("repo", LongType(), False)]))
    dropped = StructType([f for f in TARGET_BASE_SCHEMA.fields if f.name != "content"])
    with pytest.raises(ValueError):
        t.check_additive(dropped)


def test_bucket_pruning_and_vacuum(tmp_path, spark):
    t = _mk(tmp_path)
    rows0 = [{"repo": "a", "path": "p", "commit": "c", "content": "x", "lsn": 1, "content_sha256": "h"}]
    rows1 = [{"repo": "b", "path": "q", "commit": "d", "content": "y", "lsn": 2, "content_sha256": "i"}]
    f0 = os.path.join(t.root, "data", "s1", "b0.parquet")
    f1 = os.path.join(t.root, "data", "s1", "b1.parquet")
    _write_parquet(f0, rows0, ARROW_BASE)
    _write_parquet(f1, rows1, ARROW_BASE)
    t.commit({0: [f0], 1: [f1]}, [0, 1])
    assert len(t.files_for(buckets=[0])) == 1
    assert len(t.files_for()) == 2
    # orphan file (crashed epoch) is invisible and vacuumable
    orphan = os.path.join(t.root, "data", "orphan", "o.parquet")
    _write_parquet(orphan, rows0, ARROW_BASE)
    assert t.read(spark).count() == 2
    t.expire_snapshots(keep_last=1)
    removed = t.vacuum()
    assert removed >= 1
    assert t.read(spark).count() == 2


# --------------------------------------------------------------- round 2 tests
def test_metadata_publish_is_compare_and_swap(tmp_path):
    """Two writers loaded at the same version must not silently overwrite
    each other: the second publish CAS-fails and retries on fresh state,
    so BOTH commits survive."""
    t1 = _mk(tmp_path)
    t2 = SnapshotTable.load(t1.root)
    f1 = os.path.join(t1.root, "data", "w1", "f1.parquet")
    f2 = os.path.join(t1.root, "data", "w2", "f2.parquet")
    r = {"repo": "a", "path": "x", "commit": "c", "content": "v", "lsn": 1, "content_sha256": "s"}
    _write_parquet(f1, [r], ARROW_BASE)
    _write_parquet(f2, [dict(r, path="y")], ARROW_BASE)
    s1 = t1.commit({0: [f1]}, [0], fence="w1:0", summary={"operation": "t1"})
    # t2 still believes the old version; its commit must retry, not clobber
    s2 = t2.commit({1: [f2]}, [1], fence="w2:0", summary={"operation": "t2"})
    assert s1 is not None and s2 is not None
    final = SnapshotTable.load(t1.root)
    assert final.is_fence_committed("w1:0") and final.is_fence_committed("w2:0")
    snap = final.snapshot()
    assert "0" in snap["files"] and "1" in snap["files"]


def test_raw_version_conflict_raises(tmp_path):
    """The low-level publish itself is exclusive (os.link semantics)."""
    from etlframwork_spark.table import VersionConflict

    t1 = _mk(tmp_path)
    t2 = SnapshotTable.load(t1.root)
    t1.meta["snapshots"][-1]["summary"]["who"] = "t1"
    t1._write_version(t1.version + 1)
    t2.meta["snapshots"][-1]["summary"]["who"] = "t2"
    with pytest.raises(VersionConflict):
        t2._write_version(t2.version + 1)
    assert SnapshotTable.load(t1.root).snapshot()["summary"]["who"] == "t1"


def test_metadata_stays_bounded_over_many_epochs(tmp_path, spark):
    """Many epochs + maintenance: metadata JSON size is O(buckets +
    retained snapshots + retained fences), NOT O(epochs); state unchanged."""
    import json

    from etlframwork_spark.merge import merge_batch
    from etlframwork_spark.events import CDC_BASE_SCHEMA

    t = _mk(tmp_path)
    for epoch in range(50):
        rows = [("insert", epoch * 10 + i, f"r{i % 7}", f"f{i}.py", f"c{epoch}_{i}", "x") for i in range(8)]
        merge_batch(spark, t, spark.createDataFrame(rows, schema=CDC_BASE_SCHEMA),
                    job_id="bound", epoch_id=epoch)
        if epoch % 20 == 19:
            t.expire_snapshots(keep_last=5, keep_fences_per_job=10)
    t.expire_snapshots(keep_last=5, keep_fences_per_job=10)
    t.refresh()
    assert len(t.meta["snapshots"]) <= 6
    fences = t.meta["committed_fences"]
    assert len(fences) <= 10
    # the trailing fences survive (the only ones re-deliverable)
    assert t.is_fence_committed("bound:49") and t.is_fence_committed("bound:40")
    meta_bytes = len(json.dumps(t.meta))
    assert meta_bytes < 20_000, f"metadata grew to {meta_bytes} bytes"
    # state unchanged: 8 live keys ((r{i%7}, f{i}.py) for i in 0..7)
    assert t.read(spark).count() == 8


def test_mor_read_resolves_only_delta_buckets(tmp_path, spark):
    """Bucket-local merge-on-read: deltas on 1 of 4 buckets -> only that
    bucket's rows pass through the LWW group-by; clean buckets union in
    flat (exactly one hash-partitioning Exchange in the plan)."""
    from etlframwork_spark.merge import merge_batch
    from etlframwork_spark.events import CDC_BASE_SCHEMA

    t = _mk(tmp_path)
    rows = [("insert", i + 1, f"r{i}", f"f{i}.py", f"c{i}", f"v{i}") for i in range(40)]
    merge_batch(spark, t, spark.createDataFrame(rows, schema=CDC_BASE_SCHEMA),
                job_id="m", epoch_id=0)  # cow base across all 4 buckets
    upd = [("update", 100, "r0", "f0.py", "cX", "v0-new")]
    merge_batch(spark, t, spark.createDataFrame(upd, schema=CDC_BASE_SCHEMA),
                job_id="m", epoch_id=1, write_mode="mor")
    t.refresh()
    dirty_expected = set(t.delta_file_counts())
    assert len(dirty_expected) == 1
    layout = t.bucket_files()
    dirty = {b for b, (_, delta) in layout.items() if delta}
    clean = set(layout) - dirty
    assert dirty == dirty_expected
    assert clean == set(range(4)) - dirty_expected
    clean_files, dirty_files = t.scan_files()
    assert (clean_files, dirty_files) == (t.files_for(clean), t.files_for(dirty))
    df = t.read(spark)
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    plan = buf.getvalue()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Union" in plan
    # correctness: the update won, everything else untouched
    got = {(r["repo"], r["path"]): r["content"] for r in df.collect()}
    assert got[("r0", "f0.py")] == "v0-new"
    assert len(got) == 40


def test_replace_commit_conflicts_with_concurrent_delta(tmp_path, spark):
    """Iceberg-style validation: a replace (compaction/cow rewrite)
    computed from snapshot S must FAIL if the bucket gained a delta after
    S — blindly publishing would drop the delta's rows. The recompute
    path (maintenance.compact_buckets) then folds the new delta too."""
    from etlframwork_spark.events import CDC_BASE_SCHEMA
    from etlframwork_spark.maintenance import compact_buckets
    from etlframwork_spark.merge import merge_batch
    from etlframwork_spark.table import CommitConflict

    t1 = _mk(tmp_path)
    ins = [("insert", 1, "r", "p", "c1", "v1")]
    merge_batch(spark, t1, spark.createDataFrame(ins, schema=CDC_BASE_SCHEMA),
                job_id="a", epoch_id=0, write_mode="mor")
    t1.refresh()
    s_read = t1.snapshot()["snapshot_id"]
    bucket = next(iter(t1.delta_file_counts()))
    # concurrent writer appends another delta to the SAME bucket
    t2 = SnapshotTable.load(t1.root)
    upd = [("update", 2, "r", "p", "c2", "v2")]
    merge_batch(spark, t2, spark.createDataFrame(upd, schema=CDC_BASE_SCHEMA),
                job_id="b", epoch_id=0, write_mode="mor")
    # t1's stale rewrite (it only saw lsn 1) must not clear lsn 2's delta
    f = os.path.join(t1.root, "data", "stale", "f.parquet")
    _write_parquet(
        f,
        [{"repo": "r", "path": "p", "commit": "c1", "content": "v1", "lsn": 1, "content_sha256": "s"}],
        ARROW_BASE,
    )
    with pytest.raises(CommitConflict):
        t1.commit({bucket: [f]}, [bucket], mode="replace", validate_from_snapshot=s_read)
    # the supported path recomputes from fresh state: nothing lost
    compact_buckets(spark, t1, min_deltas=1)
    rows = {r["content"] for r in t1.read(spark).collect()}
    assert rows == {"v2"}


def test_tags_pin_snapshots_and_read_by_name(tmp_path, spark):
    """Iceberg tag semantics: named snapshots, name-based time travel,
    exemption from the retention window, GC after drop."""
    t = _mk(tmp_path)
    f1 = os.path.join(t.root, "data", "s1", "f1.parquet")
    _write_parquet(f1, [{"repo": "a/b", "path": "x.py", "commit": "c1",
                         "content": "v1", "lsn": 1, "content_sha256": "s1"}], ARROW_BASE)
    s1 = t.commit({0: [f1]}, [0])
    tagged = t.set_tag("audit", s1["snapshot_id"])
    assert tagged == s1["snapshot_id"] and t.tags() == {"audit": s1["snapshot_id"]}
    # pile on more commits than the retention window
    for i in range(2, 8):
        f = os.path.join(t.root, "data", f"s{i}", f"f{i}.parquet")
        _write_parquet(f, [{"repo": "a/b", "path": "x.py", "commit": f"c{i}",
                            "content": f"v{i}", "lsn": i, "content_sha256": f"s{i}"}], ARROW_BASE)
        t.commit({0: [f]}, [0])
    t.expire_snapshots(keep_last=2)
    # the tagged snapshot survived expiry; name-based read sees v1
    assert t.read(spark, tag="audit").select("content").first()[0] == "v1"
    assert t.read(spark, tag="audit").collect() == t.read(
        spark, snapshot_id=s1["snapshot_id"]
    ).collect()
    # tag survives reload (it is table metadata, not session state)
    assert SnapshotTable.load(t.root).tags() == {"audit": s1["snapshot_id"]}
    # drop -> snapshot becomes expirable and unknown tags raise
    t.drop_tag("audit")
    with pytest.raises(KeyError):
        t.read(spark, tag="audit")
    t.expire_snapshots(keep_last=2)
    ids = {s["snapshot_id"] for s in t.meta["snapshots"]}
    assert s1["snapshot_id"] not in ids


def test_sql_view_over_read_is_bound_to_its_snapshot(tmp_path, spark):
    """SQL access is a temp view over ``read``: the view keeps the
    snapshot it was built at, a re-registered view sees later commits,
    and a tag-pinned view is SQL time travel. Appends land through
    ``merge_batch(write_mode="mor")`` over insert rows."""
    import hashlib

    from etlframwork_spark.events import CDC_BASE_SCHEMA
    from etlframwork_spark.merge import merge_batch

    t = _mk(tmp_path)

    def append(epoch, rows):
        df = spark.createDataFrame(
            [("insert", lsn, "a/b", path, f"c{lsn}", body) for lsn, path, body in rows],
            CDC_BASE_SCHEMA,
        )
        merge_batch(spark, t, df, job_id="sql", epoch_id=epoch, write_mode="mor")

    def count(view):
        return spark.sql(f"SELECT count(*) FROM {view}").first()[0]

    append(0, [(1, "x.py", "v1"), (2, "y.py", "v2")])
    t.set_tag("first")
    t.read(spark).createOrReplaceTempView("files_now")
    append(1, [(3, "x.py", "v3"), (4, "z.py", "v4")])
    assert count("files_now") == 2  # bound to the snapshot it was built at
    t.read(spark).createOrReplaceTempView("files_now")
    assert count("files_now") == 3
    t.read(spark, tag="first").createOrReplaceTempView("files_first")
    got = spark.sql("SELECT content FROM files_first WHERE path = 'x.py'").collect()
    assert [r[0] for r in got] == ["v1"]
    sha = spark.sql("SELECT content_sha256 FROM files_now WHERE path = 'x.py'").first()[0]
    assert sha == hashlib.sha256(b"v3").hexdigest()


def test_tag_of_missing_snapshot_and_conflicting_args(tmp_path, spark):
    t = _mk(tmp_path)
    with pytest.raises(KeyError):
        t.set_tag("nope", 999)
    f1 = os.path.join(t.root, "data", "s1", "f1.parquet")
    _write_parquet(f1, [{"repo": "a/b", "path": "x.py", "commit": "c1",
                         "content": "v1", "lsn": 1, "content_sha256": "s1"}], ARROW_BASE)
    s1 = t.commit({0: [f1]}, [0])
    t.set_tag("v1")  # defaults to current snapshot
    assert t.tags()["v1"] == s1["snapshot_id"]
    with pytest.raises(ValueError):
        t.read(spark, snapshot_id=s1["snapshot_id"], tag="v1")


def test_non_string_key_filter_skips_bucket_pin(tmp_path, spark):
    """Round-3 ADVICE: a str equality value on a NON-string key column must
    not pin a bucket (the string hashes to the wrong bucket while Spark's
    re-applied predicate still matches via implicit cast — silently empty
    results). The pin is skipped; the scan stays bucket-wide and correct."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etlframwork_spark.merge import merge_batch

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("lsn", LongType()),
            StructField("val", StringType()),
        ]
    )
    t = SnapshotTable.create(
        str(tmp_path / "intkey"), schema, key_cols=["id"], order_col="lsn", num_buckets=8
    )
    batch = spark.createDataFrame(
        [(i, i, f"v{i}") for i in range(40)], schema
    ).withColumn("op", F.lit("insert"))
    merge_batch(spark, t, batch, job_id="ik", epoch_id=0)

    # no pin: the filtered scan still plans every occupied bucket's files
    clean, dirty = t.scan_files(filters=[("id", "=", "5")])
    all_clean, _ = t.scan_files()
    assert set(clean) == set(all_clean), "non-string key must not bucket-pin"
    # and the read is correct (one row, id=5), not silently empty
    rows = t.read(spark, filters=[("id", "=", "5")]).collect()
    assert [(r["id"], r["val"]) for r in rows] == [(5, "v5")]


def test_metadata_tables(spark, tmp_path):
    """Iceberg-style metadata introspection: snapshots/files/history/
    schemas/refs as DataFrames, consistent with the manifest."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etlframwork_spark.merge import merge_batch

    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("v", LongType()),
            StructField("lsn", LongType()),
        ]
    )
    ev = StructType(schema.fields + [StructField("op", StringType())])
    t = SnapshotTable.create(
        str(tmp_path / "md"), schema, key_cols=["k"], order_col="lsn", num_buckets=4
    )
    for e in range(2):
        rows = [(f"k{i}", i + e * 100, i + e * 100, "insert") for i in range(10)]
        merge_batch(
            spark, t, spark.createDataFrame(rows, ev), job_id="md", epoch_id=e,
            write_mode="mor" if e else "cow",
        )
    t.refresh()
    t.set_tag("audit")
    t.evolve_schema(renames={"v": "value"})

    snaps = t.metadata_df(spark, "snapshots").collect()
    assert len(snaps) == len(t.meta["snapshots"])
    cur = [r for r in snaps if r["is_current"]]
    assert len(cur) == 1 and cur[0]["snapshot_id"] == t.meta["current_snapshot_id"]
    assert all(r["committed_at"] is not None for r in snaps if r["snapshot_id"] > 0)
    ops = set(r["operation"] for r in snaps)
    assert "merge_cow" in ops and "merge_mor" in ops

    files = t.metadata_df(spark, "files").collect()
    snap = t.snapshot()
    n_manifest = sum(len(f) for f in snap["files"].values()) + sum(
        len(f) for f in snap.get("delta_files", {}).values()
    )
    assert len(files) == n_manifest and n_manifest > 0
    assert {r["kind"] for r in files} <= {"base", "delta"}
    assert all(r["size_bytes"] and r["size_bytes"] > 0 for r in files)
    assert all(r["schema_id"] is not None for r in files)

    hist = t.metadata_df(spark, "history").collect()
    assert [r["snapshot_id"] for r in hist] == sorted(r["snapshot_id"] for r in hist)
    assert hist[-1]["snapshot_id"] == t.meta["current_snapshot_id"]
    assert hist[0]["parent_id"] is None or hist[0]["snapshot_id"] == 0

    schemas = t.metadata_df(spark, "schemas")
    cur_cols = {r["column"] for r in schemas.filter("is_current").collect()}
    assert "value" in cur_cols and "v" not in cur_cols
    vid = schemas.filter("column = 'v'").collect()[0]["field_id"]
    nid = schemas.filter("column = 'value' AND is_current").collect()[0]["field_id"]
    assert vid == nid  # rename kept the stable field id

    refs = {
        r["name"]: (r["type"], r["snapshot_id"])
        for r in t.metadata_df(spark, "refs").collect()
    }
    assert refs["main"] == ("branch", t.meta["current_snapshot_id"])
    assert refs["audit"][0] == "tag"

    with pytest.raises(ValueError, match="unknown metadata table"):
        t.metadata_df(spark, "nope")


def test_expire_snapshots_rejects_keep_last_zero(tmp_path):
    """keep_last=0 would silently retain EVERYTHING (snaps[-0:] is the
    whole list) — the opposite of the caller's intent; reject loudly
    (round-6 review finding #1)."""
    import pytest as _pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etlframwork_spark.table import SnapshotTable

    schema = StructType(
        [StructField("k", StringType()), StructField("lsn", LongType())]
    )
    t = SnapshotTable.create(
        str(tmp_path / "t"), schema, key_cols=["k"], order_col="lsn", num_buckets=2
    )
    with _pytest.raises(ValueError, match="keep_last must be >= 1"):
        t.expire_snapshots(keep_last=0)
