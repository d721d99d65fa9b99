"""Per-file column stats (Iceberg manifest min/max concept) + file skipping.

What must hold:

- commits record footer-derived per-column bounds for every new data file;
- ``read(filters=...)`` returns EXACTLY ``read().filter(...)`` rows on cow,
  merge-on-read, and time-travel reads (pruning is a pure optimization);
- selective filters actually skip files (scan_files shrinks);
- the merge-on-read safety rule: a dirty bucket is never file-skipped —
  otherwise a key whose NEWEST version moved outside the predicate range
  would resurrect its stale version through the read-time LWW resolve;
- string bounds are truncated with valid widening (upper bound increments);
- expire_snapshots GCs stats along with their files.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from etlframwork_spark.events import (
    CDC_BASE_SCHEMA,
    EventLogSpec,
    TARGET_BASE_SCHEMA,
    _make_events_frame,
)
from etlframwork_spark.merge import merge_batch
from etlframwork_spark.stats import (
    file_matches,
    prune_files,
    truncate_lower,
    truncate_upper,
)
from etlframwork_spark.table import SnapshotTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk_table(spark, tmp_path, write_mode="cow", n_events=1500, nb=8, name="t"):
    table = SnapshotTable.create(
        str(tmp_path / name), TARGET_BASE_SCHEMA, key_cols=["repo", "path"],
        order_col="lsn", num_buckets=nb,
    )
    spec = EventLogSpec(seed=11, n_events=n_events, n_repos=12, paths_per_repo=6, p_delete=0.1)
    pdf = _make_events_frame(spec)
    half = len(pdf) // 2
    for i, chunk in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        merge_batch(
            spark, table,
            spark.createDataFrame(chunk.drop(columns=["lang"]), schema=CDC_BASE_SCHEMA),
            job_id="stats", epoch_id=i, write_mode=write_mode,
        )
    return table


def _ev(spark, rows):
    """rows: (op, lsn, repo, path, commit, content)"""
    return spark.createDataFrame(rows, schema=CDC_BASE_SCHEMA)


# ------------------------------------------------------------- unit: bounds
def test_truncate_upper_is_a_valid_upper_bound():
    s = "abcdefghijklmnop-THE-LONG-TAIL"
    up = truncate_upper(s, 16)
    assert up is not None and len(up) <= 16
    assert up >= s  # every string with the prefix sorts below the widened bound
    assert truncate_lower(s, 16) <= s
    # short strings pass through exactly
    assert truncate_upper("abc", 16) == "abc"
    # un-widenable prefix -> unbounded above
    assert truncate_upper(chr(0x10FFFF) * 20, 16) is None


def test_file_matches_bound_logic():
    st = {"rows": 10, "cols": {"lsn": [100, 200], "repo": ["aa", "mm"]}}
    assert file_matches(st, [("lsn", "=", 150)])
    assert not file_matches(st, [("lsn", "=", 99)])
    assert not file_matches(st, [("lsn", ">", 200)])
    assert file_matches(st, [("lsn", ">=", 200)])
    assert not file_matches(st, [("lsn", "<", 100)])
    assert file_matches(st, [("lsn", "<=", 100)])
    assert file_matches(st, [("repo", "in", ["zz", "bb"])])
    assert not file_matches(st, [("repo", "in", ["zz"])])
    # conjunction: one failing conjunct kills the file
    assert not file_matches(st, [("lsn", "=", 150), ("repo", "=", "zz")])
    # unknown column / missing stats -> keep
    assert file_matches(st, [("nope", "=", 1)])
    assert file_matches(None, [("lsn", "=", 1)])
    # unbounded-above upper (None) admits any > / >= / =
    st2 = {"rows": 1, "cols": {"repo": ["aa", None]}}
    assert file_matches(st2, [("repo", "=", "zzzz")])
    assert file_matches(st2, [("repo", ">", "zzzz")])
    assert not file_matches(st2, [("repo", "<", "aa")])


# ------------------------------------------------------- commit-time stats
def test_commit_records_file_stats_with_true_bounds(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    fstats = table.meta["file_stats"]
    snap = table.snapshot()
    committed = [f for fs in snap["files"].values() for f in fs]
    assert committed and all(f in fstats for f in committed)
    # bounds really bound the data: per-file min/max lsn from the data
    for rel in committed:
        got = spark.read.parquet(os.path.join(table.root, rel)).agg(
            F.min("lsn"), F.max("lsn")
        ).first()
        lo, hi = fstats[rel]["cols"]["lsn"]
        assert lo <= got[0] and got[1] <= hi
        assert fstats[rel]["rows"] > 0


def test_long_string_bounds_are_widened_not_wrong(spark, tmp_path):
    table = SnapshotTable.create(
        str(tmp_path / "w"), TARGET_BASE_SCHEMA, key_cols=["repo", "path"],
        order_col="lsn", num_buckets=2,
    )
    long_content = "x" * 400 + "UNIQUE-SUFFIX"
    merge_batch(
        spark, table,
        _ev(spark, [("insert", 1, "r1", "p1", "c1", long_content)]),
        job_id="w", epoch_id=0,
    )
    rel = next(iter(table.meta["file_stats"]))
    lo, hi = table.meta["file_stats"][rel]["cols"]["content"]
    assert len(lo) <= 16 and (hi is None or len(hi) <= 16)
    # the widened bounds still admit the true value -> file never skipped
    assert _rows(table.read(spark, filters=[("content", "=", long_content)])) == _rows(
        table.read(spark).filter(F.col("content") == long_content)
    )


# ------------------------------------------------------------ read pruning
@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_filtered_read_equals_post_filter(spark, tmp_path, write_mode):
    table = _mk_table(spark, tmp_path, write_mode=write_mode, name=f"eq_{write_mode}")
    cases = [
        [("lsn", ">", 700)],
        [("lsn", "<=", 100)],
        [("repo", "=", "org0/repo1")],
        [("repo", "in", ["org0/repo1", "org0/repo2"]), ("lsn", ">=", 10)],
        [("content", "<", "B")],
    ]
    for filters in cases:
        expect = table.read(spark)
        from etlframwork_spark.stats import filters_to_expr

        assert _rows(table.read(spark, filters=filters)) == _rows(
            expect.filter(filters_to_expr(filters))
        ), filters


def test_selective_filter_skips_files(spark, tmp_path):
    table = _mk_table(spark, tmp_path, name="skip")
    all_clean, _ = table.scan_files()
    # lsn above everything: bounds exclude every file
    pruned, _ = table.scan_files(filters=[("lsn", ">", 10_000_000)])
    assert len(all_clean) > 0 and pruned == []
    # a mid-range cut keeps strictly fewer files than the full scan
    mid = table.read(spark).agg(F.expr("percentile(lsn, 0.9)")).first()[0]
    pruned_mid, _ = table.scan_files(filters=[("lsn", ">", int(mid))])
    assert len(pruned_mid) < len(all_clean)
    assert _rows(table.read(spark, filters=[("lsn", ">", int(mid))])) == _rows(
        table.read(spark).filter(F.col("lsn") > int(mid))
    )


def test_key_equality_filters_prune_to_one_bucket(spark, tmp_path):
    table = _mk_table(spark, tmp_path, name="kb")
    row = table.read(spark).first()
    filters = [("repo", "=", row["repo"]), ("path", "=", row["path"])]
    clean, dirty = table.scan_files(filters=filters)
    snap = table.snapshot()
    per_bucket = {b: len(fs) for b, fs in snap["files"].items()}
    assert len(clean) + len(dirty) <= max(per_bucket.values())
    got = _rows(table.read(spark, filters=filters))
    assert got == _rows(
        table.read(spark).filter(
            (F.col("repo") == row["repo"]) & (F.col("path") == row["path"])
        )
    )
    assert len(got) == 1


# --------------------------------------------- the MOR stale-row hazard
def test_dirty_bucket_is_never_file_skipped(spark, tmp_path):
    """Key A's newest version moves OUT of the predicate range via a delta.

    If stats skipping were (wrongly) applied inside the delta-carrying
    bucket, the delta file would be pruned for `content < "mmm"` and the
    stale base row "aaa..." would win the LWW resolve — a wrong answer, not
    just a slow plan. The rule under test: dirty buckets prune at bucket
    granularity only."""
    table = SnapshotTable.create(
        str(tmp_path / "mor_hazard"), TARGET_BASE_SCHEMA, key_cols=["repo", "path"],
        order_col="lsn", num_buckets=2,
    )
    merge_batch(
        spark, table,
        _ev(spark, [("insert", 1, "rA", "p", "c1", "aaa-old"),
                    ("insert", 2, "rB", "p", "c2", "bbb-keep")]),
        job_id="h", epoch_id=0, write_mode="cow",
    )
    merge_batch(
        spark, table,
        _ev(spark, [("update", 5, "rA", "p", "c3", "zzz-new")]),
        job_id="h", epoch_id=1, write_mode="mor",
    )
    assert table.has_deltas()  # the hazard is actually armed
    got = _rows(table.read(spark, filters=[("content", "<", "mmm")]))
    # rA's winner is "zzz-new" (fails predicate); only rB may surface
    assert got == _rows(table.read(spark).filter(F.col("content") < "mmm"))
    assert [r for r in got if r[0] == "rA"] == []


# ---------------------------------------------------------- time travel
def test_time_travel_read_with_filters(spark, tmp_path):
    table = _mk_table(spark, tmp_path, name="tt")
    first_commit = table.meta["snapshots"][1]["snapshot_id"]
    filters = [("lsn", ">", 50)]
    from etlframwork_spark.stats import filters_to_expr

    assert _rows(table.read(spark, snapshot_id=first_commit, filters=filters)) == _rows(
        table.read(spark, snapshot_id=first_commit).filter(filters_to_expr(filters))
    )


# ------------------------------------------------------------ maintenance
def test_expire_snapshots_gcs_stats_of_dead_files(spark, tmp_path):
    table = _mk_table(spark, tmp_path, name="gc")
    before = set(table.meta["file_stats"])
    table.expire_snapshots(keep_last=1)
    live = {
        f
        for s in table.meta["snapshots"]
        for fs in list(s["files"].values()) + list(s.get("delta_files", {}).values())
        for f in fs
    }
    after = set(table.meta["file_stats"])
    assert after <= before and after <= live
    # live files keep their stats (pruning still works after expiry)
    snap_files = {f for fs in table.snapshot()["files"].values() for f in fs}
    assert snap_files <= after


# ------------------------------------------- sorted compaction clustering
def test_sorted_compaction_makes_repo_predicates_skip_files(spark, tmp_path):
    """Hash bucketing cannot prune a repo-only predicate (one repo's paths
    hash everywhere). After key-sorted, size-bounded compaction each file
    covers a contiguous (repo, path) range, so the recorded bounds let a
    repo-equality scan skip most files of every bucket."""
    from etlframwork_spark.maintenance import compact_buckets

    table = SnapshotTable.create(
        str(tmp_path / "sorted"), TARGET_BASE_SCHEMA, key_cols=["repo", "path"],
        order_col="lsn", num_buckets=4,
    )
    spec = EventLogSpec(seed=11, n_events=3000, n_repos=40, paths_per_repo=16, p_delete=0.05)
    pdf = _make_events_frame(spec)
    half = len(pdf) // 2
    for i, chunk in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        merge_batch(
            spark, table,
            spark.createDataFrame(chunk.drop(columns=["lang"]), schema=CDC_BASE_SCHEMA),
            job_id="sorted", epoch_id=i, write_mode="mor",
        )
    before = _rows(table.read(spark))
    res = compact_buckets(spark, table, min_deltas=1, max_records_per_file=40)
    assert res["buckets_compacted"] == 4
    assert _rows(table.read(spark)) == before  # state byte-identical

    clean, dirty = table.scan_files()
    assert dirty == [] and len(clean) > 8  # size bound really split files
    # per-file repo bounds are tight: most files exclude any single repo
    repo = table.read(spark).first()["repo"]
    kept, _ = table.scan_files(filters=[("repo", "=", repo)])
    assert len(kept) < len(clean) / 2
    assert _rows(table.read(spark, filters=[("repo", "=", repo)])) == _rows(
        table.read(spark).filter(F.col("repo") == repo)
    )
