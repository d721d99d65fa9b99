"""The metadata transaction: every ``SnapshotTable`` metadata change runs
through one refresh -> mutate -> CAS-publish primitive.

- CAS-race matrix: for each metadata operation a competing writer
  publishes between the operation's refresh and its publish. The
  operation must retry on the winner's state so both changes survive,
  and an operation that loses every attempt raises ``VersionConflict``
  naming itself.
- Commits racing other writers: a mor epoch whose rows were hashed
  under a bucket count that a concurrent ``rebucket`` replaced loses its
  commit with one ``CommitConflict`` and ``merge_batch`` recomputes it
  under the new count; a ``sync_incremental`` whose dst buckets another
  epoch changed recomputes the same way; a recomputed cow epoch keeps
  the column a racing writer added; a recomputed ingest epoch
  quarantines its malformed rows once; and files a compaction wrote
  before a concurrent rename read back under the new name.
"""

from __future__ import annotations

import os

import pytest

from etlframwork_spark.events import (
    CDC_BASE_SCHEMA,
    CDC_EVOLVED_SCHEMA,
    TARGET_BASE_SCHEMA,
    EventLogSpec,
    _make_events_frame,
)
from etlframwork_spark.maintenance import compact_buckets, rebucket
from etlframwork_spark.merge import merge_batch
from etlframwork_spark.table import CommitConflict, SnapshotTable, VersionConflict


def _mk(root):
    return SnapshotTable.create(
        str(root), TARGET_BASE_SCHEMA, key_cols=["repo", "path"], order_col="lsn", num_buckets=4
    )


def _fence_commit(table, fence, branch=None):
    return table.commit({}, [], fence=fence, summary={"operation": "test"}, branch=branch)


def _with_branch(t):
    t.create_branch("wap")
    _fence_commit(t, "wap:0", branch="wap")


def _with_history(t):
    for epoch in range(3):
        _fence_commit(t, f"old:{epoch}")


# op name -> (setup, operation, "its change is visible" check)
OPS = {
    "evolve_schema": (
        None,
        lambda t: t.evolve_schema(renames={"content": "body"}),
        lambda t: "body" in t.schema().fieldNames(),
    ),
    "set_tag": (None, lambda t: t.set_tag("audit"), lambda t: "audit" in t.tags()),
    "drop_tag": (
        lambda t: t.set_tag("audit"),
        lambda t: t.drop_tag("audit"),
        lambda t: "audit" not in t.tags(),
    ),
    "create_branch": (None, lambda t: t.create_branch("wap"), lambda t: "wap" in t.branches()),
    "drop_branch": (
        lambda t: t.create_branch("wap"),
        lambda t: t.drop_branch("wap"),
        lambda t: "wap" not in t.branches(),
    ),
    "fast_forward": (
        _with_branch,
        lambda t: t.fast_forward("wap"),
        lambda t: t.meta["current_snapshot_id"] == t.branches()["wap"]
        and t.is_fence_committed("wap:0"),
    ),
    "commit": (None, lambda t: _fence_commit(t, "op:0"), lambda t: t.is_fence_committed("op:0")),
    "expire_snapshots": (
        _with_history,
        lambda t: t.expire_snapshots(keep_last=1),
        lambda t: [s["snapshot_id"] for s in t.meta["snapshots"]] == [t.meta["current_snapshot_id"]],
    ),
}


def _race(table, rounds):
    """After each of the next ``rounds`` refreshes of ``table``, a rival
    handle publishes a tag, so the attempt's publish loses the CAS."""
    real, rivals = table.refresh, []

    def refresh():
        out = real()
        if len(rivals) < rounds:
            rivals.append(f"rival{len(rivals)}")
            SnapshotTable.load(table.root).set_tag(rivals[-1])
        return out

    table.refresh = refresh
    return rivals


@pytest.mark.parametrize("op", list(OPS))
def test_metadata_op_retries_past_a_competing_commit(tmp_path, op):
    setup, run, applied = OPS[op]
    table = _mk(tmp_path / "t")
    if setup is not None:
        setup(table)
    rivals = _race(table, 1)
    run(table)
    final = SnapshotTable.load(table.root)
    assert rivals == ["rival0"]
    assert "rival0" in final.tags()
    assert applied(final)


@pytest.mark.parametrize("op", list(OPS))
def test_metadata_op_losing_every_attempt_names_itself(tmp_path, op):
    setup, run, applied = OPS[op]
    table = _mk(tmp_path / "t")
    if setup is not None:
        setup(table)
    _race(table, 10**6)
    with pytest.raises(VersionConflict, match=f"^{op} lost the metadata CAS"):
        run(table)
    assert not applied(SnapshotTable.load(table.root))


# ------------------------------------------------ commits racing metadata
_PDF = _make_events_frame(
    EventLogSpec(seed=17, n_events=400, n_repos=5, paths_per_repo=12, p_delete=0.1)
).drop(columns=["lang"])


def _merge(spark, table, lo, hi, epoch, mode, **kw):
    batch = spark.createDataFrame(_PDF.iloc[lo:hi], schema=CDC_BASE_SCHEMA)
    return merge_batch(spark, table, batch, epoch_id=epoch, write_mode=mode, **kw)


def _rows(spark, table, **kw):
    return {(r["repo"], r["path"]): tuple(r) for r in table.read(spark, **kw).collect()}


def _count_conflicts(table):
    """Wrap ``table.commit``; returns the list that records each
    CommitConflict its commits raise."""
    real_commit, conflicts = table.commit, []

    def counting_commit(*a, **kw):
        try:
            return real_commit(*a, **kw)
        except CommitConflict as e:
            conflicts.append(str(e))
            raise

    table.commit = counting_commit
    return conflicts


def test_mor_epoch_racing_rebucket_recomputes(spark, tmp_path):
    """A rebucket publishing between a mor epoch's write and its commit
    leaves the epoch's delta files hashed under 4 buckets in an 8-bucket
    table; appending them would put keys in the wrong buckets. The commit
    must fail with one CommitConflict, and merge_batch must recompute the
    epoch under the new bucket count, landing every key where full scans
    and key-pinned reads find it."""
    want = _mk(tmp_path / "want")
    _merge(spark, want, 0, 250, 0, "cow")
    _merge(spark, want, 250, 400, 1, "mor")
    table = _mk(tmp_path / "t")
    _merge(spark, table, 0, 250, 0, "cow")
    raced = []

    def hook(stage):
        if stage == "pre_commit" and not raced:
            raced.append(rebucket(spark, SnapshotTable.load(table.root), 8))

    conflicts = _count_conflicts(table)
    out = _merge(spark, table, 250, 400, 1, "mor", fault_injector=hook)
    assert raced and raced[0]["rebucketed"]
    assert len(conflicts) == 1 and "rebucketed" in conflicts[0]
    assert not out.get("skipped") and out["events"] == 150
    assert table.refresh().num_buckets == 8
    expect = _rows(spark, want)
    assert _rows(spark, table) == expect
    for repo, path in sorted(expect)[::5]:
        pinned = [("repo", "=", repo), ("path", "=", path)]
        assert _rows(spark, table, filters=pinned) == {(repo, path): expect[(repo, path)]}


def test_sync_recomputes_when_a_dst_writer_races(spark, tmp_path):
    """Another job's mor epoch appending to dst's buckets between a sync's
    write and its commit: the sync's replace commit conflicts, and the
    sync recomputes from fresh state instead of raising, so dst ends with
    both row sets and no unreferenced data dir remains."""
    from etlframwork_spark.changes import sync_incremental

    src = _mk(tmp_path / "src")
    _merge(spark, src, 0, 250, 0, "cow")
    other = spark.createDataFrame(
        _PDF.iloc[250:400].assign(repo=lambda d: "other/" + d["repo"]), schema=CDC_BASE_SCHEMA
    )
    dst = _mk(tmp_path / "dst")
    raced = []

    def hook(stage):
        if stage == "pre_commit" and not raced:
            raced.append(merge_batch(
                spark, SnapshotTable.load(dst.root), other, job_id="other", epoch_id=0, write_mode="mor"
            ))

    conflicts = _count_conflicts(dst)
    sync_incremental(spark, src, dst, fault_injector=hook)
    assert raced and raced[0]["affected_buckets"] > 0
    assert len(conflicts) == 1
    want = _mk(tmp_path / "want")
    _merge(spark, want, 0, 250, 0, "cow")
    merge_batch(spark, want, other, job_id="other", epoch_id=0, write_mode="mor")
    assert _rows(spark, dst.refresh()) == _rows(spark, want)
    referenced = {f.split(os.sep)[1] for f in dst.live_files()}
    on_disk = {d for d in os.listdir(os.path.join(dst.root, "data")) if d.startswith("snap-")}
    assert on_disk == referenced


def test_cow_recompute_keeps_a_racing_writers_new_column(spark, tmp_path):
    """A concurrent epoch that evolves the table (adds ``lang``) and lands
    in a cow epoch's buckets: the recomputed cow epoch reads the stored
    rows under the evolved schema and keeps their ``lang`` values."""
    racer = spark.createDataFrame(
        _PDF.iloc[250:400].assign(repo=lambda d: "other/" + d["repo"], lang="py"),
        schema=CDC_EVOLVED_SCHEMA,
    )
    want = _mk(tmp_path / "want")
    _merge(spark, want, 0, 250, 0, "cow")
    merge_batch(spark, want, racer, job_id="other", epoch_id=0, write_mode="mor")
    _merge(spark, want, 250, 400, 1, "cow")
    table = _mk(tmp_path / "t")
    _merge(spark, table, 0, 250, 0, "cow")
    raced = []

    def hook(stage):
        if stage == "pre_commit" and not raced:
            raced.append(merge_batch(
                spark, SnapshotTable.load(table.root), racer, job_id="other", epoch_id=0, write_mode="mor"
            ))

    conflicts = _count_conflicts(table)
    _merge(spark, table, 250, 400, 1, "cow", fault_injector=hook)
    assert raced and raced[0]["new_columns"] == ["lang"]
    assert len(conflicts) == 1
    assert _rows(spark, table.refresh()) == _rows(spark, want)
    assert {r["lang"] for r in table.read(spark).collect() if r["repo"].startswith("other/")} == {"py"}


def test_recomputed_epoch_quarantines_once(spark, tmp_path):
    """Only an epoch's commit cycle reruns after a lost commit: a segment
    of 40 valid and 5 malformed events whose epoch loses to a rebucket
    quarantines 5 rows, not 5 per attempt."""
    import pyarrow.parquet as pq

    from etlframwork_spark.streaming import IngestJob, run_ingest

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    seg = _PDF.iloc[:45].copy()
    seg.loc[seg.index[40:], "op"] = "bogus"
    seg.to_parquet(events_dir / "events-00000.parquet", index=False)
    job = IngestJob(
        job_id="quarantine",
        events_dir=str(events_dir),
        table_root=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        quarantine_dir=str(tmp_path / "quarantine"),
        num_buckets=4,
        write_mode="mor",
    )
    raced = []

    def hook(stage):
        if stage == "pre_commit" and not raced:
            raced.append(rebucket(spark, SnapshotTable.load(job.table_root), 8))

    table = run_ingest(spark, job, fault_injector=hook)
    assert raced and raced[0]["rebucketed"]
    assert table.num_buckets == 8
    assert pq.read_table(job.quarantine_dir).num_rows == 5
    assert table.snapshot()["summary"]["events"] == 40


def test_stream_survives_a_rebucket_racing_an_epoch(spark, tmp_path):
    """A running stream whose epoch loses its commit to a concurrent
    rebucket recomputes the epoch from fresh state instead of dying on
    CommitConflict, and ends in the sequential oracle's state."""
    from etlframwork_spark.events import (
        apply_oracle,
        generate_event_log,
        oracle_digests,
        read_log_pandas,
    )
    from etlframwork_spark.streaming import IngestJob, run_ingest

    events_dir = str(tmp_path / "events")
    generate_event_log(
        events_dir,
        EventLogSpec(seed=29, n_events=1500, n_repos=10, paths_per_repo=10, p_delete=0.1, n_files=4),
    )
    job = IngestJob(
        job_id="race",
        events_dir=events_dir,
        table_root=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_buckets=4,
        max_files_per_trigger=2,
        write_mode="mor",
    )
    raced = []

    def hook(stage):
        if stage == "pre_commit" and not raced:
            raced.append(rebucket(spark, SnapshotTable.load(job.table_root), 8))

    table = run_ingest(spark, job, fault_injector=hook)
    assert raced and raced[0]["rebucketed"]
    assert table.num_buckets == 8
    rows = table.read(spark).select("repo", "path", "content_sha256").collect()
    got = {(r["repo"], r["path"]): r["content_sha256"] for r in rows}
    assert got == oracle_digests(apply_oracle(read_log_pandas(events_dir)))


def test_compaction_racing_rename_keeps_column_values(spark, tmp_path, monkeypatch):
    """A rename publishing between a compaction's write and its commit:
    the compacted files carry the OLD column name, so they must be
    recorded under the schema they were written under, and read back
    under the new name by field id instead of as nulls."""
    table = _mk(tmp_path / "t")
    _merge(spark, table, 0, 250, 0, "cow")
    _merge(spark, table, 250, 400, 1, "mor")
    content = {k: row[3] for k, row in _rows(spark, table).items()}
    real = SnapshotTable.rewrite_buckets
    renamed = []

    def racing(self, *args, fault_injector=None, **kwargs):
        def inject(stage):
            if stage == "pre_commit" and not renamed:
                renamed.append(SnapshotTable.load(self.root).evolve_schema(renames={"content": "body"}))

        return real(self, *args, fault_injector=inject, **kwargs)

    monkeypatch.setattr(SnapshotTable, "rewrite_buckets", racing)
    assert compact_buckets(spark, table)["buckets_compacted"] > 0
    monkeypatch.undo()
    assert renamed
    table.refresh()
    assert not table.has_deltas()
    got = {(r["repo"], r["path"]): r["body"] for r in table.read(spark).collect()}
    assert got == content
