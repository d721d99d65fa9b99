"""Merge-on-read mode: delta-append ingest + read-time LWW + compaction
must equal the copy-on-write state and the sequential oracle byte-for-byte."""

from __future__ import annotations

from etlframwork_spark.events import (
    CDC_BASE_SCHEMA,
    EventLogSpec,
    TARGET_BASE_SCHEMA,
    _make_events_frame,
    apply_oracle,
    generate_event_log,
    oracle_digests,
)
from etlframwork_spark.maintenance import compact_buckets
from etlframwork_spark.merge import merge_batch
from etlframwork_spark.streaming import IngestJob, run_ingest
from etlframwork_spark.table import SnapshotTable


def _digests(spark, table, snapshot_id=None):
    rows = table.read(spark, snapshot_id=snapshot_id).select("repo", "path", "content_sha256").collect()
    return {(r["repo"], r["path"]): r["content_sha256"] for r in rows}


def _mk(tmp_path, name):
    return SnapshotTable.create(
        str(tmp_path / name), TARGET_BASE_SCHEMA, key_cols=["repo", "path"], order_col="lsn", num_buckets=4
    )


def test_mor_multi_epoch_matches_oracle_and_cow(spark, tmp_path):
    spec = EventLogSpec(seed=44, n_events=3000, n_repos=15, paths_per_repo=8, p_delete=0.15, shuffle_window=400)
    pdf = _make_events_frame(spec).drop(columns=["lang"])
    want = oracle_digests(apply_oracle(pdf.assign(lang=None)))
    mor, cow = _mk(tmp_path, "mor"), _mk(tmp_path, "cow")
    for e, lo in enumerate(range(0, len(pdf), 1000)):
        chunk = spark.createDataFrame(pdf.iloc[lo : lo + 1000], schema=CDC_BASE_SCHEMA)
        merge_batch(spark, mor, chunk, epoch_id=e, write_mode="mor")
        merge_batch(spark, cow, chunk, epoch_id=e, write_mode="cow")
    assert mor.has_deltas()
    assert _digests(spark, mor) == want
    assert _digests(spark, cow) == want
    # time travel works with deltas in older snapshots
    prev = mor.snapshot()["parent_id"]
    assert mor.read(spark, snapshot_id=prev).count() > 0


def test_mor_delete_then_duplicate_insert_stays_deleted(spark, tmp_path):
    """Read-time LWW across deltas must honor tombstones: a duplicate
    re-delivery of an OLD insert after its delete cannot resurrect."""
    import pandas as pd

    table = _mk(tmp_path, "t")
    ins = pd.DataFrame([{"op": "insert", "lsn": 1, "repo": "r", "path": "p", "commit": "c1", "content": "v1"}])
    dele = pd.DataFrame([{"op": "delete", "lsn": 2, "repo": "r", "path": "p", "commit": "c2", "content": None}])
    merge_batch(spark, table, spark.createDataFrame(ins, schema=CDC_BASE_SCHEMA), epoch_id=0, write_mode="mor")
    merge_batch(spark, table, spark.createDataFrame(dele, schema=CDC_BASE_SCHEMA), epoch_id=1, write_mode="mor")
    assert table.read(spark).count() == 0
    # duplicate re-delivery of the lsn-1 insert in a later epoch
    merge_batch(spark, table, spark.createDataFrame(ins, schema=CDC_BASE_SCHEMA), epoch_id=2, write_mode="mor")
    assert table.read(spark).count() == 0


def test_compaction_preserves_state_and_clears_deltas(spark, tmp_path):
    spec = EventLogSpec(seed=45, n_events=2000, n_repos=10, paths_per_repo=6, p_delete=0.1)
    pdf = _make_events_frame(spec).drop(columns=["lang"])
    table = _mk(tmp_path, "t")
    for e, lo in enumerate(range(0, len(pdf), 500)):
        merge_batch(
            spark, table, spark.createDataFrame(pdf.iloc[lo : lo + 500], schema=CDC_BASE_SCHEMA),
            epoch_id=e, write_mode="mor",
        )
    before = _digests(spark, table)
    n_files_before = len(table.files_for())
    assert max(table.delta_file_counts().values()) >= 3
    res = compact_buckets(spark, table, min_deltas=1)
    assert res["buckets_compacted"] >= 1
    assert table.delta_file_counts() == {}
    assert len(table.files_for()) < n_files_before
    assert _digests(spark, table) == before
    # further MOR merges on the compacted table still match the oracle
    want = oracle_digests(apply_oracle(pdf.assign(lang=None)))
    assert before == want


def test_streaming_mor_with_autocompact_and_resume(spark, tmp_path):
    spec = EventLogSpec(seed=46, n_events=4000, n_repos=30, paths_per_repo=10, p_delete=0.1, n_files=8, duplicate_ratio=0.2)
    events_dir = str(tmp_path / "events")
    generate_event_log(events_dir, spec)
    from etlframwork_spark.events import read_log_pandas

    want = oracle_digests(apply_oracle(read_log_pandas(events_dir)))

    job = IngestJob(
        job_id="mor-stream",
        events_dir=events_dir,
        table_root=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        num_buckets=8,
        max_files_per_trigger=2,
        write_mode="mor",
        compact_min_deltas=3,
    )

    class Boom(Exception):
        pass

    calls = {"n": 0}

    def inject(stage):
        if stage == "pre_commit":
            calls["n"] += 1
            if calls["n"] == 2:
                raise Boom()

    import pytest

    with pytest.raises(Exception):
        run_ingest(spark, job, fault_injector=inject)
    table = run_ingest(spark, job)  # resume from checkpoint
    assert _digests(spark, table) == want
    # auto-compaction kept per-bucket delta counts bounded
    counts = table.delta_file_counts()
    assert all(n < 3 for n in counts.values()) or counts == {}


def test_mor_raw_append_matches_oracle_and_compacts(spark, tmp_path):
    """The raw log — re-delivered duplicates, arrival shuffled within a
    400-event window — appended as mor epochs must resolve to the oracle
    state at read time and through compaction."""
    spec = EventLogSpec(
        seed=45, n_events=3000, n_repos=15, paths_per_repo=8, p_delete=0.15,
        duplicate_ratio=0.1, shuffle_window=400,
    )
    pdf = _make_events_frame(spec).drop(columns=["lang"])
    want = oracle_digests(apply_oracle(pdf.assign(lang=None)))
    raw = _mk(tmp_path, "raw")
    for e, lo in enumerate(range(0, len(pdf), 1000)):
        chunk = spark.createDataFrame(pdf.iloc[lo : lo + 1000], schema=CDC_BASE_SCHEMA)
        merge_batch(spark, raw, chunk, epoch_id=e, write_mode="mor")
    assert _digests(spark, raw) == want
    compact_buckets(spark, raw, min_deltas=1)
    assert not raw.has_deltas()
    assert _digests(spark, raw) == want
