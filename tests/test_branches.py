"""Branch refs / write-audit-publish (round-3 verdict #8): commit epochs
to a branch, audit by name, fast-forward publish to main; diverged
branches refuse to publish; retention pins branch heads."""

from __future__ import annotations

import pytest

from etlframwork_spark.events import (
    CDC_BASE_SCHEMA,
    EventLogSpec,
    TARGET_BASE_SCHEMA,
    _make_events_frame,
    apply_oracle,
    oracle_digests,
)
from etlframwork_spark.merge import merge_batch
from etlframwork_spark.table import SnapshotTable


def _mk(tmp_path, name="t", nb=4):
    return SnapshotTable.create(
        str(tmp_path / name), TARGET_BASE_SCHEMA, key_cols=["repo", "path"],
        order_col="lsn", num_buckets=nb,
    )


def _chunks(n=4, seed=31, n_events=1600):
    spec = EventLogSpec(seed=seed, n_events=n_events, n_repos=10, paths_per_repo=6, p_delete=0.15)
    pdf = _make_events_frame(spec).drop(columns=["lang"])
    step = len(pdf) // n
    return pdf, [pdf.iloc[i * step:(i + 1) * step] for i in range(n - 1)] + [pdf.iloc[(n - 1) * step:]]


def _digests(spark, table, **kw):
    return {
        (r["repo"], r["path"]): (r["content_sha256"], r["lsn"])
        for r in table.read(spark, **kw).collect()
    }


def test_write_audit_publish_flow(spark, tmp_path):
    t = _mk(tmp_path)
    pdf, chunks = _chunks()
    # main: epochs 0-1
    for i in (0, 1):
        merge_batch(spark, t, spark.createDataFrame(chunks[i], schema=CDC_BASE_SCHEMA), epoch_id=i)
    main_before = _digests(spark, t)
    main_snap = t.snapshot()["snapshot_id"]

    # branch: epochs 2 (cow) and 3 (mor) — main must not move
    t.create_branch("audit")
    merge_batch(
        spark, t, spark.createDataFrame(chunks[2], schema=CDC_BASE_SCHEMA),
        epoch_id=2, branch="audit",
    )
    merge_batch(
        spark, t, spark.createDataFrame(chunks[3], schema=CDC_BASE_SCHEMA),
        epoch_id=3, branch="audit", write_mode="mor",
    )
    t.refresh()
    assert t.snapshot()["snapshot_id"] == main_snap
    assert _digests(spark, t) == main_before

    # audit query reads BRANCH state by name: equals the full-replay oracle
    state = apply_oracle(pdf.assign(lang=None))
    dig = oracle_digests(state)
    want = {k: (dig[k], v["lsn"]) for k, v in state.items()}
    assert _digests(spark, t, tag="audit") == want

    # retention respects the branch head while unpublished
    t.expire_snapshots(keep_last=1)
    assert _digests(spark, t, tag="audit") == want

    # publish: main == branch, atomically
    head = t.fast_forward("audit")
    t.refresh()
    assert t.snapshot()["snapshot_id"] == head
    assert _digests(spark, t) == want

    # idempotent re-publish, then drop
    assert t.fast_forward("audit") == head
    t.drop_branch("audit")
    with pytest.raises(KeyError):
        t.fast_forward("audit")


def test_fast_forward_refuses_diverged_branch(spark, tmp_path):
    t = _mk(tmp_path, "d")
    pdf, chunks = _chunks(n=3, seed=5, n_events=600)
    merge_batch(spark, t, spark.createDataFrame(chunks[0], schema=CDC_BASE_SCHEMA), epoch_id=0)
    t.create_branch("wap")
    merge_batch(
        spark, t, spark.createDataFrame(chunks[1], schema=CDC_BASE_SCHEMA),
        epoch_id=1, branch="wap",
    )
    # main advances independently -> branch no longer descends from main
    merge_batch(spark, t, spark.createDataFrame(chunks[2], schema=CDC_BASE_SCHEMA), epoch_id=2)
    with pytest.raises(ValueError, match="descend"):
        t.fast_forward("wap")


def test_branch_guard_rails(spark, tmp_path):
    t = _mk(tmp_path, "g")
    pdf, chunks = _chunks(n=2, seed=7, n_events=200)
    with pytest.raises(KeyError, match="branch"):
        merge_batch(
            spark, t, spark.createDataFrame(chunks[0], schema=CDC_BASE_SCHEMA),
            epoch_id=0, branch="ghost",
        )
    t.create_branch("b1")
    with pytest.raises(ValueError, match="already exists"):
        t.create_branch("b1")
    # tag and branch namespaces are shared (refs): tags cannot fast-forward
    t.set_tag("just-a-tag")
    with pytest.raises(KeyError):
        t.fast_forward("just-a-tag")
    # rebucket on a branch is refused
    with pytest.raises(ValueError, match="main"):
        t.commit({}, [], new_num_buckets=8, branch="b1")
