"""Crash matrix over ``SnapshotTable.rewrite_buckets``, the one primitive
every bucket rewrite goes through.

Each operation that rewrites buckets — cow epoch, mor epoch, compaction,
tombstone purge, ``delete_where`` and rebucket — is killed at each of the
primitive's fault points (``pre_write``, ``pre_commit``, ``post_commit``).
The kill is injected by wrapping the primitive, so no operation grows a
parameter for it. After the kill the table must load; a kill before the
commit must leave the current snapshot as it was; and re-running the
operation must reach the state an uninterrupted run reaches.

A ``CommitConflict`` loser must delete its own data dir instead of
leaving it for ``vacuum``.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etlframwork_spark.events import CDC_BASE_SCHEMA, EventLogSpec, TARGET_BASE_SCHEMA, _make_events_frame
from etlframwork_spark.maintenance import compact_buckets, purge_tombstones, rebucket
from etlframwork_spark.merge import delete_where, merge_batch
from etlframwork_spark.table import SnapshotTable

STAGES = ["pre_write", "pre_commit", "post_commit"]
_PDF = _make_events_frame(
    EventLogSpec(seed=31, n_events=600, n_repos=6, paths_per_repo=8, p_delete=0.2)
).drop(columns=["lang"])
VICTIM = sorted(_PDF["repo"].unique())[0]


def _merge(spark, table, lo, hi, epoch, mode):
    batch = spark.createDataFrame(_PDF.iloc[lo:hi], schema=CDC_BASE_SCHEMA)
    return merge_batch(spark, table, batch, epoch_id=epoch, write_mode=mode)


def _seeded(spark, root):
    """A cow base, then a mor epoch that leaves deltas (and tombstones)."""
    table = SnapshotTable.create(
        root, TARGET_BASE_SCHEMA, key_cols=["repo", "path"], order_col="lsn", num_buckets=4
    )
    _merge(spark, table, 0, 300, 0, "cow")
    _merge(spark, table, 300, 450, 1, "mor")
    return table


OPS = {
    "cow_epoch": lambda spark, t: _merge(spark, t, 450, 600, 2, "cow"),
    "mor_epoch": lambda spark, t: _merge(spark, t, 450, 600, 2, "mor"),
    "compact": lambda spark, t: compact_buckets(spark, t, min_deltas=1),
    "purge": lambda spark, t: purge_tombstones(spark, t, watermark_lsn=len(_PDF) + 1),
    "delete_where": lambda spark, t: delete_where(spark, t, F.col("repo") == VICTIM),
    "rebucket": lambda spark, t: rebucket(spark, t, 8),
}


def _state(spark, table):
    """Every row, tombstones included."""
    return {tuple(r) for r in table.read(spark, include_tombstones=True).collect()}


@pytest.fixture(scope="module")
def clean_state(spark, tmp_path_factory):
    """State after an uninterrupted run of an operation, one run per op."""
    states: dict[str, set] = {}

    def get(op):
        if op not in states:
            table = _seeded(spark, str(tmp_path_factory.mktemp("clean") / op))
            OPS[op](spark, table)
            states[op] = _state(spark, table.refresh())
        return states[op]

    return get


class Crash(Exception):
    pass


@pytest.mark.parametrize("stage", STAGES)
@pytest.mark.parametrize("op", list(OPS))
def test_kill_at_every_commit_point(spark, tmp_path, clean_state, monkeypatch, op, stage):
    table = _seeded(spark, str(tmp_path / "t"))
    sid = table.snapshot()["snapshot_id"]
    real = SnapshotTable.rewrite_buckets

    def killing(self, *args, fault_injector=None, **kwargs):
        def inject(point):
            if fault_injector is not None:
                fault_injector(point)
            if point == stage:
                raise Crash(point)

        return real(self, *args, fault_injector=inject, **kwargs)

    monkeypatch.setattr(SnapshotTable, "rewrite_buckets", killing)
    with pytest.raises(Crash):
        OPS[op](spark, table)
    monkeypatch.undo()

    reloaded = SnapshotTable.load(table.root)
    if stage == "post_commit":
        assert reloaded.snapshot()["snapshot_id"] > sid
    else:
        assert reloaded.snapshot()["snapshot_id"] == sid
    OPS[op](spark, reloaded)
    assert _state(spark, SnapshotTable.load(table.root)) == clean_state(op)


def _data_dirs(table):
    on_disk = {d for d in os.listdir(os.path.join(table.root, "data")) if d.startswith("snap-")}
    referenced = set()
    for snap in table.refresh().meta["snapshots"]:
        for kind in ("files", "delta_files"):
            for rels in snap.get(kind, {}).values():
                referenced.update(rel.split(os.sep)[1] for rel in rels)
    return on_disk, referenced


@pytest.mark.parametrize("op", ["purge", "delete_where", "compact", "rebucket"])
def test_conflict_loser_leaves_no_data_dir(spark, tmp_path, op):
    """The first commit races a concurrent mor epoch over the same
    buckets, so it raises CommitConflict and the operation recomputes.
    The loser's data dir must be gone, not left for vacuum."""
    table = _seeded(spark, str(tmp_path / "t"))
    real_commit = table.commit
    raced = []

    def racing_commit(*args, **kwargs):
        if not raced:
            raced.append(True)
            _merge(spark, SnapshotTable.load(table.root), 450, 600, 2, "mor")
        return real_commit(*args, **kwargs)

    table.commit = racing_commit
    OPS[op](spark, table)
    assert raced
    on_disk, referenced = _data_dirs(table)
    assert on_disk == referenced, sorted(on_disk - referenced)
