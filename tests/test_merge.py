"""MERGE/upsert correctness vs the sequential oracle (SURVEY.md §5.1/§5.3).

Per-row sha256(content) equality vs the oracle is the BASELINE.json:15
invariant.
"""

from __future__ import annotations

import hashlib

import pytest

from etlframwork_spark.events import (
    CDC_BASE_SCHEMA,
    EventLogSpec,
    TARGET_BASE_SCHEMA,
    _make_events_frame,
    apply_oracle,
)
from etlframwork_spark.merge import merge_batch
from etlframwork_spark.table import SnapshotTable


def _mk_table(tmp_path, nb=4):
    return SnapshotTable.create(
        str(tmp_path / "t"), TARGET_BASE_SCHEMA, key_cols=["repo", "path"], order_col="lsn", num_buckets=nb
    )


def _assert_state_equal(spark, table, oracle_state):
    """Keysets equal + per-row sha256/commit/lsn/lang equal."""
    rows = {(r["repo"], r["path"]): r.asDict() for r in table.read(spark).collect()}
    assert set(rows) == set(oracle_state)
    for k, expect in oracle_state.items():
        got = rows[k]
        want_sha = hashlib.sha256(expect["content"].encode()).hexdigest()
        assert got["content_sha256"] == want_sha, k
        assert got["content"] == expect["content"], k
        assert got["commit"] == expect["commit"], k
        assert got["lsn"] == expect["lsn"], k
        if "lang" in got:
            assert got["lang"] == expect["lang"], k


def test_merge_single_batch_matches_oracle(spark, tmp_path):
    spec = EventLogSpec(seed=7, n_events=2000, n_repos=20, paths_per_repo=10, p_delete=0.1)
    pdf = _make_events_frame(spec)
    oracle = apply_oracle(pdf)
    table = _mk_table(tmp_path)
    batch = spark.createDataFrame(pdf.drop(columns=["lang"]), schema=CDC_BASE_SCHEMA)
    summary = merge_batch(spark, table, batch, job_id="j", epoch_id=0)
    assert summary["events"] == 2000
    oracle_nolang = {k: dict(v, lang=None) for k, v in oracle.items()}
    _assert_state_equal(spark, table, oracle_nolang)


def test_merge_multi_batch_out_of_order(spark, tmp_path):
    """Events split across epochs in a NON-lsn order; a late lower-LSN
    update must never clobber the stored higher-LSN row (T4)."""
    spec = EventLogSpec(seed=11, n_events=3000, n_repos=15, paths_per_repo=8, p_delete=0.15, shuffle_window=500)
    pdf = _make_events_frame(spec)
    oracle = {k: dict(v, lang=None) for k, v in apply_oracle(pdf).items()}
    table = _mk_table(tmp_path)
    # split by ARRIVAL order (shuffled), not lsn order
    chunks = [pdf.iloc[i : i + 1000] for i in range(0, len(pdf), 1000)]
    for e, chunk in enumerate(chunks):
        merge_batch(
            spark,
            table,
            spark.createDataFrame(chunk.drop(columns=["lang"]), schema=CDC_BASE_SCHEMA),
            job_id="j",
            epoch_id=e,
        )
    _assert_state_equal(spark, table, oracle)


def test_merge_epoch_fence_skips_redelivery(spark, tmp_path):
    spec = EventLogSpec(seed=3, n_events=500, n_repos=5, paths_per_repo=5)
    pdf = _make_events_frame(spec)
    table = _mk_table(tmp_path)
    batch = spark.createDataFrame(pdf.drop(columns=["lang"]), schema=CDC_BASE_SCHEMA)
    s1 = merge_batch(spark, table, batch, job_id="j", epoch_id=0)
    assert not s1.get("skipped")
    sid = table.snapshot()["snapshot_id"]
    s2 = merge_batch(spark, table, batch, job_id="j", epoch_id=0)
    assert s2["skipped"]
    assert table.refresh().snapshot()["snapshot_id"] == sid  # no new snapshot


def test_merge_duplicate_events_are_noop_state_change(spark, tmp_path):
    """Same events re-delivered under a NEW epoch id: LWW makes the apply
    idempotent (T6) — final state unchanged."""
    spec = EventLogSpec(seed=5, n_events=800, n_repos=8, paths_per_repo=6, p_delete=0.1)
    pdf = _make_events_frame(spec)
    oracle = {k: dict(v, lang=None) for k, v in apply_oracle(pdf).items()}
    table = _mk_table(tmp_path)
    batch = spark.createDataFrame(pdf.drop(columns=["lang"]), schema=CDC_BASE_SCHEMA)
    merge_batch(spark, table, batch, job_id="j", epoch_id=0)
    merge_batch(spark, table, batch, job_id="j", epoch_id=1)  # duplicate delivery
    _assert_state_equal(spark, table, oracle)


def test_merge_schema_evolution_mid_stream(spark, tmp_path):
    """Epoch 0 pre-evolution (no lang), epoch 1 evolved (+lang): registry
    bumps once, old winners read back with lang=null (T7)."""
    spec = EventLogSpec(seed=9, n_events=1000, n_repos=10, paths_per_repo=6, p_delete=0.05)
    pdf = _make_events_frame(spec)
    cut = 500
    seg1, seg2 = pdf.iloc[:cut], pdf.iloc[cut:]
    table = _mk_table(tmp_path)
    merge_batch(spark, table, spark.createDataFrame(seg1.drop(columns=["lang"]), schema=CDC_BASE_SCHEMA), epoch_id=0)
    assert table.meta["current_schema_id"] == 0
    merge_batch(spark, table, spark.createDataFrame(seg2), epoch_id=1)
    assert table.meta["current_schema_id"] == 1
    assert "lang" in table.schema().fieldNames()
    # oracle with lang only for seg2 events
    seg1_nolang = seg1.copy()
    seg1_nolang["lang"] = None
    import pandas as pd

    oracle = apply_oracle(pd.concat([seg1_nolang, seg2], ignore_index=True))
    _assert_state_equal(spark, table, oracle)
    # pre-evolution snapshot is still readable (time travel across schemas)
    old_sid = table.snapshot()["parent_id"]
    assert table.read(spark, snapshot_id=old_sid).count() > 0


def test_merge_quarantines_malformed(spark, tmp_path):
    import pandas as pd

    good = _make_events_frame(EventLogSpec(seed=2, n_events=50, n_repos=3, paths_per_repo=3)).drop(columns=["lang"])
    bad = good.iloc[:5].copy()
    bad["op"] = "truncate"  # unknown op
    table = _mk_table(tmp_path)
    qdir = str(tmp_path / "quarantine")
    batch = spark.createDataFrame(pd.concat([good, bad]), schema=CDC_BASE_SCHEMA)
    s = merge_batch(spark, table, batch, quarantine_dir=qdir)
    assert s["quarantined"] == 5
    assert s["events"] == 50
    assert spark.read.parquet(qdir).count() == 5


def test_merge_crash_before_commit_leaves_state_unchanged(spark, tmp_path):
    """Kill between data write and manifest rename: manifest is the source
    of truth — table state unchanged, orphans vacuumable (SURVEY §7.4.2)."""
    spec = EventLogSpec(seed=4, n_events=300, n_repos=5, paths_per_repo=4)
    pdf = _make_events_frame(spec).drop(columns=["lang"])
    table = _mk_table(tmp_path)
    half = pdf.iloc[:150]
    merge_batch(spark, table, spark.createDataFrame(half, schema=CDC_BASE_SCHEMA), epoch_id=0)
    sid = table.snapshot()["snapshot_id"]
    before = {(r["repo"], r["path"]): r["content_sha256"] for r in table.read(spark).collect()}

    class Boom(Exception):
        pass

    def inject(stage):
        if stage == "pre_commit":
            raise Boom()

    rest = spark.createDataFrame(pdf.iloc[150:], schema=CDC_BASE_SCHEMA)
    with pytest.raises(Boom):
        merge_batch(spark, table, rest, epoch_id=1, fault_injector=inject)
    table.refresh()
    assert table.snapshot()["snapshot_id"] == sid
    after = {(r["repo"], r["path"]): r["content_sha256"] for r in table.read(spark).collect()}
    assert after == before
    # retry the epoch (redelivery) -> applies exactly once
    merge_batch(spark, table, rest, epoch_id=1)
    oracle = {k: dict(v, lang=None) for k, v in apply_oracle(pdf.assign(lang=None)).items()}
    _assert_state_equal(spark, table, oracle)


def test_empty_single_pass_epoch_leaves_no_orphan_dir(tmp_path, spark):
    """Round-3 ADVICE: an empty epoch on the mor single-pass path used to
    run the (empty) write and leave an uncommitted snap-* data dir behind —
    one per empty epoch of a long stream. It must clean up after itself."""
    import os

    from etlframwork_spark.events import TARGET_BASE_SCHEMA

    table = SnapshotTable.create(
        str(tmp_path / "t"), TARGET_BASE_SCHEMA, key_cols=["repo", "path"],
        order_col="lsn", num_buckets=4,
    )
    empty = spark.createDataFrame([], CDC_BASE_SCHEMA)
    out = merge_batch(spark, table, empty, job_id="e", epoch_id=0, write_mode="mor")
    assert out["events"] == 0 and out["snapshot_id"] is not None
    data_root = os.path.join(table.root, "data")
    leftovers = [d for d in os.listdir(data_root) if d.startswith("snap-")]
    assert leftovers == [], f"orphan data dirs from empty epoch: {leftovers}"
    # re-delivery of the empty epoch stays a fenced no-op
    again = merge_batch(spark, table, empty, job_id="e", epoch_id=0, write_mode="mor")
    assert again.get("skipped")


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_commit_summary_matches_manifest_on_disk(spark, tmp_path, mode):
    """merge_batch times commit and lineage AFTER committing; those
    timings must not leak into the in-memory snapshot's summary, or the
    live table and a fresh load of its manifest disagree."""
    spec = EventLogSpec(seed=9, n_events=400, n_repos=5, paths_per_repo=6)
    pdf = _make_events_frame(spec).drop(columns=["lang"])
    table = _mk_table(tmp_path)
    out = merge_batch(
        spark, table, spark.createDataFrame(pdf, schema=CDC_BASE_SCHEMA),
        epoch_id=0, write_mode=mode,
    )
    assert "commit" in out["timings"]
    live = table.snapshot()["summary"]
    assert "commit" not in live["timings"]
    assert live == SnapshotTable.load(table.root).snapshot()["summary"]


def test_lineage_bounds_follow_the_order_column(spark, tmp_path):
    """Each lineage row carries its file's row count and bounds of the
    table's order column, whatever that column is named."""
    import os

    import pyarrow.parquet as pq

    from etlframwork_spark.lineage import MetricsTable

    table = SnapshotTable.create(
        str(tmp_path / "t"),
        spark.createDataFrame([], "k string, seq bigint, v string").schema,
        key_cols=["k"], order_col="seq", num_buckets=2,
    )
    batch = spark.createDataFrame(
        [(f"k{i}", 100 + i, f"v{i}", "insert") for i in range(40)],
        "k string, seq bigint, v string, op string",
    )
    metrics = MetricsTable(str(tmp_path / "metrics"))
    merge_batch(spark, table, batch, epoch_id=0, metrics=metrics)
    lineage = pq.read_table(metrics.lineage_dir).to_pylist()
    assert len(lineage) == 2
    for rec in lineage:
        seqs = pq.read_table(os.path.join(table.root, rec["file"]), columns=["seq"])["seq"].to_pylist()
        assert (rec["rows"], rec["min_lsn"], rec["max_lsn"]) == (len(seqs), min(seqs), max(seqs))
        assert (rec["src_min_lsn"], rec["src_max_lsn"]) == (100, 139)
