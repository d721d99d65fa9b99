"""Property-based guarantees (SURVEY.md §5.6-5.7):

- order-independence: ANY arrival permutation of the same logical event
  history replays to the same final state (LWW by total (lsn, commit));
- skew: a heavily hot-keyed log replays to the oracle state through both
  write modes (the map-side partial max_by defuses the hot repo).
"""

from __future__ import annotations

import numpy as np
import pytest

from etlframwork_spark.events import (
    CDC_BASE_SCHEMA,
    EventLogSpec,
    _make_events_frame,
    apply_oracle,
    oracle_digests,
)
from etlframwork_spark.merge import merge_batch
from etlframwork_spark.table import SnapshotTable


def _digests(spark, table):
    rows = table.read(spark).select("repo", "path", "content_sha256").collect()
    return {(r["repo"], r["path"]): r["content_sha256"] for r in rows}


def _replay(spark, tmp_path, pdf, name, write_mode="cow", epochs=3, num_buckets=4):
    from etlframwork_spark.events import TARGET_BASE_SCHEMA

    table = SnapshotTable.create(
        str(tmp_path / name), TARGET_BASE_SCHEMA, key_cols=["repo", "path"], order_col="lsn", num_buckets=num_buckets
    )
    n = len(pdf)
    step = max(1, n // epochs)
    for e, lo in enumerate(range(0, n, step)):
        chunk = pdf.iloc[lo : lo + step]
        merge_batch(
            spark,
            table,
            spark.createDataFrame(chunk, schema=CDC_BASE_SCHEMA),
            job_id=name,
            epoch_id=e,
            write_mode=write_mode,
        )
    return _digests(spark, table)


@pytest.mark.parametrize("perm_seed", [0, 1, 2])
def test_arrival_order_independence(spark, tmp_path, perm_seed):
    spec = EventLogSpec(seed=19, n_events=1500, n_repos=12, paths_per_repo=8, p_delete=0.12)
    pdf = _make_events_frame(spec).drop(columns=["lang"])
    want = oracle_digests(apply_oracle(pdf.assign(lang=None)))
    rng = np.random.default_rng(perm_seed)
    shuffled = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
    got = _replay(spark, tmp_path, shuffled, f"perm{perm_seed}")
    assert got == want


def test_skewed_log_both_strategies_identical(spark, tmp_path):
    """90% of events on one hot repo: the LWW resolve (map-side partial
    max_by) must reach the oracle state under both write modes — cow
    resolves each epoch against stored rows, mor defers that to the
    read."""
    spec = EventLogSpec(seed=23, n_events=4000, n_repos=100, paths_per_repo=10, hot_ratio=0.9, p_delete=0.1)
    pdf = _make_events_frame(spec).drop(columns=["lang"])
    want = oracle_digests(apply_oracle(pdf.assign(lang=None)))
    assert _replay(spark, tmp_path, pdf, "skew_cow", write_mode="cow") == want
    assert _replay(spark, tmp_path, pdf, "skew_mor", write_mode="mor") == want
    # hot repo really is hot (skew reached the merge path)
    hot = sum(1 for (repo, _p) in want if repo == "org0/repo0")
    assert hot >= 8
