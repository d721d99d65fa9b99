"""Generative LWW property test (SURVEY.md §5.6): arbitrary small event
histories — including equal-LSN ties, delete/re-insert interleavings and
heavy key collisions — must resolve identically in the engine and the
sequential oracle under the deterministic (lsn, commit) total order."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etlframwork_spark.events import CDC_BASE_SCHEMA, TARGET_BASE_SCHEMA
from etlframwork_spark.merge import merge_batch
from etlframwork_spark.table import SnapshotTable

KEYS = [("r0", "a"), ("r0", "b"), ("r1", "a")]

event_st = st.tuples(
    st.sampled_from(["insert", "update", "delete"]),
    st.integers(min_value=0, max_value=7),  # lsn — small domain forces ties
    st.sampled_from(KEYS),
)


def _rows(events: list[tuple]) -> list[dict]:
    # commit made unique per event -> (lsn, commit) is a total order in
    # both engines (ASCII string comparison is identical)
    return [
        {
            "op": op,
            "lsn": lsn,
            "repo": repo,
            "path": path,
            "commit": f"c{i:03d}",
            "content": None if op == "delete" else f"content-{lsn}-{i}",
        }
        for i, (op, lsn, (repo, path)) in enumerate(events)
    ]


def _oracle(rows: list[dict]) -> dict:
    state: dict = {}
    for r in sorted(rows, key=lambda r: (r["lsn"], r["commit"])):
        if r["op"] == "delete":
            state.pop((r["repo"], r["path"]), None)
        else:
            state[(r["repo"], r["path"])] = r["content"]
    return state


@pytest.fixture(scope="module")
def spark_session_holder(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("hyp")
    return spark, str(root), [0]


@pytest.mark.slow
@given(st.lists(event_st, min_size=1, max_size=12))
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_engine_matches_oracle_on_arbitrary_histories(spark_session_holder, events):
    spark, tmp_root, counter = spark_session_holder
    counter[0] += 1
    rows = _rows(events)
    table = SnapshotTable.create(
        f"{tmp_root}/t{counter[0]}", TARGET_BASE_SCHEMA, key_cols=["repo", "path"], order_col="lsn", num_buckets=2
    )
    batch = spark.createDataFrame(pd.DataFrame(rows), schema=CDC_BASE_SCHEMA)
    merge_batch(spark, table, batch, epoch_id=0)
    got = {(r["repo"], r["path"]): r["content"] for r in table.read(spark).collect()}
    assert got == _oracle(rows)
    for r in table.read(spark).collect():
        assert r["content_sha256"] == hashlib.sha256(r["content"].encode()).hexdigest()
