"""Physical-plan shape assertions (SURVEY.md §4): pushdown, pruning,
broadcast, map-side partial aggregation, whole-stage codegen. A correct
answer with the wrong plan does not survive 100 TB — these tests pin the
plans we engineered for."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from etlframwork_spark.operators import QUERIES


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir):
    p = _plan(QUERIES["filter_project_pushdown"](spark, sf_dir))
    assert "PushedFilters:" in p
    assert "l_quantity" in p.split("PushedFilters:")[1].split("\n")[0]
    # column pruning: untouched wide columns never leave the scan
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    for col in ("l_shipdate", "l_tax", "l_partkey", "l_suppkey"):
        assert col not in read_schema, f"{col} not pruned: {read_schema}"


def test_small_dims_are_broadcast(spark, sf_dir):
    p = _plan(QUERIES["q5_region_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "BroadcastExchange" in p


def test_aggregates_have_mapside_partial_phase(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    p = _plan(df, mode="simple")
    # map-side partial aggregation must run BELOW the shuffle Exchange
    assert "partial_sum" in p
    assert p.index("Exchange") < p.index("partial_sum"), "partial agg above the shuffle?"


def test_lww_maxby_has_partial_aggregation(spark):
    """The MERGE's dedup kernel must pre-reduce map-side: a hot key's
    events collapse to one row per input partition before the shuffle —
    this IS the first line of skew defense at 10^10 events."""
    from etlframwork_spark.table import lww_resolve

    cols = ["repo", "path", "lsn", "commit", "content", "_deleted"]
    df = spark.createDataFrame([("r", "p", 1, "c", "x", False)], cols)
    resolved = lww_resolve(df, ["repo", "path"], cols, "lsn")
    p = _plan(resolved)
    assert "partial_max_by" in p
    assert resolved.columns == cols  # the tie-break column stays internal


def test_topk_plans_take_ordered_no_global_sort(spark, sf_dir):
    p = _plan(QUERIES["topk_hot_users"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_cosine_topk_batched_scoring_no_pair_blowup(spark, sf_dir):
    """Round 7: brute-force top-k scores whole Arrow batches against the
    (driver-resident) query matrix — ONE MapInArrow stage, no per-pair
    join materialization. The partial top-k means the window exchange
    carries only per-batch candidates, never the full pair matrix."""
    p = _plan(QUERIES["emb_cosine_topk"](spark, sf_dir))
    assert "MapInArrow" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_range_join_never_plans_nested_loop(spark, sf_dir):
    """J8's bucketed range join must ride an equi shuffle/broadcast —
    a BroadcastNestedLoopJoin or CartesianProduct here means the theta
    term leaked into the join strategy (quadratic at scale)."""
    p = _plan(QUERIES["range_join_error_context"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_dedup_pipeline_no_cartesian_and_capped(spark, sf_dir):
    p = _plan(QUERIES["docs_dedup_pipeline"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_sessionize_single_sort_per_user_partitioning(spark, sf_dir):
    """Sessionization's lag + running-sum windows share one
    (user_id)-ordered sort — the plan must not re-sort per window."""
    p = _plan(QUERIES["events_sessionize"](spark, sf_dir), mode="simple")
    # both window functions evaluate inside a shared Window operator chain
    # over a single hashpartitioning(user_id) exchange
    assert p.count("Exchange hashpartitioning(user_id") == 1, p


def test_read_changes_plan_pruned_and_no_nested_loop(spark, tmp_path):
    """The change feed (round 6, oracle-paired): the snapshot diff must
    plan as an equi full-outer join (sort-merge or shuffled-hash — never
    cartesian / nested-loop), and both sides' scans must read ONLY the
    buckets whose file lists changed between the snapshots."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etlframwork_spark.changes import changed_buckets, read_changes
    from etlframwork_spark.merge import merge_batch
    from etlframwork_spark.table import SnapshotTable

    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("v", LongType()),
            StructField("lsn", LongType()),
        ]
    )
    ev = StructType(schema.fields + [StructField("op", StringType())])
    t = SnapshotTable.create(
        str(tmp_path / "t"), schema, key_cols=["k"], order_col="lsn", num_buckets=8
    )
    merge_batch(
        spark, t,
        spark.createDataFrame([(f"k{i}", i, i, "insert") for i in range(64)], ev),
        job_id="pp", epoch_id=0,
    )
    s1 = t.snapshot()["snapshot_id"]
    merge_batch(
        spark, t, spark.createDataFrame([("k3", 999, 100, "update")], ev),
        job_id="pp", epoch_id=1,
    )
    s2 = t.snapshot()["snapshot_id"]

    changed = changed_buckets(t, s1, s2)
    assert len(changed) == 1  # single-key epoch -> single changed bucket

    feed = read_changes(spark, t, s1, s2)
    p = _plan(feed)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "FullOuter" in p or "full_outer" in p.lower()
    # scan pruning: the planned file sets cover ONLY the changed bucket
    new_files = set(t.scan_files(buckets=changed, snapshot_id=s2)[0])
    all_files = set(t.scan_files(snapshot_id=s2)[0])
    assert new_files < all_files  # strictly fewer files than a full scan
    # and the feed's physical scans reference no file outside the changed
    # bucket's directories (bucket dirs appear in the plan's file listing)
    wanted_dirs = {f"_bucket={b}" for b in changed}
    import re as _re

    scanned = set(_re.findall(r"_bucket=\d+", p))
    assert scanned and scanned <= wanted_dirs, (scanned, wanted_dirs)
    # column pruning through the full-outer join: the OLD side only feeds
    # the key/order coalesce and the liveness test, so its scan must NOT
    # read the payload column — at 100 TB the old side reads ~50B/row,
    # not the content (Catalyst prunes it; this pins that it stays so)
    read_schemas = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert len(read_schemas) == 2
    assert any("v:" not in ln for ln in read_schemas), read_schemas
