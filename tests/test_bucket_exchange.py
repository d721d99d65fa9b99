"""Bucket-aligned write exchange (``table.bucket_exchange``): every bucket
rewrite routes each affected bucket wholly to one task, with the affected
buckets dealt evenly over min(#affected, cores) tasks.

The helper is pinned directly (partition count, one partition per bucket,
balanced load, sparse sets), then each operation that rewrites buckets is
pinned end to end: each affected bucket gets exactly ONE new file (or is
emptied), untouched buckets get none, and the state digest is what the
operation promises."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etlframwork_spark.events import (
    CDC_BASE_SCHEMA,
    EventLogSpec,
    TARGET_BASE_SCHEMA,
    _make_events_frame,
    apply_oracle,
    oracle_digests,
)
from etlframwork_spark.maintenance import compact_buckets, purge_tombstones, rebucket
from etlframwork_spark.merge import delete_where, merge_batch
from etlframwork_spark.hashing import bucket_of
from etlframwork_spark.table import BUCKET_COL, TOMBSTONE_COL, SnapshotTable, bucket_exchange

NB = 16


@pytest.fixture(autouse=True)
def _scattered(spark):
    """Keep every upstream shuffle at its full partition count (AQE would
    coalesce these tiny inputs into one task), so each bucket's rows
    arrive spread over several tasks and only the exchange keeps a bucket
    to one file."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize(
    "buckets",
    [[0, 4, 8, 12], [3], list(range(16)), [1, 2, 5, 7, 11, 13, 17, 19, 23, 29]],
    ids=["sparse4", "single", "dense16", "sparse10"],
)
def test_bucket_exchange_one_partition_per_bucket_balanced(spark, buckets):
    rows = [(b, i) for b in buckets for i in range(25)]
    df = spark.createDataFrame(rows, f"{BUCKET_COL} int, i int")
    out = bucket_exchange(df, buckets)
    n = min(len(buckets), spark.sparkContext.defaultParallelism)
    assert out.rdd.getNumPartitions() == n
    pairs = {
        (r[BUCKET_COL], r["pid"])
        for r in out.select(BUCKET_COL, F.spark_partition_id().alias("pid")).collect()
    }
    part_of: dict[int, set[int]] = {}
    for b, pid in pairs:
        part_of.setdefault(b, set()).add(pid)
    assert sorted(part_of) == sorted(buckets)
    assert all(len(p) == 1 for p in part_of.values()), part_of
    load: dict[int, int] = {}
    for (pid,) in part_of.values():
        load[pid] = load.get(pid, 0) + 1
    assert len(load) == n  # no empty task
    assert max(load.values()) <= math.ceil(len(buckets) / n)
    assert out.count() == len(rows)


# ------------------------------------------------------------- per operation
def _events(seed):
    spec = EventLogSpec(seed=seed, n_events=2400, n_repos=12, paths_per_repo=10, p_delete=0.2)
    return _make_events_frame(spec).drop(columns=["lang"])


def _mk(tmp_path, nb=NB):
    return SnapshotTable.create(
        str(tmp_path / "t"), TARGET_BASE_SCHEMA, key_cols=["repo", "path"],
        order_col="lsn", num_buckets=nb,
    )


def _merge(spark, table, pdf, epoch, mode="cow"):
    batch = spark.createDataFrame(pdf, schema=CDC_BASE_SCHEMA)
    return merge_batch(spark, table, batch, epoch_id=epoch, write_mode=mode)


def _files(table):
    snap = table.snapshot()
    out: dict[int, set[str]] = {}
    for kind in ("files", "delta_files"):
        for b, fs in snap.get(kind, {}).items():
            out.setdefault(int(b), set()).update(fs)
    return out


def _digests(spark, table):
    return {(r["repo"], r["path"]): r["content_sha256"] for r in table.read(spark).collect()}


def _assert_one_new_file_per_bucket(before, table, affected):
    after = _files(table)
    new = {b: len(fs - before.get(b, set())) for b, fs in after.items()}
    new = {b: k for b, k in new.items() if k}
    assert set(new) <= set(affected), (sorted(new), sorted(affected))
    assert all(k == 1 for k in new.values()), new
    # an affected bucket without a new file must have been emptied
    assert all(not after.get(b) for b in set(affected) - set(new))
    assert new, "the operation wrote nothing"


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_epoch_writes_one_file_per_affected_bucket(spark, tmp_path, mode):
    pdf = _events(61)
    table = _mk(tmp_path)
    _merge(spark, table, pdf.iloc[:2000], 0, mode)
    # a small second epoch touches a sparse subset of the 16 buckets
    tail = pdf.iloc[2000:2012]
    affected = {bucket_of([r, p], NB) for r, p in zip(tail["repo"], tail["path"])}
    assert 4 < len(affected) < NB
    before = _files(table)
    _merge(spark, table, tail, 1, mode)
    _assert_one_new_file_per_bucket(before, table, affected)
    assert len(_files(table)) == len(before)  # no bucket appeared from nowhere
    want = oracle_digests(apply_oracle(pdf.iloc[:2012].assign(lang=None)))
    assert _digests(spark, table) == want


def test_compact_writes_one_file_per_compacted_bucket(spark, tmp_path):
    pdf = _events(62)
    table = _mk(tmp_path)
    _merge(spark, table, pdf.iloc[:1600], 0)
    _merge(spark, table, pdf.iloc[1600:2000], 1, "mor")
    _merge(spark, table, pdf.iloc[2000:2010], 2, "mor")
    counts = table.delta_file_counts()
    affected = {b for b, k in counts.items() if k >= 2}
    assert 1 < len(affected) < len(counts)
    digest, before = _digests(spark, table), _files(table)
    res = compact_buckets(spark, table, min_deltas=2)
    assert res["buckets_compacted"] == len(affected)
    _assert_one_new_file_per_bucket(before, table, affected)
    assert _digests(spark, table) == digest


def test_purge_writes_one_file_per_purged_bucket(spark, tmp_path):
    pdf = _events(63)
    table = _mk(tmp_path)
    _merge(spark, table, pdf.iloc[:2000], 0)
    _merge(spark, table, pdf.iloc[2000:], 1, "mor")
    tomb = table.read(spark, include_tombstones=True).filter(TOMBSTONE_COL).collect()
    # a watermark at the median tombstone purges about half of them
    wm = sorted(r["lsn"] for r in tomb)[len(tomb) // 2]
    affected = {bucket_of([r["repo"], r["path"]], NB) for r in tomb if r["lsn"] < wm}
    assert 1 < len(affected) < NB
    digest, before = _digests(spark, table), _files(table)
    res = purge_tombstones(spark, table, watermark_lsn=wm)
    assert res["buckets_rewritten"] == len(affected)
    _assert_one_new_file_per_bucket(before, table, affected)
    assert _digests(spark, table) == digest


def test_delete_where_writes_one_file_per_hit_bucket(spark, tmp_path):
    pdf = _events(64)
    table = _mk(tmp_path)
    _merge(spark, table, pdf.iloc[:2000], 0)
    _merge(spark, table, pdf.iloc[2000:], 1, "mor")
    digest = _digests(spark, table)
    victim = sorted(digest)[0][0]
    hit = [k for k in digest if k[0] == victim]
    affected = {bucket_of(list(k), NB) for k in hit}
    assert 1 < len(affected) < NB
    before = _files(table)
    res = delete_where(spark, table, F.col("repo") == victim)
    assert res["rows_deleted"] == len(hit)
    _assert_one_new_file_per_bucket(before, table, affected)
    assert _digests(spark, table) == {k: v for k, v in digest.items() if k[0] != victim}


def test_rebucket_writes_one_file_per_new_bucket(spark, tmp_path):
    pdf = _events(65)
    table = _mk(tmp_path, nb=4)
    _merge(spark, table, pdf.iloc[:2000], 0)
    _merge(spark, table, pdf.iloc[2000:], 1, "mor")
    digest, before = _digests(spark, table), _files(table)
    res = rebucket(spark, table, NB)
    assert res["rebucketed"] and res["files_written"] == NB
    _assert_one_new_file_per_bucket(before, table, set(range(NB)))
    assert sorted(_files(table)) == list(range(NB))
    assert _digests(spark, table) == digest
