"""Field-id schema evolution (rename/drop) — the round-4 WIP, finished.

A rename is METADATA-ONLY: old data files keep the old column name on
disk; reads project them onto the requested schema by stable field id
(Iceberg semantics). Covered here:

- rename-then-read: old files surface under the new name, values intact
- drop-then-read: the column is gone; time travel still shows it
- time travel ACROSS a rename: the pinned snapshot reads its own schema
  (old name), current reads the new name — same values
- drop-then-readd: the re-added name gets a FRESH field id, so old
  files' bytes must NOT leak into it (nulls, not resurrection)
- time travel by tag ACROSS an additive evolution: the tagged snapshot
  reads its own schema, without the added column
- merge after rename: new batches carry the new name; LWW still
  resolves old-file rows against new ones by key

Plus the round-5 ADVICE fix: branch-scoped fences (WAP discard path).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from etlframwork_spark.merge import merge_batch
from etlframwork_spark.table import SnapshotTable

SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("v", LongType()),
        StructField("note", StringType()),
        StructField("lsn", LongType()),
    ]
)
EV_SCHEMA = StructType(SCHEMA.fields + [StructField("op", StringType())])


def _mk(tmp_path, name="t", nb=4):
    return SnapshotTable.create(
        str(tmp_path / name), SCHEMA, key_cols=["k"], order_col="lsn", num_buckets=nb
    )


def _merge(spark, table, rows, epoch, **kw):
    df = spark.createDataFrame(rows, EV_SCHEMA)
    return merge_batch(spark, table, df, job_id="evo", epoch_id=epoch, **kw)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_rename_then_read(spark, tmp_path):
    t = _mk(tmp_path)
    _merge(spark, t, [(f"k{i}", i, f"n{i}", i, "insert") for i in range(20)], 0)
    sid = t.evolve_schema(renames={"v": "value"})
    assert sid == 1 and t.schema().fieldNames()[:4] == ["k", "value", "note", "lsn"]
    got = _rows(t.read(spark).select("k", "value"))
    assert got == {(f"k{i}", i) for i in range(20)}  # old files, new name


def test_drop_then_read_and_time_travel(spark, tmp_path):
    t = _mk(tmp_path)
    _merge(spark, t, [(f"k{i}", i, f"n{i}", i, "insert") for i in range(10)], 0)
    pre = t.snapshot()["snapshot_id"]
    t.evolve_schema(drops=["note"])
    assert "note" not in t.read(spark).columns
    # time travel to the pre-drop snapshot reads its OWN schema
    old = t.read(spark, snapshot_id=pre)
    assert "note" in old.columns
    assert _rows(old.select("k", "note")) == {(f"k{i}", f"n{i}") for i in range(10)}


def test_time_travel_across_rename(spark, tmp_path):
    t = _mk(tmp_path)
    _merge(spark, t, [(f"k{i}", i, None, i, "insert") for i in range(10)], 0)
    pre = t.snapshot()["snapshot_id"]
    t.evolve_schema(renames={"v": "value"})
    assert _rows(t.read(spark, snapshot_id=pre).select("k", "v")) == {
        (f"k{i}", i) for i in range(10)
    }
    assert _rows(t.read(spark).select("k", "value")) == {(f"k{i}", i) for i in range(10)}


def test_drop_then_readd_does_not_resurrect(spark, tmp_path):
    t = _mk(tmp_path)
    _merge(spark, t, [(f"k{i}", i, f"secret{i}", i, "insert") for i in range(10)], 0)
    t.evolve_schema(drops=["note"])
    # additive evolution re-adds a column NAMED note -> fresh field id
    new_schema = StructType(
        [f for f in t.schema().fields] + [StructField("note", StringType())]
    )
    ev2 = StructType(
        [
            StructField("k", StringType()),
            StructField("v", LongType()),
            StructField("lsn", LongType()),
            StructField("note", StringType()),
            StructField("op", StringType()),
        ]
    )
    df = spark.createDataFrame([("k100", 100, 100, "fresh", "insert")], ev2)
    merge_batch(spark, t, df, job_id="evo", epoch_id=1, write_mode="mor")
    t.refresh()
    got = {r["k"]: r["note"] for r in t.read(spark).collect()}
    assert got["k100"] == "fresh"
    # old files' dropped bytes must NOT leak into the re-added column
    assert all(got[f"k{i}"] is None for i in range(10)), got


def test_tag_read_uses_tagged_snapshot_schema(spark, tmp_path):
    """Round-3 ADVICE: a tag resolves to the TAGGED snapshot's schema — a
    tag set before an additive evolution reads back in the old schema (no
    phantom new column) with the rows it pinned."""
    from etlframwork_spark.events import (
        CDC_BASE_SCHEMA,
        CDC_EVOLVED_SCHEMA,
        EventLogSpec,
        TARGET_BASE_SCHEMA,
        _make_events_frame,
    )

    t = SnapshotTable.create(
        str(tmp_path / "tag"), TARGET_BASE_SCHEMA, key_cols=["repo", "path"],
        order_col="lsn", num_buckets=8,
    )
    spec = EventLogSpec(seed=5, n_events=400, n_repos=12, paths_per_repo=6, p_delete=0.12)
    pdf = _make_events_frame(spec).drop(columns=["lang"])
    merge_batch(spark, t, spark.createDataFrame(pdf, schema=CDC_BASE_SCHEMA), job_id="tag", epoch_id=0)
    t.set_tag("pre-evolution")
    before = _rows(t.read(spark))
    # evolve: merge a batch that carries the additive `lang` column
    spec = EventLogSpec(seed=9, n_events=200, n_repos=12, paths_per_repo=6, p_delete=0.1)
    evolved = spark.createDataFrame(_make_events_frame(spec), schema=CDC_EVOLVED_SCHEMA)
    merge_batch(spark, t, evolved, job_id="tag", epoch_id=1)
    assert "lang" in t.schema().fieldNames()
    pinned = t.read(spark, tag="pre-evolution")
    assert "lang" not in pinned.columns  # read under the tagged schema
    assert _rows(pinned) == before and before


def test_rename_protected_columns_rejected(spark, tmp_path):
    t = _mk(tmp_path)
    with pytest.raises(ValueError, match="key/order/engine"):
        t.evolve_schema(renames={"k": "key"})
    with pytest.raises(ValueError, match="key/order/engine"):
        t.evolve_schema(drops=["lsn"])
    with pytest.raises(KeyError, match="nope"):
        t.evolve_schema(renames={"nope": "x"})
    with pytest.raises(ValueError, match="collides"):
        t.evolve_schema(renames={"v": "note"})


def test_branch_fence_dropped_with_branch(spark, tmp_path):
    """ADVICE r4 (medium): a failed audit + drop_branch must NOT leave the
    epoch fence globally committed — re-merging the same epoch against
    main is the WAP discard-and-recompute path."""
    t = _mk(tmp_path)
    rows = [(f"k{i}", i, None, i, "insert") for i in range(10)]
    t.create_branch("audit")
    s = _merge(spark, t, rows, 7, branch="audit")
    assert not s.get("skipped")
    # same epoch on the SAME branch is fenced (idempotent re-delivery)
    assert _merge(spark, t, rows, 7, branch="audit").get("skipped")
    # but main is not poisoned: audit fails, branch dropped, re-merge lands
    t.drop_branch("audit")
    t.refresh()
    s2 = _merge(spark, t, rows, 7)
    assert not s2.get("skipped"), "dropped branch leaked its fence to main"
    assert t.refresh().read(spark).count() == 10


def test_fast_forward_promotes_branch_fences(spark, tmp_path):
    t = _mk(tmp_path)
    rows = [(f"k{i}", i, None, i, "insert") for i in range(10)]
    t.create_branch("wap")
    _merge(spark, t, rows, 3, branch="wap")
    t.fast_forward("wap")
    t.refresh()
    # epoch 3 is published on main: re-delivery anywhere must skip
    assert _merge(spark, t, rows, 3).get("skipped")
    t.create_branch("wap2")
    assert _merge(spark, t, rows, 3, branch="wap2").get("skipped")


def test_sql_literal_rejects_non_finite():
    from etlframwork_spark.sources.jdbc import sql_literal

    assert sql_literal(1.5) == "1.5"
    assert sql_literal(7) == "7"
    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(TypeError, match="non-finite"):
            sql_literal(bad)


# ---------------------------------------------------------- type widening
WIDE_SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("v", IntegerType()),
        StructField("score", FloatType()),
        StructField("lsn", LongType()),
    ]
)
WIDE_EV = StructType(WIDE_SCHEMA.fields + [StructField("op", StringType())])


def _mk_wide(tmp_path, name="tw", nb=4):
    return SnapshotTable.create(
        str(tmp_path / name), WIDE_SCHEMA, key_cols=["k"], order_col="lsn", num_buckets=nb
    )


def _merge_wide(spark, table, rows, epoch, **kw):
    df = spark.createDataFrame(rows, WIDE_EV)
    return merge_batch(spark, table, df, job_id="evo", epoch_id=epoch, **kw)


def test_widen_then_read(spark, tmp_path):
    """int->long / float->double widening is metadata-only: old int32/
    float32 files read back under the widened types with values intact."""
    t = _mk_wide(tmp_path)
    _merge_wide(spark, t, [(f"k{i}", i, i / 2.0, i, "insert") for i in range(20)], 0)
    sid = t.evolve_schema(widen={"v": "long", "score": "double"})
    assert sid == 1
    types = {f.name: f.dataType for f in t.schema().fields}
    assert isinstance(types["v"], LongType)
    assert isinstance(types["score"], DoubleType)
    got = {r["k"]: (r["v"], r["score"]) for r in t.read(spark).collect()}
    assert got == {f"k{i}": (i, i / 2.0) for i in range(20)}
    df = t.read(spark)
    assert dict(df.dtypes)["v"] == "bigint" and dict(df.dtypes)["score"] == "double"


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_merge_after_widen_accepts_wide_values(spark, tmp_path, write_mode):
    """After int->long widening, new batches may carry values beyond
    int32 range; old narrow files and new wide deltas resolve together."""
    t = _mk_wide(tmp_path)
    _merge_wide(spark, t, [(f"k{i}", i, 0.5, i, "insert") for i in range(10)], 0,
                write_mode=write_mode)
    t.evolve_schema(widen={"v": "long"})
    wide_ev = StructType(
        [
            StructField("k", StringType()),
            StructField("v", LongType()),
            StructField("score", FloatType()),
            StructField("lsn", LongType()),
            StructField("op", StringType()),
        ]
    )
    big = 2**40  # does not fit int32
    df = spark.createDataFrame(
        [(f"k{i}", big + i, 1.5, 100 + i, "insert") for i in range(5, 15)], wide_ev
    )
    merge_batch(spark, t, df, job_id="evo", epoch_id=1, write_mode=write_mode)
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert len(got) == 15
    for i in range(5):
        assert got[f"k{i}"] == i
    for i in range(5, 15):
        assert got[f"k{i}"] == big + i


def test_time_travel_across_widen(spark, tmp_path):
    """A pinned pre-widen snapshot reads its OWN (narrow) schema."""
    t = _mk_wide(tmp_path)
    _merge_wide(spark, t, [(f"k{i}", i, 1.0, i, "insert") for i in range(10)], 0)
    pre = t.snapshot()["snapshot_id"]
    t.evolve_schema(widen={"v": "long"})
    old = t.read(spark, snapshot_id=pre)
    assert dict(old.dtypes)["v"] == "int"
    assert dict(t.read(spark).dtypes)["v"] == "bigint"
    assert {r["k"]: r["v"] for r in old.collect()} == {f"k{i}": i for i in range(10)}


def test_unsafe_widen_rejected(spark, tmp_path):
    t = _mk_wide(tmp_path)
    with pytest.raises(ValueError, match="not a safe"):
        t.evolve_schema(widen={"v": "short"})  # narrowing
    with pytest.raises(ValueError, match="key/order/engine"):
        t.evolve_schema(widen={"k": "long"})  # key col: would re-bucket
    with pytest.raises(ValueError, match="key/order/engine"):
        t.evolve_schema(widen={"lsn": "double"})  # protected order col
    with pytest.raises(ValueError, match="not a safe"):
        t.evolve_schema(widen={"score": "string"})  # cross-kind
    with pytest.raises(ValueError, match="both widened and dropped"):
        t.evolve_schema(drops=["v"], widen={"v": "long"})
    with pytest.raises(KeyError, match="nope"):
        t.evolve_schema(widen={"nope": "long"})
    with pytest.raises(ValueError, match="unsupported type"):
        t.evolve_schema(widen={"v": "decimal(38,0)"})


def test_widen_combined_with_rename(spark, tmp_path):
    """widen + rename in ONE evolution: widen keys on the CURRENT name."""
    t = _mk_wide(tmp_path)
    _merge_wide(spark, t, [(f"k{i}", i, 1.0, i, "insert") for i in range(10)], 0)
    t.evolve_schema(renames={"v": "value"}, widen={"v": "long"})
    df = t.read(spark)
    assert "value" in df.columns and dict(df.dtypes)["value"] == "bigint"
    assert {r["k"]: r["value"] for r in df.collect()} == {f"k{i}": i for i in range(10)}


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_merge_after_rename_keeps_old_file_values(spark, tmp_path, write_mode):
    """Round-5 regression pin: a merge AFTER evolve_schema(renames=) must
    read the pre-rename stored files by FIELD ID, not by name. The cow
    path used to pass an explicit StructType into table.read(), which
    silently disabled the field-id projection and nulled the renamed
    column for every key whose winner predated the rename (caught by the
    cdc_rename_evolution_state driver oracle)."""
    t = _mk(tmp_path)
    # epoch 0 under the original name `v`; keys k0..k19, values 100+i
    _merge(
        spark, t,
        [(f"k{i}", 100 + i, f"n{i}", i, "insert") for i in range(20)],
        0, write_mode=write_mode,
    )
    t.evolve_schema(renames={"v": "value"})
    # epoch 1 under the NEW name touches only k15..k24 with higher lsns
    new_schema = StructType(
        [
            StructField("k", StringType()),
            StructField("value", LongType()),
            StructField("note", StringType()),
            StructField("lsn", LongType()),
            StructField("op", StringType()),
        ]
    )
    df = spark.createDataFrame(
        [(f"k{i}", 200 + i, f"m{i}", 100 + i, "insert") for i in range(15, 25)],
        new_schema,
    )
    merge_batch(spark, t, df, job_id="evo", epoch_id=1, write_mode=write_mode)
    got = {r["k"]: (r["value"], r["lsn"]) for r in t.read(spark).collect()}
    assert len(got) == 25
    for i in range(15):  # untouched pre-rename keys keep their old values
        assert got[f"k{i}"] == (100 + i, i), (i, got[f"k{i}"])
    for i in range(15, 25):  # epoch-1 winners
        assert got[f"k{i}"] == (200 + i, 100 + i), (i, got[f"k{i}"])


def test_evolve_schema_rejects_nested_paths(tmp_path):
    """Field ids are per TOP-LEVEL column; a dotted path must be rejected
    loudly, not fall through to a generic missing-column error (round-6
    verdict #6)."""
    import pytest as _pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etlframwork_spark.table import SnapshotTable

    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("v", LongType()),
            StructField("lsn", LongType()),
        ]
    )
    t = SnapshotTable.create(
        str(tmp_path / "t"), schema, key_cols=["k"], order_col="lsn", num_buckets=2
    )
    for kwargs in (
        {"renames": {"payload.inner": "x"}},
        {"renames": {"v": "payload.inner"}},
        {"drops": ["payload.inner"]},
        {"widen": {"payload.inner": "long"}},
    ):
        with _pytest.raises(ValueError, match="TOP-LEVEL columns only"):
            t.evolve_schema(**kwargs)
