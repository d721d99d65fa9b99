"""Typed parquet sources for the driver testdata (SURVEY.md §2.1 S1).

Explicit schemas everywhere — never schema inference on the hot path
(SURVEY §1.3). Matches the footers documented in FIXTURES.md §A; an
explicit schema keeps the scan vectorized, enables filter pushdown and
column pruning, and catches upstream drift loudly.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _s(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


TABLE_SCHEMAS: dict[str, StructType] = {
    "region": _s(("r_regionkey", IntegerType()), ("r_name", StringType())),
    "nation": _s(
        ("n_nationkey", IntegerType()), ("n_name", StringType()), ("n_regionkey", IntegerType())
    ),
    "customer": _s(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "supplier": _s(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "part": _s(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _s(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _s(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampType()),
    ),
    "events": _s(
        ("event_id", LongType()),
        ("ts", TimestampType()),
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),
    ),
    "documents": _s(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
    "embeddings": _s(
        ("vec_id", LongType()),
        ("embedding", ArrayType(FloatType())),
        ("label", IntegerType()),
    ),
}


# Scan-spread floor for compute-dense map stages (round 7): Spark packs
# small files into splits of at least spark.sql.files.openCostInBytes
# (4 MB), so a few-MB corpus plans ceil(bytes/4MB) scan tasks — a 6 MB
# documents/embeddings table runs its per-row minhash/dot-product work on
# 2 of 32 cores. Callers whose per-row compute dwarfs the scan pass
# ``spread=True``: if the planned split count is below the cluster
# parallelism, one round-robin repartition of the (tiny) input fans the
# compute out. Scale-adaptive by construction — at real corpus sizes
# ceil(bytes/4MB) >= cores and the repartition is a no-op branch.
_SPREAD_MIN_BYTES = 1 << 20
_SPLIT_FLOOR_BYTES = 4 << 20  # mirrors spark.sql.files.openCostInBytes


def scan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of a file scan: the bytes of the files it
    lists, on any filesystem Spark reads, with no extra listing. Take it
    on the bare scan — a ``select`` scales the estimate by row width."""
    return int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    spread: bool = False,
    spread_min_bytes: int = _SPREAD_MIN_BYTES,
) -> DataFrame:
    """Explicit-schema parquet scan of one driver testdata table.

    ``spread=True``: fan a small scan out to the full parallelism for
    compute-dense downstream map work (see note above). Results are
    partitioning-independent everywhere this is used; the driver's
    sf0.01 correctness inputs sit below the 1 MB floor, so oracle plans
    are untouched. ``spread_min_bytes`` raises the engage floor for
    callers whose per-row work only dominates at larger inputs (the
    rollup Expand measured a net LOSS from the extra exchange below
    ~8 MB but a 25% win at 25 MB)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)
    if spread:
        size = scan_bytes(df)
        par = spark.sparkContext.defaultParallelism
        if size >= spread_min_bytes and math.ceil(size / _SPLIT_FLOOR_BYTES) < par:
            df = df.repartition(par)
    return df
