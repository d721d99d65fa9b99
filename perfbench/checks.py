"""Correctness check of one query leg against its DuckDB twin."""

from __future__ import annotations

import math
import os

import duckdb
import pyarrow.parquet as pq

from etlframwork_spark.operators import ORACLES

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def _oracle(cache: str, name: str, sf_dir: str):
    """DuckDB's answer for ``name`` over ``sf_dir``. The inputs are fixed,
    so it is computed once per checkout and kept beside them."""
    path = os.path.join(cache, "oracle", os.path.basename(sf_dir), f"{name}.parquet")
    if os.path.exists(path):
        return pq.read_table(path)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        want = con.sql(ORACLES[name]).fetch_arrow_table()
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(want, path + ".partial")
    os.rename(path + ".partial", path)
    return want


def warm_oracles(cache: str, names, sf_dir: str) -> None:
    """Compute and keep DuckDB's answers for every leg in ``names`` that
    has a twin, ahead of any timed run."""
    for name in names:
        if name in ORACLES:
            _oracle(cache, name, sf_dir)


def _key(v):
    """Sort key for one value: None first, floats to 9 significant digits."""
    if v is None:
        return (0,)
    if isinstance(v, float):
        return (1, "nan") if math.isnan(v) else (2, float(f"{v:.9g}"))
    if isinstance(v, list):
        return (3, tuple(_key(x) for x in v))
    return (4, str(v))


def _same(a, b) -> bool:
    """Equal values; floats within 1e-9 relative (the two engines may sum
    in different orders), NaN equal to NaN."""
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def check_leg(cache: str, name: str, got, sf_dir: str) -> bool:
    """``got``, a leg's result over ``sf_dir``, has the column names, the
    row count and the multiset of rows of ``oracle_sql()[name]`` run by
    DuckDB over the same parquet files. A leg without a twin must return
    rows."""
    if name not in ORACLES:
        return got.num_rows > 0
    want = _oracle(cache, name, sf_dir)
    cols = sorted(got.column_names)
    if cols != sorted(want.column_names) or got.num_rows != want.num_rows:
        return False
    rows = [
        sorted((tuple(r[c] for c in cols) for r in t.to_pylist()),
               key=lambda row: tuple(_key(v) for v in row))
        for t in (got, want)
    ]
    return all(
        all(_same(x, y) for x, y in zip(a, b)) for a, b in zip(*rows)
    )
