"""Seeded, cached inputs for the benchmark workloads.

Everything is derived from the workload seed and written under
``.bench_cache/`` in the checkout; a later run with the same seed and
sizes reuses it. Generation is never timed.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from etlframwork_spark.events import EventLogSpec, generate_event_log


def _cached_dir(cache: str, name: str, build) -> str:
    """Build ``cache/name`` once: generate into a scratch dir, then rename
    it into place so an interrupted generation never looks complete."""
    out = os.path.join(cache, name)
    if os.path.isdir(out):
        return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, out)
    return out


def round_segments(cache: str, seed: int, seg_events: int, n_segments: int) -> list[str]:
    """Equal-sized, arrival-ordered segments of one log; the caller lands
    a prefix as the seed table and the rest one per round."""
    spec = EventLogSpec(
        seed=seed,
        n_events=seg_events * n_segments,
        n_repos=250,
        paths_per_repo=40,
        hot_ratio=0.2,
        p_delete=0.05,
        n_files=n_segments,
        content_repeat=2,
    )
    d = _cached_dir(
        cache,
        f"rounds-s{seed}-e{seg_events}-f{n_segments}",
        lambda d: generate_event_log(d, spec),
    )
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def segment_min_lsn(path: str) -> int:
    return int(pq.read_table(path, columns=["lsn"]).column("lsn").to_numpy().min())


def _load_gen_sf():
    """``scripts/gen_sf.py`` as a module (``scripts`` is not a package)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(root, "scripts", "gen_sf.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_dims(out_dir: str) -> None:
    """region + nation, the two fixed TPC-H dimensions gen_sf copies."""
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    pq.write_table(
        pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": names}),
        os.path.join(out_dir, "region.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        os.path.join(out_dir, "nation.parquet"),
    )


def star_schema(cache: str) -> str:
    """The sf0.1-shaped star schema (region, nation, customer, supplier,
    part, orders, lineitem, events, documents, embeddings) from
    ``scripts/gen_sf.py`` at multiplier 1. gen_sf draws from its own fixed
    seed, so this input is the same for every workload seed."""

    def build(d: str) -> None:
        dims = os.path.join(d, "_dims")
        os.makedirs(dims)
        _write_dims(dims)
        gen_sf = _load_gen_sf()
        gen_sf.SRC = dims
        argv = sys.argv
        sys.argv = ["gen_sf.py", d, "1"]
        try:
            with contextlib.redirect_stdout(sys.stderr):
                gen_sf.main()
        finally:
            sys.argv = argv
        shutil.rmtree(dims)

    return _cached_dir(cache, "sf0.1", build)


def small_star(cache: str, sf_dir: str, frac: float = 0.1) -> str:
    """``sf_dir`` cut to the first ``frac`` of every table's rows (region
    and nation whole): sf0.01-sized, so every DuckDB twin, the quadratic
    dedup ones included, answers in seconds."""

    def build(d: str) -> None:
        for f in os.listdir(sf_dir):
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(sf_dir, f))
            if f not in ("region.parquet", "nation.parquet"):
                t = t.slice(0, max(1, int(t.num_rows * frac)))
            pq.write_table(t, os.path.join(d, f))

    return _cached_dir(cache, f"{os.path.basename(sf_dir)}-x{frac}", build)
