"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload incremental_rounds --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout, in one JVM: a cold start, one untimed
warm-up pass, then timed passes for ``--seconds``. ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` alternates untraced and traced
passes and prints the per-layer metrics plus the tracing overhead. ``--smoke`` runs every
workload in both modes at tiny sizes and checks that every metric in
``BENCHMARK.json`` is printed with its unit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402  the frozen headline bench: host probe, legs, resolver
from bench import HEADLINE  # noqa: E402

END_TO_END = {"setup_s": "s", "pass_s": "s"}

# the workload-level figures the issue tracker names claims by; from the
# untraced passes
WORKLOAD_FIGURES = {
    "round_s_p50": "s",
    "round_s_p90": "s",
    "point_read_s_p50": "s",
    "point_read_s_p90": "s",
    "scan_read_s_p50": "s",
    "sync_s_p50": "s",
    "space_amp": "ratio",
    "query_suite_s": "s",
    "op_fail_ratio": "ratio",
}

LAYERS = {
    "streaming.epochs": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.plan_ms_p50": "ms",
    "streaming.start_stop_s": "s",
    "merge.write_s": "s",
    "merge.epoch_other_s": "s",
    "merge.jobs_per_epoch": "count",
    "merge.tasks_per_epoch": "count",
    "merge.task_cpu_s": "s",
    "merge.shuffle_write_bytes_per_event": "B/event",
    "merge.output_bytes_per_event": "B/event",
    "merge.cores_busy_ratio": "ratio",
    "merge.rows_written_per_event": "rows/event",
    "merge.delete_where_s": "s",
    "table.commit_ms_p50": "ms",
    "table.scan_files_ms": "ms",
    "table.point_read_files": "count",
    "table.delta_files_max": "count",
    "table.metadata_bytes": "B",
    "table.data_bytes": "B",
    "maintenance.compact_s": "s",
    "maintenance.delta_files_folded": "count",
    "maintenance.purge_s": "s",
    "maintenance.tombstones_purged": "count",
    "changes.sync_s": "s",
    "changes.rows_per_event_landed": "rows/event",
    "lineage.metrics_files": "count",
    **{f"query.{leg}_s": "s" for leg in HEADLINE},
    **{
        f"{mod}{suffix}": unit
        for mod in ("operators.relational", "functions.dedup", "functions.similarity",
                    "functions.multimodal", "functions.text")
        for suffix, unit in (("_s", "s"), ("_tasks", "count"), ("_task_cpu_s", "s"),
                             ("_shuffle_bytes", "B"))
    },
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
}
PER_LAYER = {**LAYERS, **WORKLOAD_FIGURES}

def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _p90(values) -> float:
    s = sorted(values)
    return float(s[min(len(s) - 1, int(0.9 * len(s)))]) if s else 0.0


def _session(work: str, cores: int):
    from etlframwork_spark.session import build_session

    # only scratch locations differ from the engine defaults: every file
    # Spark or its Python workers write stays inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return build_session(
        master=f"local[{cores}]",
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _workload_figures(name: str, passes: list[dict], wl) -> dict:
    get = lambda k: [p[k] for p in passes if k in p]  # noqa: E731
    out = {k: 0.0 for k in WORKLOAD_FIGURES}
    out["op_fail_ratio"] = wl.failed / max(wl.attempted, 1)
    out["space_amp"] = getattr(wl, "space_amp", 0.0)
    if name == "incremental_rounds":
        reads = [r for p in passes for r in p["reads"]]
        out["round_s_p50"] = _median(get("round_s"))
        out["round_s_p90"] = _p90(get("round_s"))
        out["point_read_s_p50"] = _median(reads)
        out["point_read_s_p90"] = _p90(reads)
        out["scan_read_s_p50"] = _median(get("scan_read_s"))
        out["sync_s_p50"] = _median(get("sync_s"))
    else:
        out["query_suite_s"] = _pass_s(name, passes)
    return out


def _pass_s(name: str, passes: list[dict]) -> float:
    if name == "query_suite":
        # per-leg medians, summed: one slow leg in one pass moves only its own term
        return sum(_median(p[f"query.{leg}_s"] for p in passes) for leg in HEADLINE)
    return _median(p["pass_s"] for p in passes)


def _start(work: str, cores: int):
    """A cold start: launch the JVM, build the session, run one small job."""
    t0 = time.perf_counter()
    spark = _session(work, cores)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def run(args) -> dict:
    from perfbench.trace import Tracer, write_spans
    from perfbench.workloads import TINY, WORKLOADS, Sizes, shared_inputs

    cores = os.cpu_count() or 1
    cache = os.path.join(ROOT, ".bench_cache")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    spark = None
    try:
        sha_before = bench._sha_control()
        shared_inputs(cache)
        wl = WORKLOADS[args.workload](cache, work, args.seed, TINY if args.tiny else Sizes(), cores)
        wl.prepare()
        run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        spark, start_s = _start(work, cores)
        tracer = Tracer(spark, run_id)
        setups: list[float] = []

        def one_pass(traced: bool) -> dict:
            # every pass starts from the same state, built anew by setup
            t0 = time.perf_counter()
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)
            tracer.enable(traced)
            gc0 = tracer.store.gc_seconds() if traced else 0.0
            p = wl.run_pass(spark, tracer)
            if traced:
                p["jvm.gc_s"] = tracer.store.gc_seconds() - gc0
                p["jvm.peak_rss_mb"] = tracer.store.peak_rss_mb()
            tracer.enable(False)
            return p

        # the first pass compiles every plan and starts the Python workers
        # in this JVM; it is not timed into pass_s
        warmup_s = one_pass(False)["pass_s"]
        # timed passes until --seconds of wall time have gone by; traced
        # runs alternate untraced and traced passes in the same JVM
        plain, traced = [], []
        t_loop = time.perf_counter()
        while (time.perf_counter() - t_loop < args.seconds or not plain
               or (args.trace and not traced)):
            on = bool(args.trace) and len(traced) < len(plain)
            (traced if on else plain).append(one_pass(on))
        loop_s = time.perf_counter() - t_loop
        wl.check(spark)
        _stop_jvm(spark)
        spark = None
        detail = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "traced": bool(args.trace), "passes": len(plain), "traced_passes": len(traced),
            "loop_s": loop_s, "cold_start_s": start_s, "state_setups_s": setups,
            "warmup_pass_s": warmup_s, "pass_s": [p["pass_s"] for p in plain],
            "reads": sum(len(p.get("reads", [])) for p in plain),
            "host_probe": {"sha_before_s": sha_before, "sha_after_s": bench._sha_control()},
            **_workload_figures(args.workload, plain, wl),
        }
        print(json.dumps(detail), flush=True)
        if args.trace:
            ref = _pass_s(args.workload, plain)
            metrics = {k: _median(p[k] for p in traced if k in p) for k in LAYERS}
            metrics["trace.overhead_s"] = _pass_s(args.workload, traced) - ref
            metrics["trace.overhead_ratio"] = metrics["trace.overhead_s"] / ref
            metrics.update({k: detail[k] for k in WORKLOAD_FIGURES})
            write_spans(os.path.join(ROOT, ".bench_out", f"spans-{run_id}.jsonl"), tracer.spans)
            units = PER_LAYER
        else:
            metrics = {
                # what a user waits for before the first call: the later
                # setups run warm and would hide the first ingest's cost
                "setup_s": start_s + setups[0],
                "pass_s": _pass_s(args.workload, plain),
            }
            units = END_TO_END
        return {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


def smoke() -> None:
    """Every workload in BENCHMARK.json, both modes, tiny sizes: each
    metric it names must be printed with the unit it declares, and the
    outputs must check correct."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[key]}
        for w in spec["workloads"]:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"]
            res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if res.returncode != 0:
                raise SystemExit(f"{w['name']} trace={trace} exited {res.returncode}:\n"
                                 f"{res.stderr[-3000:]}")
            out = json.loads(res.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want or not out["correct"]:
                raise SystemExit(f"{w['name']} trace={trace}: correct={out['correct']} "
                                 f"missing={set(want) - set(got)} extra={set(got) - set(want)} "
                                 f"units={ {k: (got[k], u) for k, u in want.items() if got.get(k) != u} }")
            print(f"ok {w['name']} trace={trace}: {len(got)} metrics", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["incremental_rounds", "query_suite"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny input sizes (smoke runs)")
    ap.add_argument("--smoke", action="store_true", help="smoke-test every workload and mode")
    args = ap.parse_args()
    if args.smoke:
        smoke()
        return
    if args.workload is None:
        ap.error("--workload is required")
    print(json.dumps(run(args)), flush=True)


if __name__ == "__main__":
    main()
