"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload query_suite --seeds 1 2 3 4 5

Runs ``perfbench/run.py`` once per seed (untraced, ``run_seconds`` from
BENCHMARK.json), then prints per metric the median over the runs and the
distance between the first and third quartile as a share of the median,
beside a third of the metric's bound. Raw results go to
``.bench_out/spread-<workload>.jsonl`` with each run's wall time, tagged
with a digest of the benchmark's code (``perfbench/*.py`` and
``BENCHMARK.json``) so runs of different revisions are never pooled.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def code_digest() -> str:
    h = hashlib.sha256()
    here = os.path.dirname(os.path.abspath(__file__))
    files = sorted(os.path.join(here, f) for f in os.listdir(here) if f.endswith(".py"))
    for path in files + [os.path.join(ROOT, "BENCHMARK.json")]:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out_path = os.path.join(ROOT, ".bench_out", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    code = code_digest()
    print(f"benchmark code {code}", flush=True)
    runs = []
    for seed in args.seeds:
        cmd = [sys.executable, os.path.join(ROOT, *spec["command"][1:]), "--workload",
               args.workload, "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
               "--trace", "0"]
        t0 = time.perf_counter()
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall_s = time.perf_counter() - t0
        lines = res.stdout.strip().splitlines()
        if res.returncode != 0 or not lines:
            raise SystemExit(f"seed {seed} exited {res.returncode}:\n{res.stderr[-3000:]}")
        result = json.loads(lines[-1])
        detail = json.loads(lines[-2]) if len(lines) > 1 else {}
        runs.append(result)
        with open(out_path, "a") as f:
            f.write(json.dumps({"code": code, "seed": seed, "wall_s": wall_s, "result": result,
                                "detail": detail}) + "\n")
        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: correct={result['correct']} {vals} wall {wall_s:.1f} s", flush=True)
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        print(f"{m['name']}: median {med:.4f} {m['unit']}, spread {(q3 - q1) / med:.3f} "
              f"(a third of the bound: {m['bound'] / 3:.3f})")


if __name__ == "__main__":
    main()
