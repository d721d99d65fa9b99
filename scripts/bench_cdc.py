"""Single CDC replay throughput run at a fixed parallelism (one JVM).

Used by bench_scaling.py via subprocess so each parallelism level gets a
fresh JVM (no heap/codegen carry-over between measurements).

    python scripts/bench_cdc.py --cpus 8 --events 2000000

Prints one JSON line with events/sec and the final-state row count +
content-digest checksum (so both levels can be asserted identical).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--hot-ratio", type=float, default=0.2)
    ap.add_argument("--num-buckets", type=int, default=64)
    ap.add_argument("--files", type=int, default=32)
    ap.add_argument("--files-per-trigger", type=int, default=16)
    ap.add_argument("--content-repeat", type=int, default=30)
    ap.add_argument("--master", default=None, help="override master (e.g. local-cluster[2,4,6144] for multi-executor)")
    ap.add_argument("--write-mode", default="cow", choices=["cow", "mor"])
    ap.add_argument("--compact-min-deltas", type=int, default=None)
    ap.add_argument("--codec", default=None, help="spark.io.compression.codec override (lz4/zstd)")
    args = ap.parse_args()

    from etlframwork_spark.events import EventLogSpec, generate_event_log
    from etlframwork_spark.session import build_session
    from etlframwork_spark.streaming import IngestJob, run_ingest

    spec = EventLogSpec(
        seed=42, n_events=args.events, n_repos=max(200, args.events // 500),
        paths_per_repo=40, hot_ratio=args.hot_ratio, p_delete=0.05,
        n_files=args.files, content_repeat=args.content_repeat,
    )
    cache = os.path.join(
        tempfile.gettempdir(), f"cdc_bench_log_{spec.seed}_{args.events}_{args.files}_{args.hot_ratio}_{args.content_repeat}"
    )
    if not os.path.isdir(cache) or not os.listdir(cache):
        generate_event_log(cache, spec)

    master = args.master or f"local[{args.cpus}]"
    # UI on: the REST endpoint is how merge_batch attributes shuffle
    # read/write bytes to each epoch (lineage.shuffle_totals)
    extra = {"spark.ui.enabled": "true"}
    if master.startswith("local-cluster"):
        # executors are separate JVMs: give each a real heap
        extra["spark.executor.memory"] = "6g"
        os.environ.setdefault("SPARK_HOME", "/opt/spark")
    if args.codec:
        extra["spark.io.compression.codec"] = args.codec
    spark = build_session(master=master, app_name=f"cdc-bench-{args.cpus}",
                          shuffle_partitions=4 * args.cpus, extra_conf=extra)
    work = tempfile.mkdtemp(prefix=f"cdc_scale_{args.cpus}_")
    try:
        # Warm the EXACT pipeline (JIT-compile the codegen'd merge stages +
        # parquet/zstd codecs) on a small throwaway ingest before timing —
        # cold C2 compilation otherwise dominates short runs and masks
        # scaling entirely.
        warm_spec = EventLogSpec(seed=7, n_events=50_000, n_repos=100, paths_per_repo=20,
                                 n_files=args.cpus, content_repeat=args.content_repeat)
        warm_dir = os.path.join(work, "warm_events")
        generate_event_log(warm_dir, warm_spec)
        run_ingest(
            spark,
            IngestJob(
                job_id="warmup",
                events_dir=warm_dir,
                table_root=os.path.join(work, "warm_table"),
                checkpoint_dir=os.path.join(work, "warm_ckpt"),
                num_buckets=args.num_buckets,
                max_files_per_trigger=args.cpus // 2,
                write_mode=args.write_mode,
            ),
        )
        job = IngestJob(
            job_id="scale-bench",
            events_dir=cache,
            table_root=os.path.join(work, "table"),
            checkpoint_dir=os.path.join(work, "ckpt"),
            metrics_dir=os.path.join(work, "metrics"),
            num_buckets=args.num_buckets,
            max_files_per_trigger=args.files_per_trigger,
            write_mode=args.write_mode,
            compact_min_deltas=args.compact_min_deltas,
        )
        wall_start = time.time()
        t0 = time.monotonic()
        table = run_ingest(spark, job)
        secs = time.monotonic() - t0
        wall_end = time.time()
        final = table.read(spark)
        from pyspark.sql import functions as F

        chk = final.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.crc32(F.col("content_sha256"))).alias("digest"),
        ).first()
        # steady-state throughput: per-epoch metrics, excluding the first
        # epoch (JIT/page-cache warm-up) — the regime that matters for a
        # 10^10-event replay where warm-up is a rounding error.
        em = spark.read.parquet(os.path.join(work, "metrics", "epochs")).collect()
        eps = sorted((r["epoch_id"], r["events"], r["seconds"]) for r in em)
        steady = eps[1:] if len(eps) > 1 else eps
        s_events = sum(e for _i, e, _s in steady)
        s_secs = sum(s for _i, _e, s in steady)
        sh_read = sum(r["shuffle_read_bytes"] or 0 for r in em)
        sh_write = sum(r["shuffle_write_bytes"] or 0 for r in em)
        io_in = sum(r["input_bytes"] or 0 for r in em)
        io_out = sum(r["output_bytes"] or 0 for r in em)
        print(
            json.dumps(
                {
                    "cpus": args.cpus,
                    "events": args.events,
                    "seconds": round(secs, 3),
                    "wall_start_ts": round(wall_start, 3),
                    "wall_end_ts": round(wall_end, 3),
                    "events_per_sec": round(args.events / secs, 1),
                    "steady_events_per_sec": round(s_events / s_secs, 1) if s_secs else None,
                    "steady_epochs": len(steady),
                    "epoch_seconds": [round(s, 2) for _i, _e, s in eps],
                    "write_mode": args.write_mode,
                    "shuffle_read_bytes": sh_read,
                    "shuffle_write_bytes": sh_write,
                    "shuffle_write_bytes_per_event": round(sh_write / args.events, 1),
                    "input_bytes_per_event": round(io_in / args.events, 1),
                    "output_bytes_per_event": round(io_out / args.events, 1),
                    "epoch_shuffle_write_bytes": [r["shuffle_write_bytes"] for r in sorted(em, key=lambda r: r["epoch_id"])],
                    "final_rows": chk["rows"],
                    "state_digest": int(chk["digest"]),
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
