"""Bench: merge-on-read READ path, bucket-local vs global resolve.

Round-1 review's #1 scale gap: `table.read` resolved deltas with a
global groupBy over base+deltas — a full-table shuffle on every read
while ANY delta exists. The fix (the clean/dirty split in table.py
`SnapshotTable.scan_files`) resolves per-bucket: only delta-carrying
buckets pay the group-by; clean buckets union in exchange-free. This
script measures both paths on the same table (the "global" baseline
reproduces the round-1 plan verbatim) so BENCH/BASELINE.md can carry
the read-after-N-mor-epochs number.

    python scripts/bench_mor_read.py [--rows 2000000] [--buckets 32] [--dirty 2]
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
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--dirty", type=int, default=2, help="buckets receiving mor deltas")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--repeat", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from etlframwork_spark.events import CDC_BASE_SCHEMA, TARGET_BASE_SCHEMA
    from etlframwork_spark.merge import merge_batch
    from etlframwork_spark.session import build_session
    from etlframwork_spark.table import SnapshotTable, TOMBSTONE_COL, bucket_expr, lww_resolve

    from etlframwork_spark.lineage import shuffle_totals

    spark = build_session(
        master=f"local[{args.cpus}]", app_name="mor-read-bench",
        extra_conf={"spark.ui.enabled": "true"},
    )
    work = tempfile.mkdtemp(prefix="mor_read_bench_")
    try:
        table = SnapshotTable.create(
            os.path.join(work, "t"), TARGET_BASE_SCHEMA,
            key_cols=["repo", "path"], order_col="lsn", num_buckets=args.buckets,
        )
        # base state: args.rows keys via one cow epoch (synthesized in Spark,
        # deterministic, ~200B contents)
        base = (
            spark.range(args.rows)
            .select(
                F.lit("insert").alias("op"),
                F.col("id").alias("lsn"),
                F.concat(F.lit("repo-"), (F.col("id") % 997).cast("string")).alias("repo"),
                F.concat(F.lit("src/f"), F.col("id").cast("string"), F.lit(".py")).alias("path"),
                F.concat(F.lit("c"), F.col("id").cast("string")).alias("commit"),
                F.concat(F.lit("content-"), F.col("id").cast("string"), F.lit("-" + "x" * 180)).alias("content"),
            )
        )
        merge_batch(spark, table, base, epoch_id=0, write_mode="cow")
        # mor deltas confined to --dirty buckets: update keys whose bucket < dirty
        upd = base.withColumn("_b", bucket_expr(["repo", "path"], args.buckets)).filter(
            F.col("_b") < args.dirty
        ).drop("_b").withColumn("lsn", F.col("lsn") + args.rows).withColumn(
            "content", F.concat(F.lit("v2-"), F.col("content"))
        )
        merge_batch(spark, table, upd, epoch_id=1, write_mode="mor")
        table.refresh()
        dirty = sorted(table.delta_file_counts())
        assert len(dirty) == args.dirty, dirty

        def timed(df):
            # Shuffle bytes are captured from the SAME iteration that set
            # the min time, and "UI unavailable" stays None instead of a
            # silent 0 (round-2 advice: the published byte ratio must not
            # mix iterations or conflate 0 with unmeasured).
            best, best_sh = None, None
            for _ in range(args.repeat):
                s0 = shuffle_totals(spark)
                t0 = time.monotonic()
                df().write.format("noop").mode("overwrite").save()
                dt = time.monotonic() - t0
                s1 = shuffle_totals(spark)
                sh = (
                    s1["shuffle_write_bytes"] - s0["shuffle_write_bytes"]
                    if s0 is not None and s1 is not None
                    else None
                )
                if best is None or dt < best:
                    best, best_sh = dt, sh
            return round(best, 3), best_sh

        # bucket-local (current) read path
        local_s, local_sh = timed(lambda: table.read(spark))

        # round-1 global-resolve baseline: LWW groupBy over EVERYTHING
        def global_read():
            schema = table.schema()
            df = spark.read.schema(schema).parquet(*table.files_for())
            df = lww_resolve(df, table.key_cols, schema.fieldNames(), table.order_col)
            return df.filter(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))).drop(TOMBSTONE_COL)

        global_s, global_sh = timed(global_read)

        # sanity: same row count either way
        n_local = table.read(spark).count()
        n_global = global_read().count()
        assert n_local == n_global, (n_local, n_global)

        print(
            json.dumps(
                {
                    "rows": args.rows,
                    "buckets": args.buckets,
                    "dirty_buckets": args.dirty,
                    "cpus": args.cpus,
                    "read_bucket_local_sec": local_s,
                    "read_global_resolve_sec": global_s,
                    "speedup": round(global_s / local_s, 2),
                    "read_bucket_local_shuffle_bytes": local_sh,
                    "read_global_resolve_shuffle_bytes": global_sh,
                    "shuffle_bytes_ratio": (
                        round(global_sh / local_sh, 1)
                        if local_sh is not None and global_sh is not None and local_sh > 0
                        else "ui_unavailable" if local_sh is None else None
                    ),
                    "result_rows": n_local,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
