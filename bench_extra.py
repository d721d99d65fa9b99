"""Extra (non-driver) measurement harness for optimization round 7.

The driver's bench.py is FROZEN; this file exists so optimization work can
be measured with noop-sink isolation per query (guide §1.4) and labeled
jobs (guide §1.5) without touching the frozen harness.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py q1 q2 ...
    (no args = the full headline list; each query timed min-of-2 like
    bench.py, plus a .explain("formatted") dump under plans/r07/.)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE, _resolve_query  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    names = sys.argv[1:] or HEADLINE
    dump_plans = os.environ.get("DUMP_PLANS", "")
    repeats = int(os.environ.get("BENCH_EXTRA_REPEATS", "2"))
    from etlframwork_spark.session import build_session

    extra = {}
    if os.path.isdir("/dev/shm"):
        os.makedirs("/dev/shm/spark-local", exist_ok=True)
        extra["spark.local.dir"] = "/dev/shm/spark-local"
    spark = build_session(app_name="etlframwork-bench-extra", extra_conf=extra)
    try:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        out: dict[str, float] = {}
        for name in names:
            fn = _resolve_query(name)
            if dump_plans:
                df = fn(spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(os.path.join("plans", "r07", f"{name}_{dump_plans}.txt"), "w") as fh:
                    fh.write(plan)
            samples = []
            for _ in range(repeats):
                spark.sparkContext.setJobDescription(name)
                t0 = time.monotonic()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples.append(round(time.monotonic() - t0, 3))
                spark.sparkContext.setJobDescription(None)
            if samples:
                out[name] = min(samples)
                print(f"## {name}: {min(samples)} {samples}", file=sys.stderr)
        print(json.dumps({"sf_dir": sf_dir, "queries": out, "total": round(sum(out.values()), 3)}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
