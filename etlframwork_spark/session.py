"""SparkSession factory with the engine's tuned configuration.

Scale posture (SURVEY.md §4): AQE on (skew-join split + partition
coalescing), Arrow on (all Python transforms are vectorized), shuffle
partitions sized ~4x cores and then coalesced down by AQE. On a real
cluster the same builder is used via ``spark-submit --py-files`` (main.py);
in this sandbox ``local[N]`` stands in for N executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    master: str | None = None,
    app_name: str = "etlframwork-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the driver's bench harness controls parallelism.
    """
    # Cap native BLAS/OpenMP pools at one thread per Python worker (round
    # 7, guide §4): Spark already supplies one worker per core, and
    # numpy's default pool-per-process x N workers oversubscribes the
    # host with ~cores^2 spinning threads (measured: the mapInArrow
    # cosine stage ran 3x slower purely from OpenBLAS spin-wait). Set
    # BEFORE the JVM starts so the worker daemon inherits it; setdefault
    # keeps any explicit operator override. Scale-independent: the same
    # one-BLAS-thread-per-task posture is correct on any executor size.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    # heuristics: 4x parallelism, AQE coalesces down at runtime
    if shuffle_partitions is None:
        try:
            n = int(master.split("[", 1)[1].rstrip("]").replace("*", "32"))
        except (IndexError, ValueError):
            n = 32
        shuffle_partitions = max(8, 4 * n)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- Adaptive Query Execution: runtime re-planning ------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # --- Arrow: every Python<->JVM hop is columnar ----------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large `content` strings: cap Arrow batch row counts (SURVEY §7.4.4)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- shuffle / broadcast -------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # scan splits: aim for ~3 splits per core so a wave of scan tasks
        # can't leave cores idle behind stragglers (splits are bounded
        # below by openCostInBytes, so tiny tables don't shatter). With
        # the default (= parallelism) an epoch's scan ran exactly one
        # task per core and the slowest file gated the stage — measured
        # as the 8->32 scaling ceiling in round 3.
        .config("spark.sql.files.minPartitionNum", str(3 * shuffle_partitions // 4))
        # deterministic timestamps across engines (oracle parity)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
