"""SparkSession construction with scale-minded defaults.

Defaults are tuned for the test harness (local[N]) but every setting is the
one you would also want on a 1000-executor cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), UTC session
timezone (the engine's time semantics are epoch-seconds UTC), Arrow enabled
for the few pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sneldb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SNELDB_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SNELDB_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # testdata events.parquet carries TIMESTAMP(NANOS) which Spark only
        # reads as long via this flag (engine time columns are epoch-s longs)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package()
    _start_python_pool_keepalive(spark)
    return spark


def _ship_package() -> None:
    """Pickle every `sneldb_spark` function BY VALUE into the Python UDFs
    and Arrow kernels it builds, so workers never import the package: a
    kernel that calls a module-level helper runs from any working
    directory and on executors without the repo. One pure-Python switch
    in the shared cloudpickle, so it holds for classic and Connect
    sessions alike; repeated calls are no-ops."""
    from pyspark import cloudpickle

    import sneldb_spark

    cloudpickle.register_pickle_by_value(sneldb_spark)


# Spark's PythonWorkerFactory evicts workers idle for > 1 minute
# (IDLE_WORKER_TIMEOUT_NS — hardcoded, not a conf). After any >60 s
# JVM-only stretch (a run of relational queries, a long shuffle), the NEXT
# Python-eval stage pays a simultaneous cold fork of one worker per core,
# each importing pandas/numpy before its first batch — measured ~1.1 s on a
# quiet 32-core box and the amplifier behind multi-second Python-gate
# stalls on a contended one. A tiny labeled pulse (one no-op Arrow batch
# per core) under the eviction deadline keeps the pool warm. Opt out with
# SNELDB_PYTHON_POOL_KEEPALIVE=0 (or any non-positive interval).
_KEEPALIVE_DEFAULT_S = 45.0


def _start_python_pool_keepalive(spark: SparkSession) -> None:
    interval = float(
        os.environ.get("SNELDB_PYTHON_POOL_KEEPALIVE", _KEEPALIVE_DEFAULT_S)
    )
    if interval <= 0 or getattr(spark, "_sneldb_keepalive", None) is not None:
        return
    try:
        sc = spark.sparkContext  # classic only; Connect pools server-side
        cores = max(1, sc.defaultParallelism)
    except Exception:
        return
    import threading
    import time as time_mod

    def pulse():
        while True:
            time_mod.sleep(interval)
            try:
                if sc._jsc is None:  # session stopped
                    return
                sc.setLocalProperty("spark.scheduler.pool", "sneldb-bulk")
                sc.setJobDescription("python-worker-pool keepalive")
                spark.range(0, cores, 1, cores).mapInPandas(
                    lambda it: (b for b in it), schema="id long"
                ).count()
                sc.setJobDescription(None)
            except Exception:
                return  # stopped session / teardown race: just exit

    t = threading.Thread(
        target=pulse, name="sneldb-python-pool-keepalive", daemon=True
    )
    spark._sneldb_keepalive = t
    t.start()


def set_scheduler_pool(spark: SparkSession, pool: str) -> None:
    """Tag THIS thread's subsequent jobs with a scheduler pool.

    `spark.scheduler.mode=FAIR` alone changes nothing for a
    single-pool application: fairness is ACROSS pools, and the default
    pool runs FIFO internally — so a served engine's small read jobs
    still queue behind whole flush/fold jobs (head-of-line blocking
    measured at 70+ s SHOW first-frame under saturation). Distinct
    pools per job class (serve vs bulk) is what actually interleaves
    them; pools are created on demand with default weight, no
    allocation file needed. Local properties are per-thread, exactly
    the granularity the threaded server needs.

    Classic-only API (sparkContext); a Connect session no-ops — pool
    placement is a server-side scheduling hint, never correctness."""
    try:
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
    except Exception:
        pass


def quiet_logs(spark: SparkSession) -> None:
    """Silence executor log chatter for interactive CLI tools.

    setLogLevel lives on the classic SparkContext; under Spark Connect
    there is no sparkContext attribute, and the tools work fine with the
    server's default log config — so this is a best-effort no-op there.
    """
    try:
        spark.sparkContext.setLogLevel("ERROR")
    except Exception:
        pass
