"""SparkSession factory with engine-appropriate defaults."""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# repo root (parent of the sagan_spark package) — local-mode Python workers
# inherit PYTHONPATH from the driver env; on a real cluster the package
# ships via `spark-submit --py-files` instead (see jobs/)
_PKG_ROOT = str(Path(__file__).resolve().parent.parent)


def _ensure_worker_pythonpath() -> None:
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{_PKG_ROOT}{os.pathsep}{pp}" if pp else _PKG_ROOT
    # one BLAS/OpenMP thread per Python worker: N workers each spawning an
    # N-thread spinning BLAS pool oversubscribes the box N-fold and can
    # INVERT scaling (measured 20x CPU inflation at local[32])
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")


def build_spark(
    app: str = "sagan_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
    extra: dict | None = None,
) -> SparkSession:
    """``extra`` overrides/adds spark confs AFTER the tuned defaults
    (tools use it to e.g. re-enable the UI for metrics scraping)."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores
    _ensure_worker_pythonpath()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        # engine caches are short-lived scratch (hits between correlation
        # branches): columnar compression costs more CPU than the memory
        # it saves on a 128 GiB box
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        # the late-materialization join (alerts x events on event_key) has
        # no use for sorted output — shuffled-hash beats sort-merge's
        # 20M-row sorts; executors have the memory for the hash side
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # split scans finely enough that local parallelism saturates from
        # the SCAN itself — the engine then skips its saturation
        # repartition (a full corpus-wide exchange of message strings).
        # On a real cluster Iceberg's split planning plays this role.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # fewer, larger Arrow batches through the pandas-UDF hot path
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        # the fused N-rule projection generates ~7k-bytecode methods at
        # the default split threshold (1024) — big enough that HotSpot
        # tiers them up late, so the first pass over a partition runs
        # interpreted.  Splitting at 256 keeps every generated method
        # small enough to JIT early: measured (200k-row match stage,
        # local[32]) the second run drops 12.9->7.2 s and steady state
        # is unchanged (6.3 vs 6.8 s); at 100 TB the warmup is amortized
        # but a long tail of short tasks still benefits from fast tier-up
        .config("spark.sql.codegen.methodSplitThreshold", "256")
        # per-Column-call site capture (error-message enrichment) costs two
        # extra py4j round trips + a Python stack walk on EVERY DataFrame
        # API call — at production ruleset sizes plan construction makes
        # hundreds of thousands of such calls, so this is a measurable
        # slice of driver-side plan-build time (tools/bench_rulecount.py)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: what the jobs in ``jobs/`` rely on; a key spark-submit already set wins
_JOB_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
}


def job_session(app: str) -> SparkSession:
    """Session for a spark-submit job.  Cluster sizing and any conf
    passed to spark-submit come from spark-submit; this only fills the
    keys in ``_JOB_CONF`` that it left unset."""
    spark = SparkSession.builder.appName(app).getOrCreate()
    submitted = spark.sparkContext.getConf()
    for k, v in _JOB_CONF.items():
        if not submitted.contains(k):
            spark.conf.set(k, v)
    return spark
