"""Run bookkeeping shared by the spark-submit jobs (``jobs/``) and the
streaming foreachBatch writers: how a run makes its output idempotent,
and how a re-run knows it already finished.

- Idempotent output: every run- or batch-scoped table is written by
  :func:`overwrite_partition`, a dynamic partition OVERWRITE of the
  writer's own ``run_id``/``batch_id`` partition.  A crash-retry of a
  run, or a micro-batch that Structured Streaming replays
  (foreachBatch is at-least-once), rewrites its partition instead of
  appending a duplicate.
- Completion: a job appends its run id to the parquet
  ``<metrics>/runs`` table LAST (:func:`mark_run_completed`), so the
  marker certifies that everything before it committed; a re-run that
  finds it (:func:`run_completed`) is a no-op.

The Spark form of the reference's state surviving a restart because it
lives in a file (reference src/sagan-defs.h:185-208).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fs_for(spark: SparkSession, path_str: str):
    """Hadoop FileSystem for a path — works for file://, hdfs://, s3a://
    alike (os-level glob/rmtree would silently no-op on cluster storage,
    letting the 'physically bounded' stores grow forever)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def read_parquet_or_none(spark: SparkSession, path: str):
    """Read a staged parquet store; None when it does not exist yet or
    holds no data files (all partitions swept/pruned).  Any OTHER
    failure raises: treating a transient FS/corruption error as "no
    store" would silently reset streaming state and permanently diverge
    from batch (over-alert thresholds, re-suppress afters, missed bit
    checks)."""
    from pyspark.errors import AnalysisException

    fs, p = fs_for(spark, path)
    if not fs.exists(p):
        return None
    try:
        return spark.read.option("basePath", path).parquet(path)
    except AnalysisException as e:
        # Prefer the structured error class (Spark >= 3.4); fall back to
        # the legacy message text so a benign empty store never raises on
        # an older runtime — exception-string formats drift across
        # versions, error classes do not.
        klass = e.getErrorClass() if hasattr(e, "getErrorClass") else None
        empty_classes = {"UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND"}
        if klass in empty_classes:
            return None
        if klass is None and (
            "UNABLE_TO_INFER_SCHEMA" in str(e)
            or "PATH_NOT_FOUND" in str(e)
            or "Unable to infer schema" in str(e)
            or "Path does not exist" in str(e)
        ):
            return None
        raise


def overwrite_partition(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """Write ``df`` to the parquet table at ``path``, replacing ONLY the
    partitions its rows fall in (dynamic partition overwrite, set per
    write so the session's own mode is never touched)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_table(df: DataFrame, path: str, fmt: str) -> None:
    """Replace a whole output table: a parquet overwrite of ``path``, or
    an Iceberg ``createOrReplace`` of the table named ``path``."""
    if fmt == "iceberg":
        df.writeTo(path).createOrReplace()
    else:
        df.write.mode("overwrite").parquet(path)


def run_completed(spark: SparkSession, metrics: str, run_id: str) -> bool:
    """True when ``<metrics>/runs`` holds ``run_id``'s completion marker.
    A missing or empty table means "not done"; an unreadable one raises
    rather than silently re-running a finished job."""
    runs = read_parquet_or_none(spark, f"{metrics}/runs")
    return runs is not None and bool(
        runs.filter(F.col("run_id") == run_id).head(1)
    )


def mark_run_completed(spark: SparkSession, metrics: str, run_id: str) -> None:
    """Append ``run_id``'s completion marker.  Call it after every other
    output of the run has committed."""
    marker = spark.createDataFrame([(run_id,)], "run_id string")
    marker.write.mode("append").parquet(f"{metrics}/runs")
