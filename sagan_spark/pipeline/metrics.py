"""Per-partition lineage + counters -> metrics table (A11).

The reference keeps global atomic counters (_SaganCounters, reference
src/sagan.h:178-332) printed by Statistics() (src/stats.c:54-218).
Distributed analog: every input partition emits one lineage row
(mapInPandas accumulator — no driver bottleneck, no collect), and the
run-level counter rollup happens as a tiny aggregation over that table.

Resume bookkeeping (north_rule): each run writes (run_id,
ruleset_version, input snapshot id) alongside the counters so a
restarted job can skip acknowledged partitions; with an Iceberg catalog
the snapshot id is the table's current snapshot, with plain parquet it
is the input path fingerprint.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

METRICS_SCHEMA = (
    "run_id string, ruleset_version string, partition_id long, "
    "rows_in long, rows_null_message long, bytes_in long, "
    "max_bytes_length long, wall_ms long"
)


def partition_lineage(frame: DataFrame, run_id: str | None = None,
                      ruleset_version: str = "v0") -> DataFrame:
    """One row per input partition: row/byte counters + wall time —
    the Spark analog of per-thread counters merged in shared memory."""
    run_id = run_id or uuid.uuid4().hex[:12]

    def counters(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t0 = time.monotonic()
        rows = 0
        nulls = 0
        bytes_in = 0
        max_len = 0
        pid = -1
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx is not None:
            pid = ctx.partitionId()
        for pdf in it:
            rows += len(pdf)
            if "message" in pdf.columns:
                m = pdf["message"]
                nulls += int(m.isna().sum() + (m.fillna("") == "").sum())
                lens = m.fillna("").str.len()
                bytes_in += int(lens.sum())
                if len(lens):
                    max_len = max(max_len, int(lens.max()))
        yield pd.DataFrame(
            {
                "run_id": [run_id],
                "ruleset_version": [ruleset_version],
                "partition_id": [pid],
                "rows_in": [rows],
                "rows_null_message": [nulls],
                "bytes_in": [bytes_in],
                "max_bytes_length": [max_len],
                "wall_ms": [int((time.monotonic() - t0) * 1000)],
            }
        )

    return frame.mapInPandas(counters, schema=METRICS_SCHEMA)


def run_counters(hits: DataFrame) -> DataFrame:
    """Run-level rollup mirroring Statistics() fields: saganfound,
    after/threshold suppression totals, alert totals, per-sid counts
    (reference src/stats.c:112-218)."""
    # coalesce: F.sum over ZERO rows is NULL — the reference's counters
    # print integer 0 on a quiet interval (src/stats.c:112-218)
    return hits.agg(
        F.count(F.lit(1)).alias("saganfound"),
        F.coalesce(
            F.sum(F.col("suppressed_after").cast("long")), F.lit(0)
        ).alias("after_total"),
        F.coalesce(
            F.sum(F.col("suppressed_threshold").cast("long")), F.lit(0)
        ).alias("threshold_total"),
        F.coalesce(
            F.sum(
                (
                    ~F.col("suppressed_after")
                    & ~F.col("suppressed_threshold")
                    & F.col("xbit_ok")
                ).cast("long")
            ),
            F.lit(0),
        ).alias("alert_total"),
    )


def stats_json_view(
    frame: DataFrame,
    hits: DataFrame,
    uptime_secs: int,
    sensor_name: str = "sagan_spark",
    event_source: str = "spark",
    ignored_total: int = 0,
) -> DataFrame:
    """The reference's periodic EVE 'stats' record
    (src/processors/stats-json.c:140-300: timestamp/event_type='stats'/
    event_source/host + stats.captured{total,drop,ignore,threshold,
    after,alert,match,bytes_total,bytes_ignored,max_bytes_log_line,
    eps}), flattened with a ``captured_`` prefix (parquet-friendly,
    same convention as the EVE alert view).

    Deviations, both deliberate: the record's timestamp is the corpus'
    max event time (deterministic — the reference stamps wall clock),
    and ``uptime_secs`` is caller-provided (the reference reads its
    process clock); eps = total // uptime as in the reference's integer
    division.  ``drop`` maps to null/empty-message rows (the
    reference's worker-overflow drops cannot happen in Spark);
    ``ignore`` is the ignore-list drop count the caller measured."""
    cap = frame.agg(
        F.count(F.lit(1)).alias("_total"),
        F.coalesce(F.sum(F.length("message")), F.lit(0)).alias("_bytes"),
        F.coalesce(F.max(F.length("message")), F.lit(0)).alias("_maxlen"),
        F.coalesce(
            F.sum(
                (F.col("message").isNull() | (F.length("message") == 0)).cast("long")
            ),
            F.lit(0),
        ).alias("_drop"),
        F.max(F.col("ts").cast("timestamp")).alias("_ts"),
    )
    h = run_counters(hits)
    up = max(int(uptime_secs), 1)
    return cap.crossJoin(h).select(
        F.date_format("_ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx").alias("timestamp"),
        F.lit("stats").alias("event_type"),
        F.lit(event_source).alias("event_source"),
        F.lit(sensor_name).alias("host"),
        F.lit(up).cast("long").alias("uptime"),
        F.col("_total").cast("long").alias("captured_total"),
        F.col("_drop").cast("long").alias("captured_drop"),
        F.lit(int(ignored_total)).cast("long").alias("captured_ignore"),
        F.col("threshold_total").cast("long").alias("captured_threshold"),
        F.col("after_total").cast("long").alias("captured_after"),
        F.col("alert_total").cast("long").alias("captured_alert"),
        F.col("saganfound").cast("long").alias("captured_match"),
        F.col("_bytes").cast("long").alias("captured_bytes_total"),
        F.lit(0).cast("long").alias("captured_bytes_ignored"),
        F.col("_maxlen").cast("long").alias("captured_max_bytes_log_line"),
        (F.col("_total").cast("long") / F.lit(up)).cast("long").alias("captured_eps"),
    )
