"""Streaming burst detection: the per-(key, bucket) adaptive-baseline
flag of ``ops.bursts.detect_bursts`` as a Structured Streaming
stateful operator.

The reference's threshold/after counters live in mmap-backed per-key
state swept by TTL (`/root/reference/src/sagan-defs.h:185-208`,
`src/ipc.c:78-200`); this is the same design through
``applyInPandasWithState``: state per key is the trailing-k ring of
(bucket_idx, count) pairs — O(k) longs, independent of event volume —
with event-time timeout eviction once the watermark is a full trailing
window past the newest bucket (at that point any future bucket's
baseline excludes everything held, so evicted == fresh).

Ordering envelope (the sessionize_stream discipline, enforced by the
parity tests): buckets arrive in event-time order per key and a
bucket's events land within one micro-batch (file-source chunking
aligned to the bucket size — the natural shape of rotated logs; the
availableNow drain satisfies it trivially).  Within a micro-batch
events are bucketed and replayed in bucket order, so each bucket's
verdict is computed exactly once, against exactly the earlier-bucket
counts the batch RANGE frame would see — the gate output is
bit-identical to the batch oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sagan_spark.ops.bursts import trunc_div_long

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("buckets", T.ArrayType(T.LongType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
    ]
)


def detect_bursts_stream(events: DataFrame, bucket_sec: int = 3600,
                         trailing_buckets: int = 24,
                         factor_milli: int = 3000, min_count: int = 5,
                         key_col: str = "user_id", ts_col: str = "ts",
                         watermark: str = "0 seconds") -> DataFrame:
    """Streaming twin of :func:`sagan_spark.ops.bursts.detect_bursts`:
    same output schema (key, bucket_start_us, n_events, trailing_sum,
    is_burst), same integer burst rule, same NULL-baseline cold
    start."""
    bucket_us = int(bucket_sec) * 1_000_000
    k = int(trailing_buckets)
    schema = events.schema
    out_struct = T.StructType(
        [
            T.StructField(key_col, schema[key_col].dataType),
            T.StructField("bucket_start_us", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("trailing_sum", T.LongType()),
            T.StructField("is_burst", T.IntegerType()),
        ]
    )
    out_cols = [f.name for f in out_struct.fields]

    prepped = (
        events.filter(F.col(ts_col).isNotNull())
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .select(
            key_col,
            F.col(ts_col),
            trunc_div_long(F.unix_micros(F.col(ts_col)), bucket_us).alias(
                "_sg_b"
            ),
        )
    )

    def flag(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        ring: list[tuple[int, int]] = []
        if state.exists:
            bs, cs = state.get
            ring = list(zip(bs, cs))
        pdf = pd.concat(list(pdfs), ignore_index=True)
        grouped = pdf.groupby("_sg_b").size().sort_index()
        rows = []
        for b, n in grouped.items():
            b, n = int(b), int(n)
            ring = [(rb, rc) for rb, rc in ring if rb >= b - k]
            trail = sum(rc for rb, rc in ring if rb <= b - 1)
            has_base = any(rb <= b - 1 for rb, _ in ring)
            burst = int(
                has_base
                and n >= min_count
                and n * 1000 * k >= factor_milli * trail
            )
            rows.append(
                (key[0], b * bucket_us, n, trail if has_base else None, burst)
            )
            ring.append((b, n))
        out = pd.DataFrame(rows, columns=out_cols)
        state.update(
            ([rb for rb, _ in ring], [rc for _, rc in ring])
        )
        newest_end_ms = (ring[-1][0] + 1) * bucket_us // 1000
        state.setTimeoutTimestamp(newest_end_ms + k * bucket_sec * 1000 + 1)
        yield out

    return prepped.groupBy(key_col).applyInPandasWithState(
        flag,
        outputStructType=out_struct,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def start_burst_query(spark: SparkSession, input_dir: str, out_dir: str,
                      checkpoint: str, **kw):
    """File-source convenience runner (the start_session_query shape):
    stream an events parquet directory through
    :func:`detect_bursts_stream` into a parquet sink with checkpointed
    resume."""
    schema = spark.read.parquet(input_dir).schema
    events = spark.readStream.schema(schema).parquet(input_dir)
    flagged = detect_bursts_stream(events, **kw)
    return (
        flagged.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .format("parquet")
        .option("path", out_dir)
        .trigger(availableNow=True)
        .start()
    )
