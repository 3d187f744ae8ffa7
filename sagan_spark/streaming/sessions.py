"""Streaming gap sessionization: the per-event assignment of
``ops.sessions.sessionize`` as a Structured Streaming stateful
operator.

The reference keeps its correlation counters in mmap-backed per-key
state with TTL sweeps (`/root/reference/src/sagan-defs.h:185-208`,
`src/ipc.c:78-200`); the Spark-native equivalent is
``applyInPandasWithState`` keyed on the session key with event-time
timeout eviction — the same design the streaming threshold/after path
uses (`streaming/engine.py:636`).

State per key is just ``(last_us, start_us)``: the gap machine is
incremental, so a session never needs its history — one comparison per
event.  Eviction: once the watermark passes ``last_us + gap`` the
state is indistinguishable from fresh (the next event would start a
new session either way), so the timeout removes it; state size is
O(active keys), not O(events).

Ordering envelope (same as the threshold stream): events are replayed
in (event_time, id) order *within* each micro-batch, and batch parity
holds when micro-batches arrive in event-time order per key (the
file-source chunking discipline the parity tests enforce).  A
cross-batch straggler older than ``last_us`` never crashes the
machine: a negative gap merges into the current session (documented
deviation — batch mode, which sees the whole corpus, is the ground
truth for late data).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("start_us", T.LongType()),
    ]
)


def _out_schema(key_col: str, key_type, id_col: str, id_type) -> T.StructType:
    return T.StructType(
        [
            T.StructField(key_col, key_type),
            T.StructField(id_col, id_type),
            T.StructField("event_us", T.LongType()),
            T.StructField("session_start_us", T.LongType()),
        ]
    )


def sessionize_stream(events: DataFrame, gap_sec: int = 14400,
                      key_col: str = "user_id", ts_col: str = "ts",
                      id_col: str = "event_id",
                      watermark: str = "0 seconds") -> DataFrame:
    """Streaming per-event session assignment with the same output
    schema and semantics as the batch :func:`~sagan_spark.ops.sessions.
    sessionize` (ties broken by ``id_col``, strict-``>`` gap test)."""
    gap_us = int(gap_sec) * 1_000_000
    schema = events.schema
    out_struct = _out_schema(
        key_col,
        schema[key_col].dataType,
        id_col,
        schema[id_col].dataType,
    )
    out_cols = [f.name for f in out_struct.fields]

    prepped = (
        events.filter(F.col(ts_col).isNotNull())
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .select(
            key_col,
            id_col,
            F.col(ts_col),
            F.unix_micros(F.col(ts_col)).alias("event_us"),
        )
    )

    def assign(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        last_us, start_us = (None, None) if not state.exists else state.get
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["event_us", id_col], kind="mergesort")
        us_arr = pdf["event_us"].to_numpy()
        starts = []
        for us in us_arr:
            us = int(us)
            if last_us is None or us - last_us > gap_us:
                start_us = us
            starts.append(start_us)
            last_us = us
        out = pdf[[id_col, "event_us"]].copy()
        out.insert(0, key_col, key[0])
        out["session_start_us"] = starts
        state.update((int(last_us), int(start_us)))
        # past last_us + gap the state equals fresh: evict
        state.setTimeoutTimestamp(int(last_us) // 1000 + gap_sec * 1000 + 1)
        yield out[out_cols]

    return prepped.groupBy(key_col).applyInPandasWithState(
        assign,
        outputStructType=out_struct,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def start_session_query(spark: SparkSession, input_dir: str, out_dir: str,
                        checkpoint: str, gap_sec: int = 14400, **kw):
    """File-source convenience runner: stream an events parquet
    directory through :func:`sessionize_stream` into a parquet sink
    with checkpointed exactly-once resume (drop new files in
    ``input_dir`` and re-run to continue a stopped stream)."""
    schema = spark.read.parquet(input_dir).schema
    events = spark.readStream.schema(schema).parquet(input_dir)
    assigned = sessionize_stream(events, gap_sec=gap_sec, **kw)
    return (
        assigned.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .format("parquet")
        .option("path", out_dir)
        .trigger(availableNow=True)
        .start()
    )
