"""Streaming as-of enrichment: the compact (broadcast-dimension)
as-of join of ``ops.asof`` run as a Structured Streaming stream-static
join.

The reference engine enriches every live event against its loaded
lookup databases (GeoIP / Bluedot / blacklist reloads,
src/processors/blacklist.c); the Spark-native equivalent is a
STREAM-STATIC left join — the dimension aggregates once per micro-
batch plan into per-key sorted snapshot arrays, broadcasts, and each
streaming event probes its array with the SAME scan-level expression
the batch op uses (``ops/asof.py`` is called directly — one
implementation, two execution modes).  No streaming state is needed
at all: the probe is stateless per event, so there is no watermark,
no timeout bookkeeping, and restart safety comes entirely from the
file-source + checkpoint contract.

Scale: the stream side never shuffles (the dimension is broadcast);
at production rates this plans exactly like the batch compact shape —
a map-only enrichment over each micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sagan_spark.ops.asof import asof_join_compact


def start_asof_query(spark: SparkSession, input_dir: str, out_dir: str,
                     checkpoint: str, dim: DataFrame, **kw):
    """File-source convenience runner: stream an events parquet
    directory through :func:`ops.asof.asof_join_compact` against the
    static ``dim`` into a parquet sink with checkpointed exactly-once
    resume."""
    schema = spark.read.parquet(input_dir).schema
    events = spark.readStream.schema(schema).parquet(input_dir)
    enriched = asof_join_compact(events, dim, **kw)
    return (
        enriched.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .format("parquet")
        .option("path", out_dir)
        .trigger(availableNow=True)
        .start()
    )
