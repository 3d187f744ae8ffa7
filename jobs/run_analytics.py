"""Event-analytics entry point for spark-submit — the aggregate side
of the engine deployed like the alert and corpus pipelines:

    spark-submit --py-files sagan_spark.zip jobs/run_analytics.py \
        --input  <events table: parquet path or iceberg name> \
        --output /warehouse/analytics \
        [--format iceberg|parquet] [--metrics /warehouse/metrics] \
        [--run-id RID] [--gap-sec 14400] [--bucket-sec 3600] \
        [--burst-factor-milli 3000] [--quantiles 500000,950000,990000] \
        [--resolutions 60,3600,86400] [--window-days 7]

(tests/test_spark_submit.py's discipline: runnable from a directory
where the repo is not importable — imports resolve from --py-files.)

One read of the events table fans into six product tables, every one
an operator that already carries its own correctness gate (sessions,
session_rollup, funnel-free burst flags, exact quantiles, the
time-rollup cascade, DAU/WAU actives) — the job adds deployment,
the per-stage row ledger, and the resume-marker no-op every job
shares (``sagan_spark.runs``).
All products are deterministic integer arithmetic, so a crash-retry
or a cluster-size change rewrites byte-identical tables.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import uuid


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "iceberg"])
    ap.add_argument("--metrics", default="")
    ap.add_argument("--gap-sec", type=int, default=14_400)
    ap.add_argument("--bucket-sec", type=int, default=3_600)
    ap.add_argument("--burst-window", type=int, default=24)
    ap.add_argument("--burst-factor-milli", type=int, default=3_000)
    ap.add_argument("--quantiles", default="500000,950000,990000")
    ap.add_argument("--resolutions", default="60,3600,86400")
    ap.add_argument("--window-days", type=int, default=7)
    ap.add_argument("--run-id", default=uuid.uuid4().hex[:12])
    args = ap.parse_args()

    from sagan_spark.ops.bursts import detect_bursts
    from sagan_spark.ops.funnel import active_users
    from sagan_spark.ops.quantiles import quantile_rollup
    from sagan_spark.ops.rollup import time_rollup
    from sagan_spark.ops.sessions import session_rollup, sessionize
    from sagan_spark.runs import (
        mark_run_completed,
        overwrite_partition,
        run_completed,
        write_table,
    )
    from sagan_spark.session import job_session

    spark = job_session("sagan_spark_analytics")

    if args.metrics and run_completed(spark, args.metrics, args.run_id):
        print({"run_id": args.run_id, "skipped": "already completed"})
        spark.stop()
        return

    events = spark.read.format(args.format).load(args.input)

    counters = []

    def emit(name, df):
        path = f"{args.output}/{name}"
        write_table(df, path, args.format)
        # count the WRITTEN table, not the logical frame — counting
        # the frame would re-execute the whole product chain a second
        # time; the written files carry the row count in their footers
        counters.append((name, spark.read.format(args.format).load(path).count()))

    emit("sessions", sessionize(events, gap_sec=args.gap_sec))
    emit("session_rollup", session_rollup(events, gap_sec=args.gap_sec))
    emit(
        "bursts",
        detect_bursts(
            events,
            bucket_sec=args.bucket_sec,
            trailing_buckets=args.burst_window,
            factor_milli=args.burst_factor_milli,
        ),
    )
    q_ppm = [int(x) for x in args.quantiles.split(",") if x.strip()]
    emit("quantiles", quantile_rollup(events, quantiles_ppm=q_ppm))
    res = [int(x) for x in args.resolutions.split(",") if x.strip()]
    emit("rollup", time_rollup(events, resolutions=res))
    emit("actives", active_users(events, window_days=args.window_days))

    if args.metrics:
        ledger = spark.createDataFrame(
            [(args.run_id, n, int(c)) for n, c in counters],
            "run_id string, product string, n_rows long",
        )
        overwrite_partition(ledger, f"{args.metrics}/stages", ["run_id"])
        mark_run_completed(spark, args.metrics, args.run_id)

    print({
        "run_id": args.run_id,
        "products": {n: int(c) for n, c in counters},
        "output": args.output,
    })
    spark.stop()


if __name__ == "__main__":
    main()
