#!/usr/bin/env python3
"""Engine benchmark: the sagan_spark rule engine end to end.

    python3 enginebench/run.py --workload batch_logmix --seed 1 --seconds 5 --trace 0

Workloads (inputs are a pure function of ``--seed``):

- ``batch_logmix``: the 23-rule fixture ruleset over a generated pages
  corpus, run as the full batch job ``jobs/run_batch.py`` runs it:
  engine run -> alert assembly -> the 4 sinks committed -> run
  counters.  Jobs repeat until ``--seconds`` of job wall is measured;
  on a 4-core host the first job in the fresh JVM (the cold job every
  spark-submit run pays) already takes longer, so a run is that job.
- ``stream_tail``: the fixture rules minus xbit-condition rules through
  the stage-A streaming sink query, one pages file per micro-batch; the
  first micro-batch is the cold one (see ``run_stream_tail``).

Every job or micro-batch is one attempted operation.  It fails if it
raises or if any sink differs from the pure-Python oracle's output for
the same input.  No operation is dropped or retried.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` it carries the per-layer metrics instead:
batch_logmix runs a traced cold job (forced layer boundaries, per-layer
job groups, spans), then an untraced and a traced warm job whose wall
difference is the tracing overhead; stream_tail runs as untraced and
reads its layers from the query's progress reports.  Spans are written
under ``_work/traces``.  Layers a workload does not run read 0.
The line before the result is the host fingerprint.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from datetime import datetime
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / "_work"
sys.path.insert(0, str(ROOT))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from enginebench import workloads as W  # noqa: E402
from enginebench.trace import (  # noqa: E402
    Tracer,
    group_job_ids,
    jvm_peak_rss_mb,
    plan_nodes,
    ran_jobs,
    sql_metric_totals,
    stage_totals,
    write_traces,
)
from sagan_spark.pipeline.engine import SaganSparkEngine  # noqa: E402
from sagan_spark.pipeline.metrics import run_counters  # noqa: E402
from sagan_spark.pipeline.route import (  # noqa: E402
    assemble_alerts,
    rule_metadata_df,
    write_sinks,
)

#: micro-batch commits slower than this count as failed operations
STREAM_BATCH_TIMEOUT_S = 120.0
#: warm micro-batches per stream_tail run, at the least: their latency
#: varies by ~10% from batch to batch, and each costs ~10 s
STREAM_MIN_WARM = 2
PY_RUN = "time to run Python workers"
PY_INIT = ("time to start Python workers", "time to initialize Python workers")


# -- host and session ----------------------------------------------------------

def process_start_epoch() -> float:
    """Wall-clock time this process was started (from /proc)."""
    fields = Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return time.time() - uptime + int(fields[19]) / os.sysconf("SC_CLK_TCK")


def host_size() -> dict:
    """local[nproc] and a driver heap of a quarter of MemTotal (1-8 GiB)."""
    mem_kib = int(re.search(r"MemTotal:\s+(\d+)", Path("/proc/meminfo").read_text()).group(1))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mib": mem_kib // 1024,
        "driver_heap_mib": max(1024, min(mem_kib // 1024 // 4, 8192)),
    }


def start_session(size: dict, work: Path):
    """Spark session sized to the host; scratch files stay under ``work``."""
    from sagan_spark.session import build_spark

    local, tmp = work / "spark-local", work / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir()
    # the env var wins over spark.local.dir; TMPDIR is what Python
    # workers inherit; JAVA_TOOL_OPTIONS reaches the launcher JVM too
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = build_spark(
        app="enginebench",
        cores=size["nproc"],
        driver_memory=f"{size['driver_heap_mib']}m",
        extra={
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def host_fingerprint(spark, size: dict) -> dict:
    import platform

    import pyspark

    return {
        **size,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }


# -- correctness ---------------------------------------------------------------

def sink_mismatches(dirs: dict[str, Path], expected: dict[str, list]) -> list[str]:
    """Compare each sink's table in ``dirs`` (sink -> directory, read
    straight from its parquet files, so a check costs no Spark job) with
    ``expected`` (sink -> (event_key, sid) pairs): the row count of every
    sink and the EVE sink's pair set.  A missing directory holds 0 rows."""
    import pyarrow.dataset as ds

    issues = []
    for sink, want in expected.items():
        cols = ["url", "alert_signature_id"] if sink == "alerts_eve" else ["url"]
        got = {c: [] for c in cols}
        if dirs[sink].exists():
            got = ds.dataset(str(dirs[sink]), format="parquet").to_table(columns=cols).to_pydict()
        if len(got["url"]) != len(want):
            issues.append(f"{sink}: {len(got['url'])} rows, want {len(want)}")
        if sink == "alerts_eve":
            pairs, want_pairs = set(zip(*got.values())), set(want)
            if pairs != want_pairs:
                issues.append(
                    f"eve set: {len(pairs - want_pairs)} extra, {len(want_pairs - pairs)} missing"
                )
    return issues


class Ops:
    """Attempted/failed operation ledger; failures are reported on stderr."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, label: str, problems) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"enginebench: {label} failed: {problems}", file=sys.stderr)


# -- batch_logmix --------------------------------------------------------------

def batch_job(spark, rules: list, pages_path: str, out: Path, tr: Tracer | None = None):
    """One batch job, the calls jobs/run_batch.py makes; returns the
    run-counters row.

    With a tracer every layer boundary is forced: the match output and
    the correlated hits are cached and fully evaluated (noop write)
    inside their own span, so each later layer reads its input from
    memory and each span's wall is that layer's own work."""
    if tr is None:
        engine = SaganSparkEngine(rules)
        frame = engine.frame_from_pages(spark.read.parquet(pages_path))
        result = engine.run(frame)
        assembled = assemble_alerts(
            result.alerts(), rule_metadata_df(spark, rules), events=frame,
            xbit_condition_sids=W.xbit_condition_sids(rules),
        )
        write_sinks(assembled, str(out), rules=rules)
        return run_counters(result.hits).collect()[0]

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    with tr.span("job"):
        with tr.span("compiler"):
            engine = SaganSparkEngine(rules)
            frame = engine.frame_from_pages(spark.read.parquet(pages_path))
            hits = engine.match_hits(frame)
        with tr.span("engine", job_group=True):
            force(hits.persist())
        with tr.span("correlate", job_group=True):
            # run() re-plans match_hits; the plan matches the cached one,
            # so match does not execute again
            result = engine.run(frame)
            force(result.hits.persist())
        with tr.span("route", job_group=True):
            with tr.span("route.assemble"):
                assembled = assemble_alerts(
                    result.alerts(), rule_metadata_df(spark, rules), events=frame,
                    xbit_condition_sids=W.xbit_condition_sids(rules),
                )
            with tr.span("route.sinks"):
                write_sinks(assembled, str(out), rules=rules)
        with tr.span("metrics", job_group=True):
            counters = run_counters(result.hits).collect()[0]
    spark.sparkContext.setJobGroup("untraced", "untraced")
    return counters


def layer_metrics(spark, tr: Tracer, counters, out: Path, match_plan, routed: int) -> dict:
    """Per-layer figures of one traced batch job; ``match_plan`` is an
    uncached ``match_hits`` frame for the plan-size count."""
    jobs = {name: group_job_ids(spark, tr.group(name))
            for name in ("engine", "correlate", "route", "metrics")}
    sql = sql_metric_totals(
        spark, {name: ran_jobs(ids) for name, ids in jobs.items()}, (PY_RUN, *PY_INIT)
    )
    spark_layers = {name: {**stage_totals(spark, ids), **sql[name]} for name, ids in jobs.items()}
    by_layer = spark_layers.values()
    return {
        "compiler.plan_build_s": tr.wall("compiler"),
        "compiler.plan_nodes": plan_nodes(match_plan),
        "engine.match_s": tr.wall("engine"),
        "engine.match_cpu_s": spark_layers["engine"]["cpu_s"],
        "engine.match_python_s": spark_layers["engine"][PY_RUN],
        "engine.hit_rows": counters["saganfound"],
        "correlate.self_s": tr.wall("correlate"),
        "correlate.python_s": spark_layers["correlate"][PY_RUN],
        "correlate.shuffle_bytes": spark_layers["correlate"]["shuffle_write_bytes"],
        "correlate.suppressed_rows": counters["after_total"] + counters["threshold_total"],
        "route.assemble_s": tr.wall("route.assemble"),
        "route.sinks_s": tr.wall("route.sinks"),
        "route.sink_bytes": sum(f.stat().st_size for f in out.rglob("*") if f.is_file()),
        "route.routed_rows": routed,
        "metrics.counters_s": tr.wall("metrics"),
        "spark.spill_bytes": sum(v["spill_bytes"] for v in by_layer),
        "spark.python_worker_init_s": sum(v[k] for v in by_layer for k in PY_INIT),
        "trace.job_s": tr.wall("job"),
        "trace.unattributed_s": tr.self_time("job"),
    }


def run_batch_logmix(spark, rules: list, args, work: Path, ops: Ops,
                     traces: list[Tracer] | None, layers: dict) -> dict:
    """Untraced: jobs repeat until ``--seconds`` of job wall is measured;
    the first (cold) job alone already takes longer on a 4-core host, so
    a run is usually the one job a spark-submit user pays for.  Traced:
    a traced cold job gives the per-layer figures, then an untraced and
    a traced warm job give the tracing overhead."""
    table = W.batch_corpus(args.seed)
    pages_path = str(work / "pages.parquet")
    pq.write_table(table, pages_path)
    expected = W.reference(rules, table)
    routed = len(expected["alerts_eve"])
    out = work / "sinks"  # every job overwrites it, as re-runs of run_batch do

    def one_job(label: str, tr: Tracer | None = None) -> tuple[float, object]:
        counters = None
        t0 = time.perf_counter()
        try:
            counters = batch_job(spark, rules, pages_path, out, tr)
            wall = time.perf_counter() - t0
            problems = sink_mismatches({sink: out / sink for sink in expected}, expected)
        except Exception as exc:  # the op boundary: count it, keep going
            wall = time.perf_counter() - t0
            problems = repr(exc)
        ops.record(label, problems)
        spark.catalog.clearCache()
        return wall, counters

    if traces is None:
        walls: list[float] = []
        while sum(walls) < args.seconds:
            walls.append(one_job(f"batch job {len(walls)}")[0])
        p50 = statistics.median(walls)
        return {
            "cold_job_s": walls[0],
            "routed_rows_per_s": routed / p50,
            "alert_latency_p50_s": p50,
        }
    run_id = f"{args.workload}-{args.seed}"
    cold, warm = Tracer(f"{run_id}-cold", spark), Tracer(f"{run_id}-warm", spark)
    traces += [cold, warm]
    _, counters = one_job("traced cold batch job", cold)
    engine = SaganSparkEngine(rules)
    match_plan = engine.match_hits(engine.frame_from_pages(spark.read.parquet(pages_path)))
    layers.update(layer_metrics(spark, cold, counters, out, match_plan, routed))
    untraced, _ = one_job("untraced warm batch job")
    layers["trace.overhead_s"] = one_job("traced warm batch job", warm)[0] - untraced
    layers.update(udf_rows_per_s(table.column("text").to_pylist()))
    return {}


# -- stream_tail ---------------------------------------------------------------

def progress_commit_epoch(p: dict) -> float:
    """Wall-clock commit time of a micro-batch from its progress."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1000.0


def await_batches(q, n: int) -> list[dict]:
    """Block until ``n`` data micro-batches have committed; their progress."""
    deadline = time.monotonic() + STREAM_BATCH_TIMEOUT_S
    while True:
        done = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(done) >= n:
            return done[:n]
        if q.exception() is not None or not q.isActive:
            raise RuntimeError(f"stream query stopped: {q.exception()}")
        if time.monotonic() > deadline:
            raise TimeoutError(f"micro-batch {n} did not commit in {STREAM_BATCH_TIMEOUT_S}s")
        time.sleep(0.02)


def run_stream_tail(spark, rules: list, args, work: Path, ops: Ops,
                    traces: list[Tracer] | None, layers: dict) -> dict:
    """A tail of pages files, one file per micro-batch.  The files are in
    the input directory before the query starts, so each data batch
    follows the previous one with no idle trigger in between.

    The cold operation runs from query start to the first batch's
    commit.  A warm operation is one later micro-batch, measured from
    its trigger start to its commit: the time a file landing on an idle
    query waits for its alerts, as the 0 s processing-time trigger
    picks new files up within milliseconds.  Warm batches run until
    ``--seconds`` of them is measured, and at least ``STREAM_MIN_WARM``
    of them, so a run's latency is a median of several.  The query is left
    running into the next batch and ends with the session: stopping it
    first waits for that batch.  Traced, the run is the same and the
    per-layer figures come from the query's progress reports and its
    jobs (job group = the query's run id)."""
    from sagan_spark.streaming import StreamingSaganEngine
    from sagan_spark.streaming.engine import PAGES_SCHEMA

    rules = W.stream_rules(rules)
    files = W.stream_files(args.seed)
    in_dir, out = work / "in", work / "sinks"
    in_dir.mkdir()
    now = time.time()
    for k, f in enumerate(files):
        path = in_dir / f"pages{k:03d}.parquet"
        pq.write_table(f, path)
        os.utime(path, (now - len(files) + k, now - len(files) + k))  # oldest first

    t_start = time.time()
    seng = StreamingSaganEngine(rules)
    # pages_stream_frame's source, one file per trigger
    source = (
        spark.readStream.schema(PAGES_SCHEMA).option("maxFilesPerTrigger", 1).parquet(str(in_dir))
    )
    q = seng.start_sink_query(
        SaganSparkEngine.frame_from_pages(source), str(out), str(work / "ckpt"),
        trigger_available_now=False,
    )

    def warm() -> list[float]:
        return [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress[1:]]

    progress = await_batches(q, 1)
    while len(progress) < len(files) and (
        len(progress) <= STREAM_MIN_WARM or sum(warm()) < args.seconds
    ):
        try:
            progress = await_batches(q, len(progress) + 1)
        except (RuntimeError, TimeoutError) as exc:
            ops.record(f"micro-batch {len(progress)}", repr(exc))
            break

    # committed batches only; batch i read file i
    table = pa.concat_tables(files[: len(progress)])
    full = W.reference(rules, table)
    eve_rows = []
    for p, f in zip(progress, files):
        keys = set(f.column("url").to_pylist())
        want = {sink: [x for x in pairs if x[0] in keys] for sink, pairs in full.items()}
        part = f"batch_id=a_{p['batchId']}"
        ops.record(
            f"micro-batch {p['batchId']}",
            sink_mismatches({sink: out / sink / part for sink in want}, want),
        )
        eve_rows.append(len(want["alerts_eve"]))
    p50 = statistics.median(warm())
    res = {
        "cold_job_s": progress_commit_epoch(progress[0]) - t_start,
        "routed_rows_per_s": statistics.median(eve_rows[1:]) / p50,
        "alert_latency_p50_s": p50,
    }
    if traces is None:
        return res
    # the query runs its jobs under its run id as job group
    jobs = group_job_ids(spark, str(q.runId))
    warm_progress = progress[1:]
    layers.update({
        "streaming.planning_ms": statistics.median(
            p["durationMs"]["queryPlanning"] for p in warm_progress
        ),
        "streaming.add_batch_ms": statistics.median(
            p["durationMs"]["addBatch"] for p in warm_progress
        ),
        "streaming.state_commit_ms": statistics.median(
            sum(op["commitTimeMs"] for op in p["stateOperators"]) for p in warm_progress
        ),
        "streaming.state_rows": sum(op["numRowsTotal"] for op in progress[-1]["stateOperators"]),
        "spark.spill_bytes": stage_totals(spark, jobs)["spill_bytes"],
        **udf_rows_per_s(table.column("text").to_pylist()),
    })
    return res


# -- per-layer extras ------------------------------------------------------------

def udf_rows_per_s(messages: list[str], min_s: float = 0.5) -> dict:
    """Direct calls of the two per-row extraction kernels on the
    workload's own messages, each repeated for at least ``min_s``."""
    import pandas as pd

    from sagan_spark.functions.extract import json_flatten
    from sagan_spark.functions.udfs import parse_ip_batch

    series = pd.Series(messages, dtype=object)

    def rate(fn) -> float:
        reps, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < min_s:
            fn()
            reps += 1
        return reps * len(messages) / (time.perf_counter() - t0)

    return {
        "udfs.parse_ip_rows_per_s": rate(lambda: parse_ip_batch(series)),
        "udfs.json_flatten_rows_per_s": rate(lambda: [json_flatten(m) for m in messages]),
    }


WORKLOADS = {"batch_logmix": run_batch_logmix, "stream_tail": run_stream_tail}


def result_line(spec: dict, trace: bool, values: dict, ops: Ops) -> dict:
    """The result object; metric names and units come from BENCHMARK.json."""
    listed = spec["per_layer"] if trace else spec["end_to_end"]
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in listed
        },
    }


def main() -> int:
    t_proc = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    size = host_size()
    run_id = f"{args.workload}-{args.seed}"
    work = WORK / f"{run_id}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    ops = Ops()
    # layers a workload does not exercise read 0
    layers = {m["name"]: 0.0 for m in spec["per_layer"]}
    try:
        t_session = time.perf_counter()
        spark = start_session(size, work)
        layers["session.start_s"] = time.perf_counter() - t_session
        try:
            rules = W.fixture_rules()
            setup_s = time.time() - t_proc
            host = host_fingerprint(spark, size)
            traces = [] if args.trace else None
            values = WORKLOADS[args.workload](spark, rules, args, work, ops, traces, layers)
            values["setup_s"] = setup_s
            if traces is not None:
                layers["spark.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
                write_traces(WORK / "traces" / f"{run_id}.json", traces, host, layers)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"host": host}))
    print(json.dumps(result_line(spec, bool(args.trace), layers if args.trace else values, ops)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
