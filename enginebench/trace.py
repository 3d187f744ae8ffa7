"""Spans and Spark status-store readers for the traced benchmark run.

Spans are recorded around the benchmark's own calls into each layer and
kept in memory until the run ends.  Each span that names a Spark layer
also labels the jobs it submits with ``setJobGroup``, so executor CPU,
shuffle, spill and Python-worker time can be read back per layer from
Spark's job store (``SparkContext.statusStore``) and SQL store
(``SharedState.statusStore``).  Both answer with the UI disabled.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

#: SQL-metric display units (SQLMetrics.stringValue) -> seconds / bytes
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


class Tracer:
    """In-memory span recorder; spans share one ``run_id``."""

    def __init__(self, run_id: str, spark):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, job_group: bool = False):
        """Time the body as span ``name``; with ``job_group`` the Spark
        jobs it submits are labelled ``<run_id>:<name>``."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        if job_group:
            self._sc.setJobGroup(self.group(name), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def group(self, name: str) -> str:
        return f"{self.run_id}:{name}"

    def wall(self, name: str) -> float:
        rec = self._find(name)
        return rec["end"] - rec["start"]

    def self_time(self, name: str) -> float:
        """Span wall minus the part its direct children cover."""
        rec = self._find(name)
        children = [s for s in self.spans if s["parent"] == rec["id"]]
        return self.wall(name) - sum(c["end"] - c["start"] for c in children)

    def _find(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)


def write_traces(path: Path, tracers: list[Tracer], host: dict, layers: dict) -> None:
    """Write every recorded span, with the host and the per-layer
    figures they produced, as one JSON document."""
    path.parent.mkdir(parents=True, exist_ok=True)
    doc = {"host": host, "layers": layers, "spans": [s for t in tracers for s in t.spans]}
    path.write_text(json.dumps(doc, indent=1) + "\n")


def group_job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_totals(spark, job_ids: list[int]) -> dict[str, float]:
    """Executor CPU (s), shuffle-write bytes and spilled bytes summed
    over every stage attempt of ``job_ids`` (skipped stages add 0)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_tasks = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stage_ids = {
        s for j in job_ids for s in (sc.statusTracker().getJobInfo(j).stageIds or ())
    }
    out = {"cpu_s": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0}
    for stage_id in sorted(stage_ids):
        attempts = store.stageData(stage_id, False, no_tasks, False, no_quantiles)
        for i in range(attempts.size()):
            st = attempts.apply(i)
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
    return out


def parse_sql_metric(text: str) -> float:
    """'18.2 s (4.5 s, ...)' / '0 ms' / '111.9 KiB' -> seconds or bytes.
    Aggregated metrics print a 'total (min, med, max ...)' header line
    first; the total is the first value of the last line."""
    value, unit = text.strip().splitlines()[-1].split()[:2]
    return float(value.replace(",", "")) * _UNITS[unit]


def ran_jobs(job_ids: list[int]):
    """SQL-execution predicate: the execution ran one of ``job_ids``."""
    return lambda ex: any(ex.jobs().contains(j) for j in job_ids)


def sql_metric_totals(spark, groups: dict, names: tuple[str, ...]) -> dict:
    """{group: {name: total}} of the SQL metrics called ``names``;
    ``groups`` maps a group to a predicate choosing its SQL executions
    (the first group whose predicate holds takes the execution).  A
    node's metric is listed once per plan version, and a cached plan's
    nodes are listed again by every later execution that reads the
    cache, so each accumulator counts once, for the first execution
    that lists it."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = {g: {n: 0.0 for n in names} for g in groups}
    seen: set[int] = set()
    executions = store.executionsList()
    for ex in sorted(
        (executions.apply(i) for i in range(executions.size())),
        key=lambda e: e.executionId(),
    ):
        group = next((g for g, chosen in groups.items() if chosen(ex)), None)
        if group is None:
            continue
        values = store.executionMetrics(ex.executionId())
        metrics = ex.metrics().iterator()
        while metrics.hasNext():
            m = metrics.next()
            if m.name() not in names or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            v = values.get(m.accumulatorId())
            if v.isDefined():
                out[group][m.name()] += parse_sql_metric(v.get())
    return out


def plan_nodes(df) -> int:
    """Node count (operators and expressions) of ``df``'s optimized
    logical plan, from its JSON form (one object per tree node)."""
    return df._jdf.queryExecution().optimizedPlan().toJSON().count('"num-children"')


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")
