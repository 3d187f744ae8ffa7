"""jobs/run_batch.py: the spark-submit entry point's resume guard —
a re-run with the same --run-id that finds its completion marker is a
no-op (sinks unchanged, no duplicated lineage/counters rows; north_rule
'resumable from checkpoint with per-partition lineage + metrics')."""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import SparkSession


def _run(argv, monkeypatch):
    import jobs.run_batch as rb

    monkeypatch.setattr(sys, "argv", ["run_batch.py"] + argv)
    # main() calls spark.stop(); the test session must survive
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    rb.main()


def test_run_batch_resume_guard(spark, pages_path, tmp_path, monkeypatch, capsys):
    rules = tmp_path / "r.rules"
    rules.write_text(
        'alert any any any -> any any (msg:"pw"; content:"Failed password"; '
        "classtype: unsuccessful-user; sid:9700001; rev:1;)\n"
    )
    out = str(tmp_path / "sinks")
    metrics = str(tmp_path / "metrics")
    argv = [
        "--input", pages_path, "--rules", str(rules),
        "--output", out, "--metrics", metrics, "--run-id", "fixed01",
    ]
    _run(argv, monkeypatch)
    eve1 = spark.read.parquet(f"{out}/alerts_eve").count()
    lineage1 = spark.read.parquet(f"{metrics}/lineage").count()
    counters1 = spark.read.parquet(f"{metrics}/counters").count()
    assert eve1 > 0 and lineage1 > 0 and counters1 > 0
    assert spark.read.parquet(f"{metrics}/runs").filter("run_id = 'fixed01'").count() == 1

    capsys.readouterr()
    _run(argv, monkeypatch)  # same run-id: marker present -> no-op
    assert "skipped" in capsys.readouterr().out

    assert spark.read.parquet(f"{out}/alerts_eve").count() == eve1
    assert spark.read.parquet(f"{metrics}/lineage").count() == lineage1
    assert spark.read.parquet(f"{metrics}/counters").count() == counters1

    # crash-retry simulation: marker gone but lineage already written —
    # the run_id-partitioned dynamic OVERWRITE must not duplicate it
    import shutil

    shutil.rmtree(f"{metrics}/runs")
    _run(argv, monkeypatch)
    assert spark.read.parquet(f"{metrics}/lineage").count() == lineage1
    assert spark.read.parquet(f"{metrics}/counters").count() == counters1

    # a NEW run-id over the same output overwrites sinks (no duplication)
    # and adds its own lineage partition exactly once
    _run([a if a != "fixed01" else "fixed02" for a in argv], monkeypatch)
    assert spark.read.parquet(f"{out}/alerts_eve").count() == eve1
    assert spark.read.parquet(f"{metrics}/lineage").count() == 2 * lineage1


def test_run_batch_unreadable_runs_table_raises(spark, pages_path, tmp_path, monkeypatch):
    """An unreadable completion-marker table is an error, not "no marker
    yet": swallowing it would silently re-run a job that already
    completed.  The guard runs before the engine, so nothing is written."""
    rules = tmp_path / "r.rules"
    rules.write_text(
        'alert any any any -> any any (msg:"pw"; content:"Failed password"; '
        "sid:9700002; rev:1;)\n"
    )
    runs = tmp_path / "metrics" / "runs"
    runs.mkdir(parents=True)
    (runs / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    out = tmp_path / "sinks"
    argv = [
        "--input", pages_path, "--rules", str(rules), "--output", str(out),
        "--metrics", str(tmp_path / "metrics"), "--run-id", "fixed03",
    ]
    with pytest.raises(Exception):
        _run(argv, monkeypatch)
    assert not out.exists()
