"""Fast checks of the engine benchmark itself (no Spark job runs).

    python3 -m pytest enginebench -q
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from enginebench import workloads as W
from enginebench.run import Ops, result_line
from enginebench.trace import parse_sql_metric

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
LAYER_MAP = json.loads((Path(__file__).parent / "layer_map.json").read_text())


def test_batch_corpus_is_a_function_of_the_seed():
    assert W.batch_corpus(7, 500).equals(W.batch_corpus(7, 500))
    assert not W.batch_corpus(7, 500).equals(W.batch_corpus(8, 500))


def test_stream_files_are_a_function_of_the_seed_and_ordered():
    a, b = W.stream_files(3, 200, 3), W.stream_files(3, 200, 3)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not a[0].equals(W.stream_files(4, 200, 3)[0])
    # every event of file k precedes every event of file k+1 in the
    # oracle's (ts, url) replay order
    for x, y in zip(a, a[1:]):
        last = max(zip(x["warc_ts"].to_pylist(), x["url"].to_pylist()))
        first = min(zip(y["warc_ts"].to_pylist(), y["url"].to_pylist()))
        assert last < first


@pytest.mark.parametrize("trace", [False, True])
def test_every_listed_metric_is_printed_with_its_unit(trace):
    listed = SPEC["per_layer" if trace else "end_to_end"]
    values = {m["name"]: 1.5 for m in listed}
    ops = Ops()
    ops.record("op", None)
    line = json.loads(json.dumps(result_line(SPEC, trace, values, ops)))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["attempted"] == 1 and line["failed"] == 0
    assert line["metrics"] == {m["name"]: {"value": 1.5, "unit": m["unit"]} for m in listed}


def test_a_missing_metric_is_an_error():
    values = {m["name"]: 1.0 for m in SPEC["end_to_end"][1:]}
    with pytest.raises(KeyError):
        result_line(SPEC, False, values, Ops())


def test_layer_map_covers_every_per_layer_metric():
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    workloads = {w["name"] for w in SPEC["workloads"]}
    assert set(LAYER_MAP) == {m["name"] for m in SPEC["per_layer"]}
    for name, entry in LAYER_MAP.items():
        assert set(entry["moves"]) <= e2e, name
        assert set(entry["workloads"]) <= workloads, name


TOTAL = "total (min, med, max (stageId: taskId))"


@pytest.mark.parametrize(
    "text, value",
    [
        ("0 ms", 0.0),
        ("850 ms", 0.85),
        (f"{TOTAL}\n18.2 s (4.5 s, 4.5 s, 4.5 s (stage 3.0: task 4))", 18.2),
        ("1.5 m", 90.0),
        ("111.9 KiB", 111.9 * 1024),
        (f"{TOTAL}\n0.0 B (0.0 B, 0.0 B, 0.0 B (stage 34.0: task 55))", 0.0),
    ],
)
def test_sql_metric_strings_parse(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_seed_42_200k_corpus_routes_the_invariant_row_count():
    """The batch_logmix rules and generator reproduce the routed-row
    invariant recorded since the first benchmark round (oracle only)."""
    expected = W.reference(W.fixture_rules(), W.batch_corpus(42, 200_000))
    assert len(expected["alerts_eve"]) == 863_164
    assert {len(v) for v in expected.values()} == {863_164}
