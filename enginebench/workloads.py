"""Seeded inputs and reference outputs for the engine benchmark.

Every input is a pure function of the workload seed: the pages corpus
comes from ``sagan_spark.data.pages.generate_pages`` and the rules are
the fixture ruleset.  The reference alert set comes from the
pure-Python ``tests.oracle.Oracle``, which is written independently of
the Spark compiler; it is computed once per run, outside every timed
section.
"""

from __future__ import annotations

from pathlib import Path
from urllib.parse import urlparse

import pyarrow as pa

ROOT = Path(__file__).resolve().parent.parent

#: events per batch_logmix job.  On a 4-core host a job's wall is then
#: mostly per-job cost (plan build, codegen, Python worker start,
#: scheduling), which is what a small spark-submit batch pays; the size
#: keeps setup + one cold job inside the benchmark's per-run time budget
BATCH_EVENTS = 2_000
#: events per stream_tail micro-batch file
STREAM_BATCH_EVENTS = 1_000
#: files generated for stream_tail; a run lands as many as it needs
STREAM_MAX_FILES = 12


def fixture_rules() -> list:
    from fixtures.vars import VARIABLES
    from sagan_spark.rules.parser import parse_rules

    return parse_rules((ROOT / "fixtures" / "ruleset.rules").read_text(), VARIABLES)


def xbit_condition_sids(rules: list) -> list[int]:
    return [
        r.sid for r in rules if any(x.action in ("isset", "isnotset") for x in r.xbits)
    ]


def stream_rules(rules: list) -> list:
    """The fixture rules minus xbit-condition rules, which the stage-A
    streaming sink query rejects."""
    cond = set(xbit_condition_sids(rules))
    return [r for r in rules if r.sid not in cond]


def batch_corpus(seed: int, n_events: int = BATCH_EVENTS) -> pa.Table:
    from sagan_spark.data.pages import generate_pages

    return generate_pages(n_events, seed=seed)


def stream_files(seed: int, per_file: int = STREAM_BATCH_EVENTS,
                 n_files: int = STREAM_MAX_FILES) -> list[pa.Table]:
    """One corpus cut into files in (ts, url) order, the oracle's replay
    order, so every event in file k precedes every event in file k+1."""
    from sagan_spark.data.pages import generate_pages

    table = generate_pages(per_file * n_files, seed=seed).sort_by(
        [("warc_ts", "ascending"), ("url", "ascending")]
    )
    return [table.slice(i * per_file, per_file) for i in range(n_files)]


def oracle_events(table: pa.Table) -> list[dict]:
    """Pages rows in the oracle's event shape (the same mapping as
    ``SaganSparkEngine.frame_from_pages``)."""
    cols = table.select(["url", "warc_ts", "text", "lang"]).to_pydict()
    return [
        {
            "event_key": url,
            "ts": ts,
            "host": urlparse(url).hostname,
            "program": lang,
            "facility": "",
            "level": "",
            "tag": "",
            "message": text,
        }
        for url, ts, text, lang in zip(cols["url"], cols["warc_ts"], cols["text"], cols["lang"])
    ]


def reference(rules: list, table: pa.Table) -> dict[str, list[tuple[str, int]]]:
    """Oracle output for ``table`` under ``rules``: sink -> the
    (event_key, sid) pairs a correct run writes to that sink, after the
    per-sink noalert/noeve suppressions."""
    from sagan_spark.pipeline.route import SINK_BUILDERS, sink_suppressions
    from tests.oracle import Oracle

    alerts, _ = Oracle(rules).run(oracle_events(table))
    pairs = [(a["url"], a["sid"]) for a in alerts]
    suppress = sink_suppressions(rules)
    return {
        sink: [p for p in pairs if p[1] not in set(suppress.get(sink, ()))]
        for sink in SINK_BUILDERS
    }
