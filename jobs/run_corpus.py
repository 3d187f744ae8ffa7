"""Corpus-curation entry point for spark-submit — the training-data
side of the engine, deployed the same way as the alert pipeline:

    spark-submit --py-files sagan_spark.zip jobs/run_corpus.py \
        --input  <pages table: parquet path or iceberg name> \
        --output /warehouse/curated_corpus \
        [--input-format pages|warc] [--format iceberg|parquet] \
        [--metrics /warehouse/corpus_metrics] [--run-id RID] \
        [--min-chars 200] [--domain-cap 100000] [--sample 1.0] \
        [--classifier-weights /warehouse/quality_model \
         --classifier-keep-ppm 500000]

(tests/test_spark_submit.py runs exactly this from a directory where
the repo is not importable — imports resolve from the shipped zip.)

Stages (each emits a counter row so the yield ledger survives in the
metrics table — the A11 discipline applied to curation):

1. ingest — pages pass through; WARC records go through
   ops.webpipeline.ingest_pipeline (parse → route flags → robots →
   text extraction) and only keep-verdict rows continue;
2. screen — webclean.filter_verdict (length / language / repetition,
   first-failing-reason routing);
3. dedup — exact content dedup, min-doc_id winner per normalized
   digest (map-side-combining agg, never a window);
4. classifier (optional, --classifier-weights) — trained-quality-model
   scoring (webclean.hashed_linear_score, broadcast weights) +
   keep-rate calibration off the bounded score histogram
   (webclean.calibrate_keep_threshold), keep at-or-above threshold;
5. quota — ops.sampling.domain_quota_sample per registered domain;
6. sample — ops.sampling.deterministic_sample (md5-threshold,
   reproducible across runs and cluster sizes).

Resume (``sagan_spark.runs``, shared with every job): a completed
--run-id no-ops; the parquet stage ledger lands in its run_id
partition with dynamic partition overwrite, so a crash-retry rewrites
its own partition.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import uuid

from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--input-format", default="pages",
                    choices=["pages", "warc"])
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "iceberg"])
    ap.add_argument("--metrics", default="")
    ap.add_argument("--min-chars", type=int, default=200)
    ap.add_argument("--domain-cap", type=int, default=100_000)
    ap.add_argument("--sample", type=float, default=1.0)
    ap.add_argument("--langs", default="en")
    ap.add_argument("--classifier-weights", default="",
                    help="trained (bucket, weight_milli) table "
                         "(train_quality_classifier output); empty = skip")
    ap.add_argument("--classifier-keep-ppm", type=int, default=500_000)
    ap.add_argument("--run-id", default=uuid.uuid4().hex[:12])
    args = ap.parse_args()

    from sagan_spark.ops.sampling import (
        deterministic_sample,
        domain_quota_sample,
    )
    from sagan_spark.ops.webclean import filter_verdict
    from sagan_spark.runs import (
        mark_run_completed,
        overwrite_partition,
        run_completed,
        write_table,
    )
    from sagan_spark.session import job_session

    spark = job_session("sagan_spark_corpus")

    if args.metrics and run_completed(spark, args.metrics, args.run_id):
        print({"run_id": args.run_id, "skipped": "already completed"})
        spark.stop()
        return

    raw = spark.read.format(args.format).load(args.input)

    counters = []

    def count_stage(name, df):
        # the ledger is the point — a curation run must account for
        # every dropped row.  Each stage frame is persisted
        # (MEMORY_AND_DISK) before counting: the next stage then
        # builds on stored blocks instead of re-executing the whole
        # upstream chain, so k stages cost k passes, not O(k^2) — at
        # 10^12 rows the recompute-per-count spelling is the
        # difference between a run and a week.  persist, NOT
        # localCheckpoint: checkpointing truncates lineage to
        # non-replicated executor-local blocks, so a single executor
        # loss on a real cluster kills the job instead of recomputing
        # the lost partitions — persist keeps the lineage fallback
        # while giving the same avoid-recompute benefit.
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        counters.append((name, df.count()))
        return df

    if args.input_format == "warc":
        from sagan_spark.ops.webpipeline import ingest_pipeline

        ingested = ingest_pipeline(raw, min_chars=args.min_chars)
        pages = (
            ingested.filter(F.col("keep"))
            .select(
                F.col("target_uri").alias("url"),
                F.col("text_extracted").alias("text"),
                F.col("html_lang").alias("lang"),
            )
        )
    else:
        pages = raw.select("url", "text", "lang")
    # doc_id must be row-unique up to byte-identical content: a url
    # alone is NOT (multi-capture crawls carry the same url many times,
    # recrawls with changed text too).  Hashing (url, content digest)
    # keeps distinct-content recaptures distinct — the digest-dedup
    # stage then picks one winner — while byte-identical recaptures
    # share an id and collapse in the same stage.  md5 hex (128-bit)
    # rather than xxhash64: at 10^10+ docs a 64-bit id expects birthday
    # collisions that would conflate unrelated documents
    pages = pages.withColumn(
        "doc_id",
        F.md5(
            F.concat_ws(
                "", F.col("url"), F.md5(F.coalesce(F.col("text"), F.lit("")))
            )
        ),
    )
    pages = count_stage("ingest", pages)

    langs = tuple(x.strip() for x in args.langs.split(",") if x.strip())
    verdicts = filter_verdict(
        pages, min_chars=args.min_chars, langs=langs
    )
    screened = pages.join(
        verdicts.filter(F.col("keep")).select("doc_id"), "doc_id", "leftsemi"
    )
    screened = count_stage("screen", screened)

    # exact dedup: min-doc_id winner per content digest (agg + semi-join
    # — map-side combinable, no window over the corpus)
    winners = (
        screened.groupBy(F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("_d"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # dropDuplicates: byte-identical recaptures share a doc_id (by
    # construction above) and a semi-join alone would keep every copy —
    # the rows are indistinguishable, so keeping exactly one is
    # deterministic
    deduped = screened.join(winners, "doc_id", "leftsemi").dropDuplicates(
        ["doc_id"]
    )
    deduped = count_stage("dedup", deduped)

    # optional trained-classifier quality filter: score with the
    # broadcast weight table (train_quality_classifier output), pick
    # the keep threshold from the bounded score histogram, keep
    # at-or-above — the GPT-3-style "classify the crawl against a
    # reference corpus" stage, deployed exactly like the other gates
    if args.classifier_weights:
        from sagan_spark.ops.webclean import (
            calibrate_keep_threshold,
            hashed_linear_score,
        )

        weights = spark.read.format(args.format).load(args.classifier_weights)
        scores = hashed_linear_score(
            deduped, weights=weights.select("bucket", "weight_milli")
        )
        th = calibrate_keep_threshold(
            scores, keep_ppm=args.classifier_keep_ppm
        ).collect()[0]  # ONE row — the histogram agg, not the corpus
        kept = scores.filter(F.col("score") >= th.threshold).select("doc_id")
        deduped = deduped.join(kept, "doc_id", "leftsemi")
        deduped = count_stage("classifier", deduped)

    capped = domain_quota_sample(deduped, cap=args.domain_cap)
    capped = count_stage("quota", capped)

    final = deterministic_sample(capped, args.sample, salt="corpus")
    final = count_stage("sample", final)

    write_table(final, args.output, args.format)

    if args.metrics:
        ledger = spark.createDataFrame(
            [(args.run_id, n, int(c)) for n, c in counters],
            "run_id string, stage string, n_rows long",
        )
        overwrite_partition(ledger, f"{args.metrics}/stages", ["run_id"])
        mark_run_completed(spark, args.metrics, args.run_id)

    print({
        "run_id": args.run_id,
        "stages": {n: int(c) for n, c in counters},
        "output": args.output,
    })
    spark.stop()


if __name__ == "__main__":
    main()
