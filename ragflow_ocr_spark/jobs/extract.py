"""spark-submit entry point for the extraction job (north rule:
``spark-submit --py-files ragflow_ocr_spark.zip jobs/extract.py``).

Usage:
    spark-submit --py-files ragflow_ocr_spark.zip \
        ragflow_ocr_spark/jobs/extract.py \
        --input  <pages parquet/Iceberg path> \
        --output <job root (extracted/ + checkpoint/ live under it)> \
        [--buckets 256] [--synthesize N]

Idempotent + resumable: rerunning after a failure skips completed
buckets (the done bucket ids read from the checkpoint table are
filtered out) and rewrites only pending ones.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="web-scale extraction job")
    p.add_argument("--input", help="pages table path (url, warc_ts, html, text, lang)")
    p.add_argument("--output", required=True, help="job root directory")
    p.add_argument("--buckets", type=int, default=256, help="resume granularity")
    p.add_argument(
        "--group-size",
        type=int,
        default=8,
        help="buckets per Spark job: lost work on failure <= one group; "
        "input scans = buckets/group_size",
    )
    p.add_argument(
        "--synthesize",
        type=int,
        default=0,
        help="generate N deterministic synthetic pages instead of --input",
    )
    args = p.parse_args(argv)
    # validate BEFORE paying SparkSession startup (tens of seconds on a
    # cluster); conflicting flags are an error, not a silent preference
    if bool(args.synthesize) == bool(args.input):
        p.error("exactly one of --input / --synthesize is required")

    from ragflow_ocr_spark.spark import synth
    from ragflow_ocr_spark.spark.pipeline import run_extract_job
    from ragflow_ocr_spark.spark.session import get_spark

    spark = get_spark(app_name="ragflow-ocr-extract")
    if args.synthesize:
        pages = synth.pages_df(spark, args.synthesize)
    else:
        pages = spark.read.parquet(args.input)

    summary = run_extract_job(
        spark,
        pages,
        args.output,
        n_buckets=args.buckets,
        bucket_group_size=args.group_size,
    )
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
