#!/usr/bin/env python3
"""Production extraction job for spark-submit.

Usage:
  spark-submit --py-files dce_spark.zip jobs/extract_job.py \
      --input  /path/to/pages_parquet_or_iceberg \
      --output /path/to/extracted \
      [--buckets 256] [--buckets-per-commit 16] [--mode both]
      [--max-commits N] [--input-format parquet|warc]

--input-format warc ingests Common-Crawl-style .warc(.gz) archives
directly (streaming record reader, chunked/Content-Encoding decode)
through the same bucket-committed, resumable pipeline.

Resumable: rerunning with the same --output continues from the last
committed bucket manifest. On a cluster, package the library with
  zip -qr dce_spark.zip dce_spark   (from the repository root)
and pass it via --py-files.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--buckets-per-commit", type=int, default=16)
    ap.add_argument("--mode", default="both",
                    choices=["content", "article", "both", "all"])
    ap.add_argument("--max-commits", type=int, default=None)
    ap.add_argument("--input-format", default="parquet",
                    choices=["parquet", "warc"],
                    help="warc: read .warc(.gz) archives directly")
    args = ap.parse_args()

    from dce_spark.spark.pipeline import read_manifest, run_pipeline
    from dce_spark.spark.session import get_spark

    spark = get_spark(app_name="dce-extract")
    result = run_pipeline(
        spark,
        args.input,
        args.output,
        buckets=args.buckets,
        buckets_per_commit=args.buckets_per_commit,
        mode=args.mode,
        max_commits=args.max_commits,
        input_format=args.input_format,
    )
    manifest = read_manifest(spark, args.output)
    stats = manifest.groupBy().sum("url_count", "pages_ok", "pages_failed").collect()
    if stats and stats[0][0] is not None:
        result.update(
            {
                "urls_total": stats[0][0],
                "pages_ok": stats[0][1],
                "pages_failed": stats[0][2],
            }
        )
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
