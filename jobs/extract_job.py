"""spark-submit entry point for the extraction pipeline.

Usage (cluster: swap master/conf; package ships via --py-files):

  spark-submit --master local[32] --py-files pdf_extract_spark.zip \
      jobs/extract_job.py --input <pages_parquet|synth:N> \
      --output /path/out --run-id r1 [--partitions N]

`--input synth:N` synthesizes N deterministic fixture pages on the
executors (no driver materialization) — used by BENCH and smoke runs.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="pages parquet path, synth:N for fixture pages, "
                         "or warc:<glob> for WARC archives")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="run1")
    ap.add_argument("--partitions", type=int, default=None,
                    help="decode partitions and synth: splits (default: "
                         "one per input split, at least one per core)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pdf_extract_spark.session import get_spark
    from pdf_extract_spark.plans.pipeline import run_extraction

    spark = get_spark(master=args.master, app_name=f"extract-{args.run_id}")
    try:
        if args.input.startswith("synth:"):
            from pdf_extract_spark.sources.synth_pages import synth_pages
            n = int(args.input.split(":", 1)[1])
            pages = synth_pages(spark, n, partitions=args.partitions
                                or spark.sparkContext.defaultParallelism)
        elif args.input.startswith("warc:"):
            from pdf_extract_spark.sources.warc import read_warc
            pages = read_warc(spark, args.input.split(":", 1)[1])
        else:
            pages = spark.read.parquet(args.input)

        t0 = time.monotonic()
        stats = run_extraction(spark, pages, args.output,
                               run_id=args.run_id,
                               num_partitions=args.partitions)
        wall = time.monotonic() - t0
        stats["wall_s"] = round(wall, 3)
        stats["docs_per_s"] = round(stats["n_in"] / wall, 2) if wall > 0 else 0.0
        print(json.dumps(stats))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
