"""spark-submit entry point for the extraction pipeline.

Usage (master: spark-submit's --master; package ships via --py-files):

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
    args = ap.parse_args()

    from pdf_extract_spark.plans.pipeline import run_extraction
    from pdf_extract_spark.session import get_spark
    from pdf_extract_spark.sources import read_pages

    spark = get_spark(app_name=f"extract-{args.run_id}")
    try:
        pages = read_pages(spark, args.input, args.partitions)

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
