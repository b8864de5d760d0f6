"""spark-submit entry point for the analysis stage (M5): extracted table →
per-document report table partitioned by lang + corpus rollup.

Usage (master: spark-submit's --master; package ships via --py-files):

  spark-submit --master local[32] --py-files pdf_extract_spark.zip \
      jobs/analyze_job.py --input <extract_out_dir> --output /path/out

`--input` is the OUTPUT directory of jobs/extract_job.py: the clean rows
(status=ok partitions) are read through the same partition-pruned path the
engine uses everywhere (plans/pipeline.extracted_ok).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="extract_job output dir (reads status=ok rows)")
    ap.add_argument("--output", required=True)
    args = ap.parse_args()

    from pdf_extract_spark.plans.analyze import run_analysis
    from pdf_extract_spark.plans.pipeline import extracted_ok
    from pdf_extract_spark.session import get_spark

    spark = get_spark(app_name="analyze")
    try:
        ok = extracted_ok(spark, args.input)
        t0 = time.monotonic()
        stats = run_analysis(spark, ok, args.output)
        stats["wall_s"] = round(time.monotonic() - t0, 3)
        print(json.dumps(stats))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
