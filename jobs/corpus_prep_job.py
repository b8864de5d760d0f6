"""spark-submit entry point for the fused corpus-preparation pipeline:
extract -> clean (normalize+PII) -> quality/domain gate -> paragraph
dedup -> document dedup -> train/val/test split + decontam flags ->
sequence packing, each stage committed with lineage and resumable.

Usage (master: spark-submit's --master; package ships via --py-files):

  spark-submit --master local[32] --py-files pdf_extract_spark.zip \
      jobs/corpus_prep_job.py --input <pages_parquet|synth:N> \
      --output /path/out [--partitions N]

Re-running the same command after a crash resumes from the first
uncommitted stage (stage-granular; see plans/corpus.py commit protocol).
``--fail-after <stage>`` is the crash-injection hook used by the resume
tests and BENCH runs — it kills the job at the worst crash point of the
named stage (data written, commit marker not yet published).
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
    ap.add_argument("--partitions", type=int, default=None,
                    help="decode partitions and synth: splits (default: "
                         "one per input split, at least one per core)")
    ap.add_argument("--fail-after", default=None, choices=[None] + [
        "extract", "clean", "gate", "classify", "dedup_para", "dedup_doc",
        "cut_spans", "split", "pack"], help="crash-injection test hook")
    ap.add_argument("--cut-spans", action="store_true",
                    help="enable the optional ExactSubstr span-excision "
                         "stage (Lee et al. 2022) between dedup_doc and "
                         "split; must be stable across resumes of one "
                         "--output dir")
    args = ap.parse_args()

    from pdf_extract_spark.plans.corpus import run_corpus_prep
    from pdf_extract_spark.session import get_spark
    from pdf_extract_spark.sources import read_pages

    spark = get_spark(app_name="corpus-prep")
    try:
        pages = read_pages(spark, args.input, args.partitions)

        t0 = time.monotonic()
        stats = run_corpus_prep(spark, args.output, pages=pages,
                                num_partitions=args.partitions,
                                fail_after=args.fail_after,
                                cut_spans=args.cut_spans)
        wall = time.monotonic() - t0
        n_in = stats["stages"]["extract"]["n_in"]
        stats["wall_s"] = round(wall, 3)
        stats["docs_per_s"] = round(n_in / wall, 2) if wall > 0 else 0.0
        print(json.dumps(stats))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
