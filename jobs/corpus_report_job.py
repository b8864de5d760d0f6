"""Post-run observability for a finished (or partial) corpus-prep job:
read ONLY the committed lineage markers and stage tables and print one
JSON report — the stage funnel (docs in/out/quarantined per stage, from
the commit markers, never recomputed), the quarantine taxonomy (error ->
count), and the final corpus breakdown by split x lang.

spark-submit --py-files pdf_extract_spark.zip jobs/corpus_report_job.py \
    --job <corpus_prep --output dir>

Reference lifecycle analog: the report stage of /root/reference/main.py
(the run's terminal artifact summarizing what happened to the document);
at corpus scale the "document" is the whole crawl and the report is the
funnel. Scale shape: lineage markers are a handful of tiny parquet
files; the taxonomy and breakdown are one map-side-combined groupBy
each over the quarantine/corpus tables — nothing corpus-sized reaches
the driver beyond the grouped counts.
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", required=True,
                    help="a corpus_prep_job --output directory")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from pdf_extract_spark.plans.corpus import (
        STAGES, _read_stage_lineage, corpus, quarantine_all)
    from pdf_extract_spark.session import get_spark

    spark = get_spark(app_name="corpus-report")
    try:
        funnel = {}
        for stage in STAGES:
            lin = _read_stage_lineage(args.job, stage)
            if lin is None and not os.path.isdir(
                    os.path.join(args.job, "stages", stage)):
                continue  # optional stage never enabled for this job
            funnel[stage] = (
                {k: lin[k] for k in ("n_in", "n_out", "n_quarantined",
                                     "digest")}
                if lin is not None else "uncommitted")
        # committed_only: a crashed stage may hold quarantine data on
        # disk without its marker — those rows are outside any committed
        # accounting and would break taxonomy-vs-funnel conservation on
        # a partial run (module docstring: committed state only)
        taxonomy = {
            f"{r['stage']}:{r['error']}": r["n"]
            for r in (quarantine_all(spark, args.job, committed_only=True)
                      .groupBy("stage", "error")
                      .agg(F.count("*").cast("bigint").alias("n"))
                      .collect())}
        breakdown = {}
        if funnel.get("split") != "uncommitted":
            breakdown = {
                f"{r['split']}/{r['lang']}": {
                    "docs": r["docs"], "chars": r["chars"]}
                for r in (corpus(spark, args.job)
                          .groupBy("split", "lang")
                          .agg(F.count("*").cast("bigint").alias("docs"),
                               F.sum(F.length("text")).cast("bigint")
                               .alias("chars"))
                          .collect())}
        print(json.dumps({
            "job": args.job,
            "funnel": funnel,
            "quarantine": dict(sorted(taxonomy.items())),
            "corpus": dict(sorted(breakdown.items())),
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
