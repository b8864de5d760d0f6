"""Single scaling-protocol measurement: run the extraction job
(``--job extract``, the default) or the fused corpus-prep job
(``--job corpus``: extract -> clean -> gate -> classify -> paragraph
dedup -> document dedup -> split -> pack) in THIS process at a given
parallelism and print one JSON line.

    python tools/scale_run.py --pages <pages.parquet> --cpus 8 --out <dir> \\
        [--job corpus] [--no-warmup]

Methodology (BASELINE.md sandbox protocol):
- caller pins the process to N cores via `taskset -c 0-(N-1)` so local[N]
  really means N cores — an unpinned local[8] on a 32-core box borrows
  idle cores for JVM-side Arrow/parquet work and inflates the baseline;
- a small warm-up job spawns+imports the Python workers before timing
  (cluster executors are warm; we measure throughput, not cold start);
- both jobs size their decode as they do in production
  (operators.extract.derived_width): one url-hash partition per input
  split, never fewer than the cores. Once the input has at least as many
  splits as the larger core count, that width is the input's split count
  at every level — data-determined, as on a real cluster, so scaling 4x
  cores over the same splits is exactly what the N->4N criterion
  measures.

The extraction job stresses the narrow decode path; the corpus job adds
the shuffle-heavy dedup/split/pack stages, which scale differently — the
dedup exchanges are bandwidth-bound where decode is CPU-bound — and its
line carries per-stage wall times.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _warm_up(spark, args) -> None:
    if args.job == "corpus":
        from pdf_extract_spark.plans.corpus import run_corpus_prep
        from pdf_extract_spark.sources.synth_pages import synth_pages
        warm_dir = f"{args.out}_warm"
        shutil.rmtree(warm_dir, ignore_errors=True)
        run_corpus_prep(spark, warm_dir,
                        pages=synth_pages(spark, 1000, partitions=args.cpus),
                        num_partitions=args.cpus)
        shutil.rmtree(warm_dir, ignore_errors=True)
    else:
        from pdf_extract_spark.operators.extract import extract_text
        from pdf_extract_spark.sources.synth_pages import synth_pages
        extract_text(synth_pages(spark, 2000, partitions=args.cpus)) \
            .write.format("noop").mode("overwrite").save()


def _run(spark, args, pages) -> tuple[int, dict]:
    """The timed job: (docs in, extra fields of the printed line)."""
    if args.job == "corpus":
        from pdf_extract_spark.plans.corpus import run_corpus_prep
        stats = run_corpus_prep(spark, args.out, pages=pages)
        return stats["stages"]["extract"]["n_in"], {
            "stage_walls": {s: round(v.get("wall_s", 0.0), 2)
                            for s, v in stats["stages"].items()}}
    from pdf_extract_spark.plans.pipeline import run_extraction
    stats = run_extraction(spark, pages, args.out, run_id=f"scale{args.cpus}")
    return stats["n_in"], {}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--job", choices=("extract", "corpus"), default="extract")
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()

    from pdf_extract_spark.session import get_spark

    spark = get_spark(master=f"local[{args.cpus}]",
                      app_name=f"{args.job}-scale-{args.cpus}")
    if args.job == "corpus":
        # Fixed corpus width: per-partition volume stays the same on both
        # legs, as on a cluster where it follows the data. The extract leg
        # needs none: its decode width is explicit, and it runs no other
        # shuffle.
        spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        if not args.no_warmup:
            _warm_up(spark, args)
        pages = spark.read.parquet(args.pages)
        shutil.rmtree(args.out, ignore_errors=True)
        t0 = time.monotonic()
        docs, extra = _run(spark, args, pages)
        wall = time.monotonic() - t0
        print(json.dumps({"cpus": args.cpus, "docs": docs,
                          "wall_s": round(wall, 2),
                          "docs_per_s": round(docs / wall, 1), **extra}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
