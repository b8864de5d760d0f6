"""Per-round benchmark. Prints ONE JSON line:

  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "extraction": {...}, "scaling": {...}}

Three phases:
  1. Flagship extraction job (synth pages → decode → partitioned write +
     lineage) at two parallelism levels on the SAME pre-materialized
     parquet input — the sandbox evidence for the north rule's N→4N
     executor scaling criterion (BASELINE.md sandbox protocol).
  2. Headline registry queries at $SPARK_GRAFT_SF_DIR (default sf0.1),
     each timed to a noop sink (full materialization, no output cost).

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 32),
SPARK_GRAFT_BENCH_DOCS (default 20000), SPARK_GRAFT_BENCH_SCALING=0 to
skip the low-parallelism run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "300000"))
DO_SCALING = os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0"
LOW_CPUS = max(CPUS // 4, 1)
REPO = os.path.dirname(os.path.abspath(__file__))

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "window_top_orders_per_customer",
    "events_hourly_rollup",
    "events_sessionize",
    "chunk_fixed_width",
    "page_concat_digest",
    "context_expand",
    "adaptive_topk",
    "knn_topk",
    "variant_merge",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_embedding_lsh",
    "dedup_embedding_cosine",
    "dedup_simhash",
    "dedup_simhash_sql",
    "asof_join_events",
    "events_grouping_sets",
    "json_fence_repair",
    "report_projection",
    "token_stats",
    "entity_extract",
    "extract_roundtrip",
    "summarize_docs",
    "analyze_docs",
    "pii_scrub",
    "seq_pack",
    "quota_sample",
    "dedup_substring",
    "ann_range_search",
    "url_canonicalize",
    "hash_split",
    "top_ngrams",
    "split_contamination",
    "quality_gate",
    "lm_surprisal",
    "domain_gate",
    "ann_sq_topk",
    "text_normalize",
    "winnow_fingerprint",
    "dedup_paragraph",
    # production-hash (xxhash64) fast paths vs their sha oracle twins —
    # the delta is the per-gram hash cost the oracle-parity discipline pays
    "winnow_fingerprint_xx",
    "dedup_paragraph_xx",
    "dedup_substring_xx",
    # round-4 corpus-lifecycle ops; decontam_bloom vs split_contamination
    # shows the bloom-prefilter shuffle reduction on identical output
    "dedup_incremental",
    "dedup_semantic",
    "decontam_bloom",
    "importance_sample",
    # round-4 RefinedWeb/CCNet additions
    "line_dedup",
    "ccnet_bucket",
    "source_mix",
    "link_graph",
    "link_rank",
    # round-4 model-fit-backed curation ops (bpe_train/encode and
    # kmeans_embed pay their driver-side model fit inside the timing;
    # bpe_encode reuses bpe_train's per-sf_dir merge cache)
    "nb_classify",
    "bpe_pair_counts",
    "bpe_train",
    "bpe_encode",
    "kmeans_embed",
    "extract_markdown",
    # round-5 additions: ExactSubstr span EXCISION (vs the older scoring
    # op), and real compressed-codec decode (zlib inflate + numpy
    # unfilter paid inside the timing)
    "dedup_substring_cut",
    "dedup_substring_cut_xx",
    "media_meta_png",
    "media_features_png",
    "media_meta_jpeg",
    "media_features_jpeg",
    "media_meta_gif",
    "media_features_gif",
    "video_frame_dedup",
]


def _materialize_pages(n: int) -> str:
    """Synthesize the fixture pages table once; both scaling runs read the
    identical parquet layout."""
    from pdf_extract_spark.fixtures.pages import FIXTURE_VERSION
    path = f"/tmp/bench_pages_v{FIXTURE_VERSION}_{n}.parquet"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    from pdf_extract_spark.session import get_spark
    from pdf_extract_spark.sources.synth_pages import synth_pages
    spark = get_spark(master=f"local[{CPUS}]", app_name="bench-gen")
    try:
        synth_pages(spark, n, partitions=max(CPUS, 8)).write.mode(
            "overwrite").parquet(path)
    finally:
        spark.stop()
    return path


def _extraction_run(pages_path: str, cpus: int, tag: str,
                    pin: bool = False) -> dict:
    """One measurement in a FRESH pinned process (tools/scale_run.py):
    fresh JVM avoids cross-run heap/cache contamination; taskset pinning
    makes local[N] mean N cores (an unpinned low run borrows idle cores
    for JVM-side work and inflates the baseline)."""
    import subprocess
    out = f"/tmp/bench_out_{tag}"
    shutil.rmtree(out, ignore_errors=True)
    cmd = ["taskset", "-c", f"0-{cpus - 1}"] if pin else []
    cmd += [sys.executable, os.path.join(REPO, "tools", "scale_run.py"),
            "--pages", pages_path, "--cpus", str(cpus), "--out", out]
    # one retry: a measurement subprocess can die to transient host
    # pressure (OOM-killed JVM, tmp contention from a concurrent run);
    # surface ITS stderr on failure instead of a bare CalledProcessError
    for attempt in (1, 2):
        res = subprocess.run(cmd, capture_output=True, text=True)
        if res.returncode == 0:
            break
        sys.stderr.write(f"[bench] scale_run {tag} attempt {attempt} "
                         f"failed (rc={res.returncode}):\n"
                         + res.stderr[-4000:] + "\n")
    else:
        raise RuntimeError(f"scale_run {tag} failed twice; stderr above")
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
    rec = json.loads(line)
    # a rerun on a host that just showed pressure may be silently slower;
    # tag it so contaminated samples are identifiable in aggregates
    if attempt > 1:
        rec["retried"] = True
    return rec


# warm-up uses the smallest sibling SF of the bench data root (falls back
# to SF_DIR itself if no sf0.001 sibling exists)
_warm = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
WARM_SF = _warm if os.path.isdir(_warm) else SF_DIR


def _query_runs() -> dict:
    from pdf_extract_spark.queries import load_all
    from pdf_extract_spark.session import get_spark
    registry = load_all()
    spark = get_spark(master=f"local[{CPUS}]", app_name="bench-queries")
    timings = {}
    info = {}
    try:
        # session warm-up: run the suite once at the smallest SF so JIT,
        # codegen compilation, and parquet-reader init don't all land on
        # whichever query happens to run first (measured: q1 first-run
        # 6.6 s vs 1.45 s steady-state in the same session)
        for name in BENCH_QUERIES:
            registry[name].fn(spark, WARM_SF) \
                .write.format("noop").mode("overwrite").save()
        # Warm the BENCH SF's persisted IVF index too (the warm-up above
        # only builds WARM_SF's): after a fixture regeneration the disk
        # cache is cold and the full index build would land inside
        # ann_ivf_topk's timing, making it non-reproducible across
        # sessions. Build it here and record whether it was cold.
        from pdf_extract_spark.queries.vectors_q import _ivf_index_dir
        t0 = time.monotonic()
        d = _ivf_index_dir(spark, SF_DIR)
        info["ivf_index_warm_s"] = round(time.monotonic() - t0, 3)
        info["ivf_cache_was_cold"] = info["ivf_index_warm_s"] > 0.5
        info["ivf_index_dir"] = d
        for name in BENCH_QUERIES:
            # time plan CONSTRUCTION too: queries that do driver-side setup
            # (index build/reuse, broadcast collect) must pay for it here
            t0 = time.monotonic()
            df = registry[name].fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.monotonic() - t0, 3)
    finally:
        spark.stop()
    return timings, info


def _median_run(pages_path: str, cpus: int, tag: str,
                pin: bool = False, reps: int = 3) -> dict:
    """Median-of-N fresh-process runs: the shared host adds ±15-20% run
    variance, so a single-shot efficiency ratio is noise (round-1
    methodology, BENCH.md)."""
    runs = [_extraction_run(pages_path, cpus, f"{tag}_r{i}", pin=pin)
            for i in range(reps)]
    runs.sort(key=lambda r: r["docs_per_s"])
    return runs[reps // 2]


def main() -> None:
    pages_path = _materialize_pages(N_DOCS)

    high = _median_run(pages_path, CPUS, f"hi{CPUS}")
    scaling = {}
    if DO_SCALING and LOW_CPUS < CPUS:
        def pair(lo: dict, hi: dict) -> dict:
            factor = hi["cpus"] / lo["cpus"]
            return {
                "cpus_low": lo["cpus"], "cpus_high": hi["cpus"],
                "docs_per_s_low": lo["docs_per_s"],
                "docs_per_s_high": hi["docs_per_s"],
                "efficiency": round(
                    hi["docs_per_s"] / (factor * lo["docs_per_s"]), 3),
            }
        mid = _median_run(pages_path, LOW_CPUS, f"lo{LOW_CPUS}", pin=True)
        scaling = {"pair_shared_box": pair(mid, high)}
        low2 = max(CPUS // 16, 1)
        if low2 < LOW_CPUS:
            tiny = _median_run(pages_path, low2, f"lo{low2}", pin=True)
            # executor proxy: both sizes pinned, machine unsaturated — each
            # "cluster size" gets dedicated cores (see BENCH.md methodology)
            scaling["pair_executor_proxy"] = pair(tiny, mid)
        scaling["note"] = ("pair_shared_box is memory-bandwidth-bound on one "
                          "box; pair_executor_proxy is the N->4N executor "
                          "analog — controls in BENCH.md")

    queries, query_info = _query_runs()
    total = round(sum(queries.values()) + high["wall_s"], 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        pass
    print(json.dumps({
        "metric": "extraction+headline-queries wall",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "extraction": high,
        "scaling": scaling,
        "query_info": query_info,
    }))


if __name__ == "__main__":
    main()
