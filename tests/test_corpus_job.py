"""End-to-end tests for the fused corpus-preparation job
(plans/corpus.py): planted duplicates flow to the right stage's
quarantine, kill-and-resume converges to the identical final digest
without recomputing committed stages, and the packed sequence map equals
a naive single-window reference."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from pdf_extract_spark.plans.corpus import (
    CorpusJobInterrupted,
    corpus,
    dedup_documents,
    job_digest,
    quarantine_all,
    run_corpus_prep,
    sequences,
    PACK_BUDGET,
)

N_SYNTH = 240
N_PAIRS = 8
N_MISDECL = 2  # pages whose declared lang contradicts their text
TS = dt.datetime(2024, 5, 1, tzinfo=dt.timezone.utc)


def _para(pair: int, perturbed: bool) -> str:
    # 60 unique-ish words per pair; the perturbed copy changes one word in
    # the middle -> 3-gram Jaccard ~ 55/61 >> 0.5, but the paragraph TEXT
    # differs, so both copies survive corpus-wide paragraph dedup and the
    # pair must be caught by the document-level MinHash pass.
    words = [f"tok{pair}w{k}" for k in range(60)]
    if perturbed:
        words[30] = f"CHANGED{pair}"
    return " ".join(words)


def _planted_rows():
    rows = []
    for p in range(N_PAIRS):
        for tag, pert in (("a", False), ("b", True)):
            html = (f"<html><body><article><h2>planted {p}{tag}</h2>"
                    f"<p>{_para(p, pert)}</p></article>"
                    "</body></html>").encode()
            rows.append((f"https://plant{p}.example.com/{tag}", TS, html,
                         None, "en"))
    return rows


def _misdeclared_rows():
    """Long English-vocab articles DECLARED as zh — the classify stage's
    CCNet rule (predicted lang != declared, with margin) must quarantine
    exactly these; every honestly-declared page passes because the NB fit
    includes each doc's own tokens in its declared class."""
    from pdf_extract_spark.fixtures.pages import _WORDS
    rows = []
    for m in range(N_MISDECL):
        body = " ".join(_WORDS[(m * 7 + k) % len(_WORDS)]
                        for k in range(300))
        html = (f"<html><body><article><h2>misdeclared {m}</h2>"
                f"<p>{body}</p></article></body></html>").encode()
        rows.append((f"https://misdecl{m}.example.com/a", TS, html,
                     None, "zh"))
    return rows


def _pages(spark):
    from pdf_extract_spark.sources.synth_pages import synth_pages
    base = synth_pages(spark, N_SYNTH, partitions=8)
    planted = spark.createDataFrame(
        _planted_rows() + _misdeclared_rows(),
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    return base.unionByName(planted)


@pytest.fixture(scope="module")
def job(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("corpus") / "job")
    stats = run_corpus_prep(spark, out, pages=_pages(spark),
                            num_partitions=16)
    return out, stats


def test_all_stages_ran_and_accounted(job, spark):
    out, stats = job
    assert [s for s in stats["stages"]] == [
        "extract", "clean", "gate", "classify", "dedup_para", "dedup_doc",
        "split", "pack"]
    for name, s in stats["stages"].items():
        assert s["status"] == "ran"
        if name not in ("extract", "pack"):
            # conservation: docs in = docs out + quarantined
            assert s["n_in"] == s["n_out"] + s["n_quarantined"], name
    assert stats["stages"]["extract"]["n_in"] == (
        N_SYNTH + 2 * N_PAIRS + N_MISDECL)
    # adversarial synth pages (empty/truncated/non-utf8) must be in
    # quarantine, not silently dropped
    q = {r["error"] for r in quarantine_all(spark, out).collect()}
    assert {"empty_payload", "truncated_pdf", "invalid_utf8"} <= q


def test_misdeclared_lang_quarantined_at_classify(job, spark):
    """Precision property of the classify gate: every quarantined doc is
    GENUINELY misdeclared — either a planted misdeclared page or one of
    the fixture's real label bugs (make_pdf emits English text regardless
    of the declared lang, so every non-en PDF is misdeclared; only those
    with enough in-vocabulary evidence clear the CLS_MARGIN bar). Both
    plants MUST be caught; no honestly-labeled page may be flagged."""
    from pdf_extract_spark.fixtures.pages import make_rows_at

    out, stats = job
    rows = [r for r in quarantine_all(spark, out).collect()
            if r["stage"] == "classify"]
    assert len(rows) == stats["stages"]["classify"]["n_quarantined"]
    urls = {r["url"] for r in rows}
    plants = {f"https://misdecl{m}.example.com/a" for m in range(N_MISDECL)}
    assert plants <= urls  # recall on the planted mislabels
    assert all(r["error"].startswith("lang_mismatch:") for r in rows)
    # precision: every non-plant flag is a fixture-misdeclared PDF —
    # a %PDF- payload whose PREDICTED language (carried in the error)
    # differs from the declared one. make_pdf emits en text for layout
    # kinds and fr/de text for the encoded kind, always independent of
    # the declared lang, so any flagged PDF is a genuine fixture label
    # bug; no HTML page (whose declared lang is honest) may be flagged.
    by_url = {r["url"]: r["error"].split(":", 1)[1] for r in rows}
    idx = [int(u.rsplit("/", 1)[1]) for u in urls - plants]
    assert idx, "the fixture's real label bugs should be caught too"
    for i, (u, _, payload, _, lang) in zip(sorted(idx),
                                           make_rows_at(sorted(idx))):
        assert payload[:5] == b"%PDF-" and by_url[u] != lang, i


def test_planted_near_dups_collapse(job, spark):
    out, _ = job
    final_urls = {r["url"] for r in corpus(spark, out).select("url").collect()}
    quar = {r["url"]: r for r in quarantine_all(spark, out).collect()}
    for p in range(N_PAIRS):
        a = f"https://plant{p}.example.com/a"
        b = f"https://plant{p}.example.com/b"
        kept = {a, b} & final_urls
        assert len(kept) == 1, f"pair {p}: expected exactly one survivor"
        lost = ({a, b} - kept).pop()
        row = quar[lost]
        assert row["stage"] == "dedup_doc"
        assert row["error"] == f"near_duplicate_of:{kept.pop()}"


def test_exact_dup_pass_unit(spark):
    # the exact pass inside dedup_documents (in the fused job it is a
    # safety net behind paragraph dedup; standalone it must catch
    # byte-identical docs in one groupBy)
    docs = spark.createDataFrame(
        [("u1", TS, "en", "same text here", "s"),
         ("u2", TS, "en", "same text here", "s"),
         ("u3", TS, "en", "completely different words", "d")],
        "url string, warc_ts timestamp, lang string, text string, "
        "text_sha string")
    kept, dropped = dedup_documents(docs)
    kept_urls = {r["url"] for r in kept.collect()}
    drops = {r["url"]: r["error"] for r in dropped.collect()}
    assert "u3" in kept_urls
    assert len({"u1", "u2"} & kept_urls) == 1
    (lost,) = {"u1", "u2"} - kept_urls
    assert drops[lost].startswith("exact_duplicate_of:")


def test_split_deterministic_and_flagged(job, spark):
    out, _ = job
    c = corpus(spark, out)
    splits = {r["split"] for r in c.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}
    # content-independence: split depends on url alone
    from pyspark.sql import functions as FF
    r = c.select(
        "url", "split",
        FF.when(FF.pmod(FF.xxhash64(FF.concat(FF.lit("split#"),
                                              FF.col("url"))), FF.lit(16))
                < 12, "train")
        .when(FF.pmod(FF.xxhash64(FF.concat(FF.lit("split#"),
                                            FF.col("url"))), FF.lit(16))
              < 14, "val").otherwise("test").alias("expect"))
    assert r.filter(FF.col("split") != FF.col("expect")).count() == 0
    # train rows carry contam_frac 0; eval rows are in [0, 1]
    assert c.filter((F.col("split") == "train")
                    & (F.col("contam_frac") != 0.0)).count() == 0
    assert c.filter((F.col("contam_frac") < 0)
                    | (F.col("contam_frac") > 1)).count() == 0


def test_pack_equals_naive_window(job, spark):
    out, _ = job
    from pyspark.sql.window import Window
    train = (corpus(spark, out).filter(F.col("split") == "train")
             .select("url",
                     F.size(F.split("text", "[ \n]+")).cast("bigint")
                     .alias("n_tok"),
                     F.xxhash64("url").alias("ord")))
    w = Window.orderBy("ord", "url").rowsBetween(
        Window.unboundedPreceding, -1)
    naive = (train.withColumn(
        "off", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
        .filter(F.col("n_tok") > 0)
        .select("url", "n_tok", "off",
                F.explode(F.sequence(
                    F.expr(f"off DIV {PACK_BUDGET}"),
                    F.expr(f"(off + n_tok - 1) DIV {PACK_BUDGET}")))
                .alias("seq_id"))
        .select(F.col("seq_id").cast("bigint").alias("seq_id"), "url",
                F.greatest("off", F.expr(f"seq_id * {PACK_BUDGET}"))
                .cast("bigint").alias("tok_begin"),
                F.least(F.expr("off + n_tok"),
                        F.expr(f"(seq_id + 1) * {PACK_BUDGET}"))
                .cast("bigint").alias("tok_end")))
    got = {tuple(r) for r in sequences(spark, out).collect()}
    want = {tuple(r) for r in naive.collect()}
    assert got == want
    # every sequence except the last is exactly PACK_BUDGET tokens
    per_seq = (sequences(spark, out).groupBy("seq_id")
               .agg(F.sum(F.col("tok_end") - F.col("tok_begin"))
                    .alias("tok")).collect())
    last = max(r["seq_id"] for r in per_seq)
    for r in per_seq:
        if r["seq_id"] != last:
            assert r["tok"] == PACK_BUDGET


@pytest.mark.parametrize("crash_stage,prev_stage", [
    ("gate", "clean"),
    ("classify", "gate"),   # the model-fit stage: resume must refit
])
def test_kill_and_resume_identical(spark, tmp_path, job, crash_stage,
                                   prev_stage):
    out_ref, ref_stats = job
    out = str(tmp_path / f"resumed_{crash_stage}")
    # crash at the worst point of the stage: data written, marker missing
    with pytest.raises(CorpusJobInterrupted):
        run_corpus_prep(spark, out, pages=_pages(spark),
                        num_partitions=16, fail_after=crash_stage)
    # the crashed stage's partial data is visible on disk, uncommitted
    assert os.path.isdir(os.path.join(out, "stages", crash_stage))
    assert not os.path.exists(
        os.path.join(out, "lineage", f"{crash_stage}.parquet"))
    marker = os.path.join(out, "lineage", f"{prev_stage}.parquet")
    mtime_before = os.path.getmtime(marker)

    stats = run_corpus_prep(spark, out, pages=_pages(spark),
                            num_partitions=16)
    # committed stages skipped, crashed stage recomputed
    assert stats["stages"]["extract"]["status"] == "skipped"
    assert stats["stages"][prev_stage]["status"] == "skipped"
    assert stats["stages"][crash_stage]["status"] == "ran"
    assert os.path.getmtime(marker) == mtime_before
    # converges to the byte-identical published tables
    assert job_digest(out) == job_digest(out_ref)
    # and per-stage lineage agrees with the uninterrupted run
    for name, s in stats["stages"].items():
        ref = ref_stats["stages"][name]
        assert (s["n_out"], s["n_quarantined"], s["digest"]) == \
            (ref["n_out"], ref["n_quarantined"], ref["digest"]), name


def test_rerun_of_complete_job_is_all_skips(spark, job):
    out, _ = job
    stats = run_corpus_prep(spark, out, pages=None, num_partitions=16)
    assert all(s["status"] == "skipped" for s in stats["stages"].values())


def test_export_jsonl_roundtrip(job, spark, tmp_path):
    """The JSONL export must hold exactly the train-split documents,
    readable back by any JSON-lines consumer, gzip'd executor-side."""
    import glob
    import gzip
    import json as _json

    from pdf_extract_spark.plans.corpus import corpus, export_jsonl

    out, _ = job
    dest = str(tmp_path / "train_jsonl")
    export_jsonl(spark, out, dest, split="train")
    train = corpus(spark, out).filter("split = 'train'")
    back = spark.read.json(dest)
    assert back.count() == train.count()
    assert set(back.columns) == {"url", "lang", "text"}
    parts = glob.glob(f"{dest}/part-*.json.gz")
    assert parts, "expected gzip part files"
    with gzip.open(parts[0], "rt") as fh:
        row = _json.loads(fh.readline())
    assert {"url", "lang", "text"} <= set(row)


def test_export_jsonl_ordered_is_globally_sorted(job, spark, tmp_path):
    """ordered=True must produce a globally url-sorted byte stream when
    part files are concatenated in name order — via range partitioning,
    never a single-task global sort (plan-asserted: the exchange is a
    rangepartitioning, not SinglePartition)."""
    import glob
    import gzip
    import json as _json

    from pdf_extract_spark.plans.corpus import corpus, export_jsonl

    out, _ = job
    dest = str(tmp_path / "ordered_jsonl")
    export_jsonl(spark, out, dest, split="train", ordered=True)
    urls = []
    for path in sorted(glob.glob(os.path.join(dest, "part-*.json.gz"))):
        with gzip.open(path, "rt") as f:
            urls.extend(_json.loads(line)["url"] for line in f)
    assert urls == sorted(urls)
    expect = {r["url"] for r in corpus(spark, out)
              .filter(F.col("split") == "train").select("url").collect()}
    assert set(urls) == expect and len(urls) == len(expect)
    # plan shape: range partitioning, no single-partition funnel
    df = (corpus(spark, out).filter(F.col("split") == "train")
          .select("url", "lang", "text")
          .repartitionByRange(8, "url").sortWithinPartitions("url"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan


def test_classify_docs_adversarial_labels_and_plan(spark):
    """classify_docs must never interpolate crawl-sourced lang values into
    SQL text (quotes/brackets in labels are attacker/author-controlled),
    and its predict pass must be the pivoted shape: one broadcast hash
    join, no ×C cross join, no window."""
    from pdf_extract_spark.plans.corpus import classify_docs

    rows = []
    for i, lang in enumerate(["en", "x'); --", 'q"`[m]', "en", "en"]):
        rows.append((f"https://t{i}.example.com/", TS, lang,
                     "html" if i % 2 == 0 else "pdf",
                     "plain words here " * 20, f"sha{i}"))
    docs = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, lang string, "
              "doc_kind string, text string, text_sha string")
    out = classify_docs(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    got = {r["url"]: r for r in out.collect()}  # must not raise
    assert len(got) == 5
    assert all(r["pred_lang"] is not None for r in got.values())


def test_classify_docs_all_pdf_corpus_passes_through(spark):
    """No trusted (HTML) labels anywhere -> nothing can be audited: the
    stage must pass every doc (previously: IndexError at plan build)."""
    from pdf_extract_spark.plans.corpus import classify_docs

    docs = spark.createDataFrame(
        [(f"https://p{i}.example.com/", TS, "en", "pdf",
          "pdf words " * 10, f"s{i}") for i in range(4)],
        "url string, warc_ts timestamp, lang string, doc_kind string, "
        "text string, text_sha string")
    out = classify_docs(docs).collect()
    assert len(out) == 4 and all(r["keep"] for r in out)
    assert all(r["lang_margin"] == 0 for r in out)


def test_report_pieces_match_lineage(job, spark):
    """The report job's three sections derive purely from committed
    artifacts: the funnel equals the per-stage lineage, the quarantine
    taxonomy sums to the funnel's quarantine total, and the split/lang
    breakdown covers the final corpus exactly."""
    from pdf_extract_spark.plans.corpus import (
        STAGES, _read_stage_lineage, corpus, quarantine_all)

    out, stats = job
    ran = list(stats["stages"])  # optional stages absent when disabled
    for stage in ran:
        lin = _read_stage_lineage(out, stage)
        assert lin is not None
        assert lin["n_out"] == stats["stages"][stage]["n_out"], stage
    assert set(ran) == set(STAGES) - {"cut_spans"}
    n_quar = sum(stats["stages"][s]["n_quarantined"] for s in ran)
    assert quarantine_all(spark, out).count() == n_quar
    n_final = stats["stages"]["split"]["n_out"]
    bd = (corpus(spark, out).groupBy("split", "lang").count().collect())
    assert sum(r["count"] for r in bd) == n_final


def test_partial_run_taxonomy_reads_only_committed_stages(spark, tmp_path):
    """A stage that crashed AFTER writing its quarantine rows but BEFORE
    its commit marker must be invisible to committed_only readers: on a
    partial run the taxonomy would otherwise include uncommitted rows and
    stop summing to the funnel (the report job's conservation law)."""
    out = str(tmp_path / "partial")
    with pytest.raises(CorpusJobInterrupted):
        run_corpus_prep(spark, out, pages=_pages(spark),
                        num_partitions=16, fail_after="gate")
    # the crashed stage's quarantine data is on disk, marker missing
    assert os.path.isdir(os.path.join(out, "stages", "gate", "data",
                                      "st=err"))
    assert not os.path.exists(os.path.join(out, "lineage", "gate.parquet"))
    committed = quarantine_all(spark, out, committed_only=True)
    stages_seen = {r["stage"] for r in committed.collect()}
    assert "gate" not in stages_seen
    assert stages_seen <= {"extract", "clean"}
    # the raw union (forensics default) still shows the crashed rows
    raw = {r["stage"] for r in quarantine_all(spark, out).collect()}
    assert "gate" in raw
    # conservation: committed taxonomy == sum of committed markers
    from pdf_extract_spark.plans.corpus import _read_stage_lineage
    n_committed = sum(
        _read_stage_lineage(out, s)["n_quarantined"]
        for s in ("extract", "clean"))
    assert committed.count() == n_committed


def test_classify_docs_unseen_declared_lang_not_exempt(spark):
    """A declared lang with NO trusted examples scores at the uniform
    floor, so a doc that confidently looks like a fitted class is still
    quarantined (previously own=NULL -> margin coalesced to 0 and any
    rare-lang declaration silently bypassed the CCNet gate), while a
    genuinely out-of-model doc stays near the floor and passes."""
    from pdf_extract_spark.plans.corpus import classify_docs

    en_text = "plain english words appear throughout this page " * 20
    oov_text = " ".join(f"zq{i}xv{i * 7 % 97}" for i in range(160))
    rows = [
        # trusted fit set: two English HTML pages
        ("https://f0.example.com/", TS, "en", "html", en_text, "s0"),
        ("https://f1.example.com/", TS, "en", "html", en_text, "s1"),
        # confident mislabel of an UNSEEN lang: English text declared xx
        ("https://bad.example.com/", TS, "xx", "pdf", en_text, "s2"),
        # unseen lang with out-of-model text: must pass (near the floor)
        ("https://ok.example.com/", TS, "yy", "pdf", oov_text, "s3"),
    ]
    docs = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, lang string, "
              "doc_kind string, text string, text_sha string")
    got = {r["url"]: r for r in classify_docs(docs).collect()}
    bad = got["https://bad.example.com/"]
    assert not bad["keep"] and bad["pred_lang"] == "en"
    assert got["https://ok.example.com/"]["keep"]
    assert got["https://f0.example.com/"]["keep"]


def test_lineage_format_mismatch_fails_fast(spark, tmp_path):
    """A commit marker written by an incompatible pipeline version (wrong
    or missing fmt stamp) must abort resume with instructions, never
    silently reinterpret the committed stage tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extract_spark.plans.corpus import _read_stage_lineage

    out = str(tmp_path / "oldfmt")
    os.makedirs(os.path.join(out, "lineage"))
    pq.write_table(
        pa.table({"stage": ["extract"], "n_in": [10], "n_out": [9],
                  "n_quarantined": [1], "digest": ["d"]}),  # no fmt column
        os.path.join(out, "lineage", "extract.parquet"))
    with pytest.raises(RuntimeError, match="incompatible pipeline version"):
        _read_stage_lineage(out, "extract")
    with pytest.raises(RuntimeError, match="incompatible pipeline version"):
        run_corpus_prep(spark, out, pages=None, num_partitions=4)


# --- optional ExactSubstr excision stage -------------------------------------

def _span_pages(spark):
    """Pages where two docs share one long span but are NOT near-dups:
    distinct vocabularies except a 20-word shared run inside a larger
    paragraph (3-gram Jaccard << JACCARD_T, paragraph text differs), so
    nothing upstream of cut_spans may merge them."""
    shared = " ".join(f"sharedrun{k}" for k in range(20))
    def page(tag, body):
        html = (f"<html><body><article><h2>span host {tag}</h2>"
                f"<p>{body}</p></article></body></html>").encode()
        return (f"https://span{tag}.example.com/a", TS, html, None, "en")
    a_body = " ".join(f"avocab{k}" for k in range(60)) + " " + shared
    b_body = " ".join(f"bvocab{k}" for k in range(60)) + " " + shared
    c_body = " ".join(f"cvocab{k}" for k in range(80))
    rows = [page("a", a_body), page("b", b_body), page("c", c_body)]
    from pdf_extract_spark.sources.synth_pages import synth_pages
    return synth_pages(spark, 40, partitions=4).unionByName(
        spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, "
                  "text string, lang string"))


def test_cut_spans_stage_excises_shared_span_once(spark, tmp_path):
    out = str(tmp_path / "cutjob")
    stats = run_corpus_prep(spark, out, pages=_span_pages(spark),
                            num_partitions=8, cut_spans=True)
    assert stats["stages"]["cut_spans"]["status"] == "ran"
    s = stats["stages"]["cut_spans"]
    assert s["n_in"] == s["n_out"] + s["n_quarantined"]
    final = {r["url"]: r["text"] for r in corpus(spark, out).collect()}
    a = final.get("https://spana.example.com/a", "")
    b = final.get("https://spanb.example.com/a", "")
    # exactly ONE of the two keeps the shared run; the loser keeps its own
    # vocabulary intact and loses exactly the span words
    has_a, has_b = "sharedrun0" in a, "sharedrun0" in b
    assert has_a != has_b, (a, b)
    loser = b if has_a else a
    assert "sharedrun" not in loser
    assert all(f"{'b' if has_a else 'a'}vocab{k}" in loser
               for k in range(60))
    # the bystander doc is byte-identical through the stage
    assert "https://spanc.example.com/a" in final
    assert all(f"cvocab{k}" in final["https://spanc.example.com/a"]
               for k in range(80))


def test_cut_spans_kill_and_resume_identical(spark, tmp_path):
    ref = str(tmp_path / "cutref")
    run_corpus_prep(spark, ref, pages=_span_pages(spark),
                    num_partitions=8, cut_spans=True)
    out = str(tmp_path / "cutresume")
    with pytest.raises(CorpusJobInterrupted):
        run_corpus_prep(spark, out, pages=_span_pages(spark),
                        num_partitions=8, cut_spans=True,
                        fail_after="cut_spans")
    assert not os.path.exists(
        os.path.join(out, "lineage", "cut_spans.parquet"))
    stats = run_corpus_prep(spark, out, pages=_span_pages(spark),
                            num_partitions=8, cut_spans=True)
    assert stats["stages"]["dedup_doc"]["status"] == "skipped"
    assert stats["stages"]["cut_spans"]["status"] == "ran"
    assert job_digest(out) == job_digest(ref)


def test_cut_spans_flag_mismatch_guards(spark, tmp_path):
    out = str(tmp_path / "cutflag")
    run_corpus_prep(spark, out, pages=_span_pages(spark),
                    num_partitions=8, cut_spans=True)
    with pytest.raises(RuntimeError, match="cut_spans=False"):
        run_corpus_prep(spark, out, pages=_span_pages(spark),
                        num_partitions=8)
    out2 = str(tmp_path / "nocutflag")
    run_corpus_prep(spark, out2, pages=_span_pages(spark),
                    num_partitions=8)
    with pytest.raises(RuntimeError, match="WITHOUT the cut_spans"):
        run_corpus_prep(spark, out2, pages=_span_pages(spark),
                        num_partitions=8, cut_spans=True)


# --- commit markers and the decode width -------------------------------------

@pytest.fixture(scope="module")
def span_job(spark, tmp_path_factory):
    """The _span_pages job with the decode width left to the job."""
    out = str(tmp_path_factory.mktemp("spanjob") / "job")
    run_corpus_prep(spark, out, pages=_span_pages(spark))
    return out


def test_default_decode_width_matches_explicit(spark, tmp_path, span_job):
    """num_partitions=None sizes the extract decode from the input
    (operators.extract.derived_width, the extraction job's rule); the
    corpus is the same at any width."""
    from pdf_extract_spark.operators.extract import derived_width

    pages = _span_pages(spark)
    assert derived_width(pages) != 3
    out = str(tmp_path / "width3")
    run_corpus_prep(spark, out, pages=pages, num_partitions=3)
    assert job_digest(out) == job_digest(span_job)


def test_torn_stage_marker_reruns_but_unreadable_aborts(spark, tmp_path,
                                                        span_job):
    """A stage marker without the parquet footer magic is a crashed
    publish: it is removed, and its stage and every later one run again
    to the same digest. A marker that ends in PAR1 but cannot be read
    ABORTS the resume: calling its stage uncommitted would delete the
    stage's committed table."""
    out = str(tmp_path / "torn")
    with pytest.raises(CorpusJobInterrupted):
        run_corpus_prep(spark, out, pages=_span_pages(spark),
                        fail_after="gate")
    marker = os.path.join(out, "lineage", "clean.parquet")
    with open(marker, "rb") as f:
        head = f.read()[:50]
    with open(marker, "wb") as f:
        f.write(head)
    stats = run_corpus_prep(spark, out, pages=_span_pages(spark))
    assert {name: s["status"] for name, s in stats["stages"].items()} == {
        "extract": "skipped", "clean": "ran", "gate": "ran",
        "classify": "ran", "dedup_para": "ran", "dedup_doc": "ran",
        "split": "ran", "pack": "ran"}
    assert job_digest(out) == job_digest(span_job)

    with open(marker, "wb") as f:
        f.write(head + b"\x00" * 20 + b"PAR1")
    with pytest.raises(RuntimeError, match="refusing to resume"):
        run_corpus_prep(spark, out, pages=None)
    # the aborted resume removed nothing
    assert os.path.exists(marker)
    assert os.path.isdir(os.path.join(out, "stages", "clean"))


def test_all_quarantined_input_commits_empty_stages(spark, tmp_path):
    """Every page has an empty payload, so extract quarantines all of
    them and no survivor ever reaches a later stage: each stage still
    commits, with zero counts and a null digest, and a rerun skips them
    all."""
    from pdf_extract_spark.fixtures.pages import PAGES_SCHEMA

    rows = [(f"https://empty{i}.example.com/", TS, b"", None, "en")
            for i in range(20)]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    out = str(tmp_path / "allquar")
    stats = run_corpus_prep(spark, out, pages=pages, num_partitions=4)
    got = {name: (s["status"], s["n_in"], s["n_out"], s["n_quarantined"],
                  s["digest"]) for name, s in stats["stages"].items()}
    assert got.pop("extract") == ("ran", 20, 0, 20, None)
    assert got == {name: ("ran", 0, 0, 0, None) for name in (
        "clean", "gate", "classify", "dedup_para", "dedup_doc", "split",
        "pack")}
    assert stats["n_docs"] == 0
    assert job_digest(out) == "None:None"
    assert {r["error"] for r in quarantine_all(spark, out).collect()} == {
        "empty_payload"}

    rerun = run_corpus_prep(spark, out, pages=None, num_partitions=4)
    assert all(s["status"] == "skipped" for s in rerun["stages"].values())
