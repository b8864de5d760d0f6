"""Fused corpus-preparation pipeline: the engine's end-to-end product.

One resumable job composing the operators the query registry proves
correct in isolation (reference lifecycle analog: main.py:8-55 /
modules/graphs.py:12-71 run the reference's whole agent graph end to end;
this is the corpus-scale equivalent over Common-Crawl-style pages):

    extract      pages(html binary) -> text           (operators/extract)
    clean        control-char normalize + PII scrub    (text_q/pipeline_q twins)
    gate         per-doc quality + domain reputation   (doc_quality/domain_gate)
    classify     declared-vs-predicted language audit  (model_q.nb_classify twin)
    dedup_para   corpus-wide paragraph dedup (CCNet/C4, dedup_q.dedup_paragraph)
    dedup_doc    exact + MinHash-LSH near-dup clusters  (dedup_q suite)
    split        deterministic train/val/test + decontamination flags
    pack         fixed-budget sequence packing of the train split

Stage-granular commit protocol (plans/commit.py — the extraction job's
rule, at stage rather than run granularity): each stage writes its
output in ONE dynamically-partitioned pass under ``<out>/stages/<name>/
data/st={ok,err}`` (survivors / quarantine — a single write action, so
the stage plan executes exactly once) and is COMMITTED only when its
lineage row — counts + order-insensitive digest — appears at
``<out>/lineage/<name>.parquet`` via an atomic rename. On (re)start, any
stage directory without its lineage file is a crashed partial write and
is deleted wholesale; committed stages are never recomputed — a rerun
after a kill converges to the byte-identical final corpus digest
(test-gated in tests/test_corpus_job.py, including a kill between the
data write and the commit marker, the worst crash point, and a torn
marker). run_corpus_prep reads every stage marker once, then walks the
stages in one loop: skip, or build, write once, and commit the counts
and digest the write itself observed (``DataFrame.observe``: no Spark
job reads a stage back to summarise it).

Production-hash discipline: the isolated registry queries pay sha256 per
gram/paragraph so DuckDB can replay them value-exactly; this job is the
production path and uses xxhash64 (JVM intrinsic, ~20x cheaper per gram)
for every grouping/sketch key. Where a 64-bit collision would MERGE
distinct content (paragraph keys, exact-dup keys at 10^12-row scale), a
second independent xxhash64 (seed-prefixed) widens the key to 128 bits;
where a collision only perturbs a sketch (minhash permutations, band
keys, contamination grams) a single hash is the standard construction.

Scale notes (the 100 TB shapes, per stage, all verified on .explain):
- extract: Arrow-batched mapInArrow decode after a salted url-hash
  repartition (the north rule's skew clause) — the only Python in the job.
- clean: one narrow whole-stage-codegen projection (regex passes fused).
- gate: per-doc signals are narrow; the domain table is one
  groupBy(domain) with map-side partials, rejoined BY BROADCAST (the
  web's host count is ~10^8 — a few GB of (domain, verdict); beyond
  that the join key equals the agg key and co-partitions).
- classify: NB fit collapses to the bounded C x CLS_B stats table
  (map-side partials), pivoted to ONE broadcast bucket map; predict pays
  a single map-side-combined groupBy(url) (C parallel sum columns, no
  xC row expansion) and one url equi-join — no window, no corpus-sized
  collect, no pair expansion.
- dedup_para: 3 bounded shuffles (groupBy(parahash) min, equi-join back,
  groupBy(url) reassembly); hot paragraphs (cookie banners in 10^6 docs)
  collapse map-side to one partial per task — no pair expansion exists.
- dedup_doc: exact pass is one groupBy(fullhash); near-dup pass is
  banded MinHash with the MAX_BUCKET degenerate-bucket cap, Jaccard
  verify only on candidate pairs, then O(log n)-round large/small-star
  contraction that stops on the first star forest (the 10^12-node
  component path) — never all-pairs.
- split: pure narrow hash map; decontamination is the strictly linear
  inverted-index shape (train grams distinct-ed BEFORE the semi-join).
- pack: two-level distributed prefix sum — the only unpartitioned window
  runs over |train|/PACK_CHUNK^2 rows (metadata scale at any corpus).

Materialization boundaries are the stage writes themselves: narrow ops
are FUSED into one pass (clean = normalize+scrub; split = assignment+
decontam flags) and a stage boundary exists only where the next stage
needs corpus-wide state (gates need domain aggregates, dedup needs the
global key space) or where resumability is worth the write (extract).
"""

from __future__ import annotations

import os
import shutil
import time
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.window import Window

from ..operators.extract import derived_width, extract_text
from ..queries.text_q import _NORM_PASSES
from ..queries.pipeline_q import _PAT_EMAIL, _PAT_IP, _PAT_PHONE
from .commit import publish_marker, read_marker, sum_digest, sweep_tmp

STAGES = ("extract", "clean", "gate", "classify", "dedup_para", "dedup_doc",
          "cut_spans", "split", "pack")
# cut_spans is OPTIONAL (run_corpus_prep(cut_spans=True)): ExactSubstr
# span excision between document dedup and the split. When disabled the
# stage leaves no marker and no directory; the flag must be stable across
# resume attempts of one --output dir (guarded — mixing produces a
# corpus where committed downstream tables saw different text).

QUAR_SCHEMA = "url string, stage string, error string"

# Lineage format version, stamped into every commit marker. Resume trusts
# committed stage TABLES as-is, so a marker written by incompatible code
# is a correctness hazard, not a compatibility shim opportunity: e.g. the
# round-4 classify stage both ADDED a stage to STAGES and widened the
# doc schema with doc_kind — a pre-change job resumed by newer code would
# skip extract/clean/gate from tables lacking doc_kind and crash (or,
# worse, silently choose different dedup winners via the widened
# _doc_key). Bump this on ANY change to STAGES, stage table schemas, or
# winner/ordering semantics; mismatches fail fast with instructions.
LINEAGE_FMT = 2

# near-dup parameters — same family as queries/dedup_q.py (cited there:
# Broder minhashing; MAX_BUCKET cap for degenerate boilerplate buckets)
SHINGLE_N = 3
N_PERM = 8
N_BANDS = 4  # 2 permutations per band
MAX_BUCKET = 64
JACCARD_T = 0.5
CONTAM_N = 8  # words per decontamination gram (GPT-3 appendix C scale op)
CLS_B = 1 << 16   # NB classifier hashed-feature buckets. Wider than the
#                   oracle twin's 4096 (model_q.NB_B) on purpose: an
#                   OOV-heavy doc (layout-artifact PDFs) scores by bucket
#                   COLLISIONS, and at 4096 buckets a ~200-token doc
#                   collects enough accidental hits in one class to cross
#                   CLS_MARGIN (observed: a two-column PDF drifting to zh).
#                   65k buckets puts collision noise well under the margin;
#                   the stats table stays bounded at C x CLS_B rows
#                   (fastText-scale models use 2M buckets for the same
#                   reason). Memory: ~5 x 65k longs, a few MB broadcast.
CLS_KEY_OFF = 100_000_000  # argmax string-key offset; must exceed any
#                   reachable |score| (n_tok * max bucket bits — the 2M-char
#                   gate cap bounds it near 2*10^7) so the 9-digit lpad
#                   field never overflows/truncates
CLS_MARGIN = 64   # integer bits of NB confidence before a declared-vs-
#                   predicted language disagreement quarantines the doc
#                   (CCNet drops docs whose fastText lang disagrees with
#                   the expected language; margin gating keeps the rule
#                   precision-first — short or ambiguous docs pass)
PACK_BUDGET = 2048  # tokens per packed training sequence
PACK_CHUNK = 4096  # docs per prefix-sum range (see queries/pipeline_q.seq_pack)

_WORD_SEP = "[ \n]+"  # tokens span paragraph breaks


class CorpusJobInterrupted(RuntimeError):
    """Raised by the fail_after test hook at the worst crash point of a
    stage: data written, commit marker not yet published."""


# --- per-stage transforms (pure DataFrame -> DataFrame; no I/O) -------------

def _doc_key() -> F.Column:
    """Fixed-width orderable document key: 32 hex chars from TWO
    independent xxhash64(url) passes (the module's 128-bit discipline —
    the key serves as a JOIN identity in dedup_documents' survivor-url
    lookup, where a 64-bit collision at the 10^12-doc design point would
    duplicate quarantine rows against the wrong survivor and break the
    stage's n_in == n_out + n_quarantined conservation). Lexicographic
    order == unsigned numeric order, so MIN() hash-aggregates with
    map-side partials (no struct-min SortAggregate — the round-3 argmin
    discipline). Winner choice between near-dup docs is
    arbitrary-but-deterministic, so hash order is as good as url order
    and far cheaper to shuffle."""
    return F.concat(F.lpad(F.hex(F.xxhash64("url")), 16, "0"),
                    F.lpad(F.hex(F.xxhash64(F.lit(1), "url")), 16, "0"))


def clean_docs(docs: DataFrame) -> DataFrame:
    """Normalize (CRLF/C0/blank-run/trim passes, text_q._NORM_PASSES) then
    scrub PII (email/IPv4/phone -> typed placeholders, pipeline_q patterns)
    in ONE narrow projection — both ops are per-row regex maps, so fusing
    them avoids a full-corpus materialization between them. Whole-stage
    codegen, no shuffle, runs at scan speed."""
    e: object = F.col("text")
    for pat, rep in _NORM_PASSES:
        e = F.regexp_replace(e, pat, rep)
    n_pii = (
        F.size(F.regexp_extract_all(e, F.lit(_PAT_EMAIL), F.lit(0)))
        + F.size(F.regexp_extract_all(e, F.lit(_PAT_IP), F.lit(0)))
        + F.size(F.regexp_extract_all(e, F.lit(_PAT_PHONE), F.lit(0)))
    ).cast("bigint")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(e, _PAT_EMAIL, "<EMAIL>"),
            _PAT_IP, "<IP>"),
        _PAT_PHONE, "<PHONE>")
    return docs.select(
        "url", "warc_ts", "lang", "doc_kind",
        scrubbed.alias("text"),
        n_pii.alias("n_pii"),
    ).withColumn("text_sha", F.sha2("text", 256))


def gate_docs(docs: DataFrame) -> DataFrame:
    """Quality + domain-reputation gate, returning every doc with a
    ``keep`` verdict and first-failing ``reject_reason`` (rule order fixed:
    length, repetition, domain) — the C4/Gopher composite the registry
    proves piecewise (doc_quality / doc_repetition / domain_gate).

    Per-doc signals are narrow; the domain reputation table is ONE
    groupBy(domain) with constant-size agg state (count + distinct-sha
    rewrites to a two-level agg) re-joined by broadcast. A domain hosting
    10% of the crawl is safe: no pair expansion, partial aggregation
    collapses it map-side."""
    w = F.split("text", _WORD_SEP)
    sig = docs.withColumn("n_chars", F.length("text").cast("bigint")) \
        .withColumn("n_words", F.size(w).cast("bigint")) \
        .withColumn("n_distinct_words",
                    F.size(F.array_distinct(w)).cast("bigint")) \
        .withColumn("domain",
                    F.regexp_extract("url", "^[a-z]+://([^/:]+)", 1))
    dom = sig.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("dom_docs"),
        F.countDistinct("text_sha").cast("bigint").alias("dom_distinct"))
    dom = dom.select(
        "domain", "dom_docs",
        ((F.col("dom_docs") - F.col("dom_distinct")).cast("double")
         / F.col("dom_docs").cast("double")).alias("dom_dup_frac"))
    frac_dup = F.expr("CAST(1.0 AS DOUBLE)"
                      " - CAST(n_distinct_words AS DOUBLE) / n_words")
    reason = (
        F.when((F.col("n_chars") < 20) | (F.col("n_chars") > 2_000_000),
               "length")
        .when(frac_dup > 0.9, "repetitive")
        .when(F.col("dom_dup_frac") > 0.5, "domain_duplication")
    )
    return (sig.join(F.broadcast(dom), "domain")
            .withColumn("reject_reason", reason)
            .withColumn("keep", F.col("reject_reason").isNull())
            .select("url", "warc_ts", "lang", "doc_kind", "text",
                    "text_sha", "n_words", "domain", "dom_dup_frac",
                    "keep", "reject_reason"))


def classify_docs(docs: DataFrame) -> DataFrame:
    """Declared-vs-predicted language gate (the CCNet rule: drop documents
    whose classifier language disagrees with the expected language): fit a
    multinomial Naive-Bayes language model on the corpus's TRUSTED labeled
    subset, predict every doc, and quarantine only CONFIDENT
    disagreements — predicted != declared AND the NB bit-score margin
    >= CLS_MARGIN. The relational skeleton is queries/model_q.nb_classify
    (oracle-proven value-exact there); this production stage swaps sha256
    feature hashing for xxhash64 (the _doc_key discipline — no oracle
    constraint inside the job).

    The fit uses HTML-carried labels ONLY (doc_kind == 'html'): an HTML
    page's lang label comes from its own markup/content, while a crawl
    PDF's label is sidecar metadata — exactly the unreliable kind this
    stage exists to audit. Fitting on everything (tried first) both
    launders bad labels into the model AND creates a class-imbalance
    artifact: layout-boilerplate tokens shared across languages are
    relatively MORE probable under the smallest class's token budget, so
    long all-boilerplate docs drift to that class with unbounded margin.
    Seed-fitting removes both failure modes; out-of-vocabulary docs then
    score near-uniformly and stay under the margin bar.

    Scale shape (and why it differs from nb_classify's relational ×C
    form): the oracle twin expands tokens ×C and pays TWO corpus-sized
    exchanges — measured as the priciest stage of the whole job at 300k
    pages (227 s of 900 at local[2]). Here the per-bucket class counts
    are pivoted into ONE broadcast map(b -> {class: n}) — bounded at
    CLS_B rows — so the token stream is joined ONCE with no row
    expansion, per-class bit-sums ride as C parallel SUM columns through
    a SINGLE map-side-combined groupBy(url), and the argmax is
    F.least over C fixed-width string keys (C class constants are a
    C-row driver collect — a model artifact, the codebook discipline).
    The verdict re-joins the stage table by url (the same shuffle the
    dedup stages pay). No corpus-sized window, no pair expansion; the
    decision arithmetic is unchanged bit for bit."""
    tk = (docs.select("url", "lang", "doc_kind",
                      F.explode(F.split("text", _WORD_SEP)).alias("w"))
          .filter(F.col("w") != ""))
    bk = tk.select("url", "lang", "doc_kind",
                   F.pmod(F.xxhash64("w"), F.lit(CLS_B)).alias("b"))
    seed = bk.filter(F.col("doc_kind") == "html")
    stats = (seed.groupBy(F.col("lang").alias("c"), "b")
             .agg(F.count("*").cast("bigint").alias("n")))
    cls = stats.groupBy("c").agg(F.sum("n").cast("bigint").alias("nc"))
    pri = (docs.filter(F.col("doc_kind") == "html")
           .groupBy(F.col("lang").alias("c"))
           .agg(F.count("*").cast("bigint").alias("dc")))
    # class constants: C rows to the driver (the fitted model's scalar
    # half; the bucket half stays distributed in the broadcast map)
    consts = {r["c"]: (int(r["nc"]), int(r["dc"]))
              for r in cls.join(pri, "c").collect()}
    classes = sorted(consts)
    if not classes:
        # no trusted (HTML-carried) labels anywhere — e.g. an all-PDF
        # input, a supported case. There is nothing to fit, so nothing
        # can be audited: pass every doc through with a null-model
        # verdict rather than crashing the stage.
        return (docs.withColumn("pred_lang", F.col("lang"))
                .withColumn("lang_margin", F.lit(0).cast("bigint"))
                .withColumn("keep", F.lit(True)))
    bmap = (stats.groupBy("b")
            .agg(F.map_from_entries(
                F.collect_list(F.struct("c", "n"))).alias("m")))
    j = bk.join(F.broadcast(bmap), "b", "left")
    # functional API only (element_at / bin / lpad Columns) — class names
    # come from crawl data and must never be interpolated into SQL text
    bits_cols = [
        F.sum(F.length(F.bin(
            F.coalesce(F.element_at("m", F.lit(c)), F.lit(0)) + F.lit(1))))
        .cast("bigint").alias(f"_s_{i}")
        for i, c in enumerate(classes)]
    agg = (j.groupBy("url", "lang")
           .agg(F.count("*").cast("bigint").alias("n_tok"), *bits_cols))
    score = {}
    for i, c in enumerate(classes):
        nc, dc = consts[c]
        score[c] = (F.col(f"_s_{i}")
                    - F.col("n_tok") * F.lit((nc + CLS_B).bit_length())
                    + F.lit(dc.bit_length()))
    # 9-digit key window: |score| is bounded by n_tok * max_bits; the
    # gate admits up to 2M chars (~1M tokens), so deficits reach ~2*10^7
    # — far over the earlier 6-digit field, which Spark's lpad would
    # silently TRUNCATE, corrupting the argmax for any very long doc
    keys = [F.concat(F.lpad((F.lit(CLS_KEY_OFF) - score[c]).cast("string"),
                            9, "0"), F.lit(c)) for c in classes]
    # a declared lang with NO trusted examples is not exempt from the
    # audit: its own-model score is the uniform floor — exactly what the
    # fitted formula yields for a zero-data class under Laplace smoothing
    # (every token bucket scores bits(0+1)=1, normalizer bits(0+CLS_B),
    # prior bits(0)=0) — so a doc that CONFIDENTLY looks like a fitted
    # class still crosses CLS_MARGIN and quarantines, while genuinely
    # out-of-model docs score near the floor themselves and pass
    unseen_floor = (F.col("n_tok")
                    * F.lit(1 - CLS_B.bit_length())).cast("bigint")
    own = F.coalesce(
        F.create_map(
            *[x for c in classes for x in (F.lit(c), score[c])])
        [F.col("lang")],
        unseen_floor)
    verdict = (agg.select(
        "url",
        F.least(*keys).alias("k") if len(keys) > 1 else keys[0].alias("k"),
        own.alias("own"))
        .select("url",
                F.col("k").substr(F.lit(10), F.length("k")).alias(
                    "pred_lang"),
                (F.lit(CLS_KEY_OFF)
                 - F.col("k").substr(1, 9).cast("bigint")
                 - F.col("own")).cast("bigint").alias("lang_margin")))
    out = docs.join(verdict, "url", "left")
    mismatch = ((F.col("pred_lang") != F.col("lang"))
                & (F.col("lang_margin") >= CLS_MARGIN))
    return (out.withColumn("pred_lang",
                           F.coalesce("pred_lang", F.col("lang")))
            .withColumn("lang_margin",
                        F.coalesce("lang_margin", F.lit(0)).cast("bigint"))
            .withColumn("keep", ~F.coalesce(mismatch, F.lit(False))))


def dedup_paragraphs(docs: DataFrame) -> DataFrame:
    """Corpus-wide paragraph dedup with reassembly (CCNet Wenzek et al.
    2020 / C4 Raffel et al. 2020; registry twin: dedup_q.dedup_paragraph,
    which the DuckDB oracle proves value-exact at query scale): every
    ``\\n\\n``-delimited paragraph keeps only its FIRST corpus-wide
    occurrence (min (doc_key, pos)); each doc is reassembled from its
    survivors in original order.

    Keys are 128-bit (two independent xxhash64) so identical-key merges of
    DISTINCT paragraphs are birthday-impossible at 10^12 paragraphs; the
    argmin is a fixed-width-string MIN (hash-aggregates with map-side
    partials — a banner in 10^6 docs ships one partial per task).

    Shuffle-volume shape (round-5 rewrite; the wide-leg bandwidth was the
    measured fused-job scaling bottleneck): paragraph TEXT crosses the
    wire exactly ONCE — the occurrence stream ships only fixed-width
    metadata (url, pos, two hash longs, enc key) through the argmin
    groupBy and the postings join; only LOSER positions (duplicated
    paragraphs beyond their first occurrence — the minority by
    construction) flow into the per-doc cut set; and each document is
    reassembled from its OWN paras array with a HOF filter after one
    url equi-join of the doc table to its cut set. The previous shape
    shipped every paragraph's text through BOTH the postings join and a
    corpus-wide collect_list reassembly (two text-sized exchanges + a
    third docs-side join exchange). Per-row state stays bounded by a
    single document's own paragraph count."""
    w = docs.select(
        "url", "warc_ts", "lang",
        F.split("text", "\n\n").alias("paras"),
        _doc_key().alias("doc_key"))
    ex = (w.select("url", "doc_key",
                   F.posexplode_outer("paras").alias("pos", "para"))
          .filter(F.col("para").isNotNull())
          .select("url",
                  F.xxhash64("para").alias("h1"),
                  F.xxhash64(F.lit(1), "para").alias("h2"),
                  "pos",
                  F.concat("doc_key",
                           F.lpad(F.col("pos").cast("string"), 9, "0"))
                  .alias("enc")))
    firsts = ex.groupBy("h1", "h2").agg(F.min("enc").alias("f_enc"))
    cutpos = (ex.join(firsts, ["h1", "h2"])
              .filter(F.col("enc") != F.col("f_enc"))
              .select("url", "pos"))
    percut = (cutpos.groupBy("url")
              .agg(F.collect_set("pos").alias("cuts")))
    return (w.join(percut, "url", "left")
            .select(
                "url", "warc_ts", "lang",
                F.size("paras").cast("bigint").alias("n_paras"),
                (F.size("paras") - F.coalesce(F.size("cuts"), F.lit(0)))
                .cast("bigint").alias("n_kept"),
                F.when(F.col("cuts").isNull(),
                       F.concat_ws("\n\n", F.col("paras")))
                .otherwise(F.concat_ws("\n\n", F.filter(
                    "paras",
                    lambda x, i: ~F.array_contains(F.col("cuts"), i))))
                .alias("text"))
            .withColumn("text_sha", F.sha2("text", 256)))


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """(url, doc_key, gh) with gh = SORTED DISTINCT xxhash64 keys of the
    word SHINGLE_N-grams. Each word is string-hashed ONCE; a gram key
    mixes its SHINGLE_N word hashes as fixed-width longs (variadic
    xxhash64), so no gram string is ever materialized and a word pays
    one variable-length hash no matter how many grams contain it — vs
    the previous string-gram build, which concat_ws'd every gram and
    then string-hashed it 9 times (once for the verify array + once per
    MinHash permutation). 64-bit gram collisions only perturb a Jaccard
    estimate (the acceptance already documented on the hashed verify);
    keys that must never merge content stay 128-bit (paragraph/exact).
    Docs shorter than SHINGLE_N words get no row (they cannot near-dup)."""
    whs = ", ".join(f"element_at(wh, i + {j + 1})" for j in range(SHINGLE_N))
    expr = (f"array_sort(array_distinct(transform("
            f"sequence(0, size(wh) - {SHINGLE_N}), i -> xxhash64({whs}))))")
    return (docs
            .withColumn("w", F.split("text", _WORD_SEP))
            .filter(F.size("w") >= SHINGLE_N)
            .withColumn("wh", F.expr("transform(w, x -> xxhash64(x))"))
            .select("url", _doc_key().alias("doc_key"),
                    F.expr(expr).alias("gh")))


def near_dup_pairs(docs: DataFrame) -> DataFrame:
    """(a_url, b_url) pairs with shingle-Jaccard >= JACCARD_T, found by
    banded MinHash LSH — the production-hash twin of the oracled
    dedup_q.dedup_minhash_lsh (xxhash64 permutations instead of
    min-over-sha256; same band/bucket/verify shape, same caps).

    Scale: candidates come from a groupBy(band_key) with the MAX_BUCKET
    degenerate-bucket cap applied BEFORE the in-array pair expansion.
    The Jaccard verify joins each candidate PAIR to the two docs'
    pre-hashed sorted shingle arrays and intersects them NARROWLY
    (``array_intersect`` builds a hash set per row — O(|a|+|b|)), never
    exploding to one row per (pair, gram): the posting-join alternative
    shuffles |pairs| x |grams/doc| skinny rows plus a wide groupBy, ~8x
    the bytes and two orders of magnitude more rows (measured 112 s ->
    8.6 s on a 30k-doc boilerplate-heavy page set at local[8]). A hot
    doc in many pairs duplicates its array per pair — the same payload
    the posting join duplicates as rows, minus the per-row overhead.

    Uncached: persisting the signatures, checkpointing the pairs and
    persisting dedup_documents' metadata frame cost dedup_doc 9 Spark
    jobs for no measurable wall (1,000 and 96,000 docs at local[4],
    BENCH.md)."""
    mh_terms = ", ".join(
        # permutations hash the 8-byte gram KEY, not the gram string —
        # fixed-width long input, same MinHash family quality
        f"array_min(transform(gh, g -> xxhash64({j}, g)))"
        for j in range(N_PERM))
    sig = (_shingle_sets(docs)
           .select("url", "doc_key", "gh",
                   F.expr(f"array({mh_terms})").alias("mh")))
    bands = sig.select(
        "url",
        F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("b"),
        F.expr("concat(element_at(mh, 2 * b + 1), ':',"
               " element_at(mh, 2 * b + 2))").alias("band_key"))
    buckets = (bands.groupBy("b", "band_key")
               .agg(F.array_sort(F.collect_list("url")).alias("ids"))
               .filter((F.size("ids") >= 2)
                       & (F.size("ids") <= MAX_BUCKET)))
    pair_expr = (
        "flatten(transform(sequence(1, size(ids) - 1), i -> "
        "transform(slice(ids, i + 1, size(ids) - i), "
        "y -> struct(element_at(ids, i) AS a_url, y AS b_url))))")
    cand = (buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
            .select("p.a_url", "p.b_url").distinct())
    jac = F.expr("CAST(n_common AS DOUBLE)"
                 " / (CAST(size(a_gh) + size(b_gh) AS DOUBLE)"
                 " - CAST(n_common AS DOUBLE))")
    return (cand
            .join(sig.select(F.col("url").alias("a_url"),
                             F.col("gh").alias("a_gh")), "a_url")
            .join(sig.select(F.col("url").alias("b_url"),
                             F.col("gh").alias("b_gh")), "b_url")
            .withColumn("n_common",
                        F.size(F.array_intersect("a_gh", "b_gh")))
            .select("a_url", "b_url", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= JACCARD_T))


def dedup_documents(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Document-level dedup: exact pass (128-bit text hash groupBy, one
    shuffle, winner = min doc_key) then MinHash-LSH near-dup pairs over
    the exact survivors, contracted to clusters by alternating
    large/small-star (dedup_q.connected_components_star — O(log n)
    rounds, the 10^12-node path, stopping on the first star forest;
    property-tested equal to a union-find).
    Returns (kept_docs, dropped) with dropped = (url, error) naming each
    drop's canonical survivor — the quarantine row a user audits. Both
    are lazy plans; nothing here is cached, so nothing needs releasing.

    Document TEXT never crosses an exact-pass exchange (round-5 rewrite,
    the dedup_paragraphs discipline): the winner election runs on a
    narrow metadata frame (url, k1, k2, enc — fixed-width rows,
    text hashed exactly once on the way in), losers come back as a
    url set, and survivors are the original docs ANTI-JOINED against it.
    At bench scale AQE broadcasts the loser side, so the wide frame
    moves through ZERO exchanges (previously the full text shuffled on
    (k1, k2) through the winner join — the job's largest single memory-
    bandwidth draw at 300k docs); at a 30%-duplicate crawl scale the
    anti-join degrades to ONE url-keyed text shuffle, never worse than
    the old shape. enc = doc_key || url (doc_key is fixed-width 32 hex)
    so one string MIN elects the winner AND carries its url for the
    audit row — no second survivor-url join, and min() hash-aggregates
    with map-side partials."""
    meta = docs.select(
        "url",
        F.xxhash64("text").alias("k1"),
        F.xxhash64(F.lit(1), "text").alias("k2"),
        F.concat(_doc_key(), F.col("url")).alias("enc"))
    winners = meta.groupBy("k1", "k2").agg(F.min("enc").alias("w_enc"))
    exact_dropped = (meta.join(winners, ["k1", "k2"])
                     .filter(F.col("enc") != F.col("w_enc"))
                     .select("url",
                             F.concat(F.lit("exact_duplicate_of:"),
                                      F.expr("substring(w_enc, 33)"))
                             .alias("error")))
    exact_kept = docs.join(exact_dropped.select("url"), "url", "left_anti")

    pairs = near_dup_pairs(exact_kept)
    from ..queries.dedup_q import connected_components_star
    labels = connected_components_star(
        pairs.select(F.col("a_url").alias("a_id"),
                     F.col("b_url").alias("b_id")))
    near_dropped = (labels.filter(F.col("node") != F.col("label"))
                    .select(F.col("node").alias("url"),
                            F.concat(F.lit("near_duplicate_of:"),
                                     "label").alias("error")))
    kept = exact_kept.join(near_dropped.select("url"), "url", "left_anti")
    dropped = exact_dropped.unionByName(near_dropped)
    return kept, dropped


CUT_N = 8  # words per excision gram. Lee et al. 2022 cut duplicated
#            >=50-BPE-token spans; the synth corpus docs are ~30-60 words,
#            so 8 keeps planted spans detectable — the plan shape is
#            length-independent.


def cut_dup_spans(docs: DataFrame) -> DataFrame:
    """ExactSubstr span excision (Lee et al. 2022 §4.1 — remove every
    duplicated >=CUT_N-token span from all but its first corpus-wide
    occurrence and reassemble the document). Registry twin:
    pipeline_q.dedup_substring_cut, which the DuckDB oracle proves
    value-exact; this production stage swaps its sha-friendly gram
    strings for the job's hash discipline.

    Production-hash shape (the _shingle_sets idiom): every word is hashed
    ONCE per hash family (two independent xxhash64 passes), and each gram
    key is a variadic xxhash64 over the CUT_N word-hash longs — no gram
    string is ever materialized, and shuffle rows are two fixed longs. A
    collision that CUTS innocent text needs simultaneous collisions in
    both independent word-hash families (effectively 128-bit over
    content) — birthday-safe at 10^12 grams.

    Tokenization is plain single-space split — exactly invertible
    (split + join restores every byte, including runs of spaces via empty
    tokens), so untouched documents come back byte-identical; paragraph
    breaks ride inside composite tokens and survive excision of other
    spans.

    Scale: strictly linear, no pair expansion — one groupBy(gram key)
    with map-side-partial MIN+COUNT (hot boilerplate grams collapse to
    one partial per task), one equi-join back (linear in postings), a
    bounded xCUT_N map-side position expansion, one distinct +
    groupBy(url) whose collect_set is bounded by a single doc's length,
    and one url equi-join for reassembly via a HOF filter."""
    base = docs.select("url", "warc_ts", "lang", "text",
                       F.split("text", " ").alias("w"),
                       _doc_key().alias("doc_key"))
    wh = (base.filter(F.size("w") >= CUT_N)
          .withColumn("wh1", F.expr("transform(w, x -> xxhash64(x))"))
          .withColumn("wh2", F.expr("transform(w, x -> xxhash64(2, x))")))
    g1s = ", ".join(f"element_at(wh1, i + {j + 1})" for j in range(CUT_N))
    g2s = ", ".join(f"element_at(wh2, i + {j + 1})" for j in range(CUT_N))
    grams = F.expr(
        f"transform(sequence(0, size(w) - {CUT_N}), i -> struct("
        f"xxhash64({g1s}) AS g1, xxhash64(1, {g2s}) AS g2))")
    occ = (wh.select("url", "doc_key",
                     F.posexplode(grams).alias("pos", "g"))
           .select("url",
                   F.col("g.g1").alias("g1"), F.col("g.g2").alias("g2"),
                   "pos",
                   F.concat("doc_key",
                            F.lpad(F.col("pos").cast("string"), 9, "0"))
                   .alias("enc")))
    firsts = (occ.groupBy("g1", "g2")
              .agg(F.min("enc").alias("f_enc"), F.count("*").alias("cnt")))
    cutpos = (occ.join(firsts, ["g1", "g2"])
              .filter((F.col("cnt") >= 2) & (F.col("enc") != F.col("f_enc")))
              .select("url", F.explode(F.expr(
                  f"sequence(pos, pos + {CUT_N} - 1)")).alias("wp"))
              .distinct())
    percut = cutpos.groupBy("url").agg(F.collect_set("wp").alias("cuts"))
    return (base.join(percut, "url", "left")
            .select("url", "warc_ts", "lang",
                    F.when(F.col("cuts").isNull(), F.col("text"))
                    .otherwise(F.concat_ws(" ", F.filter(
                        "w", lambda x, i: ~F.array_contains(F.col("cuts"),
                                                            i))))
                    .alias("text"))
            .withColumn("text_sha", F.sha2("text", 256)))


def split_docs(docs: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment (12/2/2 of 16 xxhash64
    buckets on a salted url hash — content-independent, so re-extraction
    never migrates a doc across splits) fused with benchmark
    decontamination flags: for every NON-train doc, the fraction of its
    distinct CONTAM_N-grams that occur anywhere in the train split
    (GPT-3 appendix C / PaLM discipline; registry twin
    split_contamination).

    Scale: assignment is a pure narrow map. Decontamination is strictly
    linear — train grams are hashed (bigint), distinct-ed BEFORE the join
    (a boilerplate gram in 10^6 train docs is ONE build row), then one
    equi-join + groupBy(url). No pair expansion anywhere."""
    b = F.pmod(F.xxhash64(F.concat(F.lit("split#"), F.col("url"))),
               F.lit(16))
    s = docs.withColumn(
        "split",
        F.when(b < 12, "train").when(b < 14, "val").otherwise("test"))
    joined = ", ".join(
        f"element_at(w, i + {j + 1})" for j in range(CONTAM_N))
    grams = (f"CASE WHEN size(w) >= {CONTAM_N} THEN "
             f"array_distinct(transform(sequence(0, size(w) - {CONTAM_N}),"
             f" i -> xxhash64(concat_ws(' ', {joined}))))"
             f" ELSE array() END")
    sig = (s.withColumn("w", F.split("text", _WORD_SEP))
           .select("url", "split", F.expr(grams).alias("grams"))
           .persist())  # train-gram subtree + eval-gram subtree
    try:
        train_g = (sig.filter(F.col("split") == "train")
                   .select(F.explode("grams").alias("g")).distinct())
        eval_ex = (sig.filter(F.col("split") != "train")
                   .select("url", F.explode("grams").alias("g")))
        hits = (eval_ex.join(train_g, "g")
                .groupBy("url").agg(F.count("*").alias("n_contam")))
        frac = (sig.filter(F.col("split") != "train")
                .select("url", F.size("grams").cast("bigint")
                        .alias("n_grams"))
                .join(hits, "url", "left")
                .select("url",
                        F.when(F.col("n_grams") > 0,
                               F.coalesce("n_contam", F.lit(0))
                               .cast("double") / F.col("n_grams")
                               .cast("double"))
                        .otherwise(F.lit(0.0)).alias("contam_frac")))
        out = (s.join(frac, "url", "left")
               .withColumn("contam_frac",
                           F.coalesce("contam_frac", F.lit(0.0)))
               .select("url", "warc_ts", "lang", "text", "text_sha",
                       "split", "contam_frac"))
        return out.localCheckpoint(eager=True)
    finally:
        sig.unpersist()


def pack_train(docs: DataFrame, approx_n: int) -> DataFrame:
    """Sequence packing of the train split: concatenate documents in
    url-hash order and slice into PACK_BUDGET-token training sequences;
    output maps every doc to each sequence it intersects, with its token
    interval clipped to the sequence (registry twin: pipeline_q.seq_pack,
    whose oracle proves the construction value-exact over dense ids).

    The global exclusive prefix sum uses the same TWO-LEVEL distributed
    shape as seq_pack, but over hash order: ord = xxhash64(url) is the
    concatenation order (uniform, so fixed bit-prefix ranges hold ~equal
    doc counts); pid = the top ceil(log2(n/PACK_CHUNK)) bits of ord
    (arithmetic shift — order-preserving on signed bigints); range sums
    roll up into super-ranges of PACK_CHUNK pids. The only unpartitioned
    window runs over |train|/PACK_CHUNK^2 rows. ``approx_n`` comes from
    the previous stage's lineage count — a count the runner already has,
    never a fresh corpus scan."""
    train = (docs.filter(F.col("split") == "train")
             .select("url",
                     F.size(F.split("text", _WORD_SEP)).cast("bigint")
                     .alias("n_tok"),
                     F.xxhash64("url").alias("ord")))
    n_ranges = max(1, (max(1, approx_n) + PACK_CHUNK - 1) // PACK_CHUNK)
    bits = max(1, min(40, (n_ranges - 1).bit_length()))
    d = train.withColumn("pid", F.shiftright("ord", 64 - bits))
    psums = (d.groupBy("pid").agg(F.sum("n_tok").alias("ptok"))
             .withColumn("spid", F.expr(f"pid DIV {PACK_CHUNK}")))
    wsuper = (Window.orderBy("spid")
              .rowsBetween(Window.unboundedPreceding, -1))
    s_pref = (psums.groupBy("spid").agg(F.sum("ptok").alias("stok"))
              .select("spid",
                      F.coalesce(F.sum("stok").over(wsuper), F.lit(0))
                      .alias("sprefix")))
    wrange = (Window.partitionBy("spid").orderBy("pid")
              .rowsBetween(Window.unboundedPreceding, -1))
    prefixes = (psums.join(F.broadcast(s_pref), "spid")
                .select("pid", (F.col("sprefix")
                                + F.coalesce(F.sum("ptok").over(wrange),
                                             F.lit(0))).alias("prefix")))
    wlocal = (Window.partitionBy("pid").orderBy("ord", "url")
              .rowsBetween(Window.unboundedPreceding, -1))
    c = (d.join(prefixes, "pid")
         .withColumn("off", F.col("prefix")
                     + F.coalesce(F.sum("n_tok").over(wlocal), F.lit(0))))
    B = PACK_BUDGET
    s = (c.filter(F.col("n_tok") > 0)
         .select("url", "n_tok", "off",
                 F.explode(F.sequence(
                     F.expr(f"off DIV {B}"),
                     F.expr(f"(off + n_tok - 1) DIV {B}"))).alias("seq_id")))
    return s.select(
        F.col("seq_id").cast("bigint").alias("seq_id"),
        "url",
        F.greatest("off", F.expr(f"seq_id * {B}")).cast("bigint")
        .alias("tok_begin"),
        F.least(F.expr("off + n_tok"), F.expr(f"(seq_id + 1) * {B}"))
        .cast("bigint").alias("tok_end"))


# --- stage runner: commit protocol + resume ---------------------------------

def _stage_dir(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, "stages", stage)


def _lineage_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, "lineage", f"{stage}.parquet")


def _publish_stage_lineage(out_dir: str, stage: str, n_in: int, n_out: int,
                           n_quar: int, digest: str) -> dict:
    """Commit ``stage``: publish its marker (commit.publish_marker) and
    return the committed lineage as _read_stage_lineage would."""
    import pyarrow as pa

    lin = {"stage": stage, "n_in": int(n_in), "n_out": int(n_out),
           "n_quarantined": int(n_quar), "digest": digest,
           "fmt": LINEAGE_FMT}
    publish_marker(pa.table({k: [v] for k, v in lin.items()}), out_dir,
                   _lineage_path(out_dir, stage))
    return lin


def _read_stage_lineage(out_dir: str, stage: str) -> dict | None:
    """None if the stage is uncommitted; a torn marker is removed and an
    unreadable one aborts (commit.read_marker)."""
    path = _lineage_path(out_dir, stage)
    t = read_marker(path)
    if t is None:
        return None
    lin = {k: t.column(k)[0].as_py() for k in t.column_names}
    fmt = lin.get("fmt")
    if fmt != LINEAGE_FMT:
        # committed by incompatible code: its stage tables may lack
        # columns this version requires (doc_kind) or encode different
        # winner semantics — resuming from them is silent corruption
        raise RuntimeError(
            f"stage lineage {path} has format {fmt!r}, this code writes "
            f"format {LINEAGE_FMT}: the job was committed by an "
            f"incompatible pipeline version. Re-run it in a fresh "
            f"--output directory (committed stage tables cannot be "
            f"safely reinterpreted).")
    return lin


def _empty_quarantine(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], QUAR_SCHEMA)


# On-disk stage layout (LINEAGE_FMT 2): ONE dynamically-partitioned write
# per stage under <stage>/data/st={ok,err} — surviving docs are the ok
# partition, quarantine rows the err partition. The previous layout
# (<stage>/{docs,quarantine}) wrote the two legs as two separate ACTIONS,
# so every stage recomputed its full plan twice (the extract decode, the
# clean regex passes, the classify fit+predict all ran 2x per job).

def _stage_docs_dir(out_dir: str, stage: str) -> str:
    return os.path.join(_stage_dir(out_dir, stage), "data", "st=ok")


def _quarantine_dir(out_dir: str, stage: str) -> str:
    return os.path.join(_stage_dir(out_dir, stage), "data", "st=err")


def run_corpus_prep(
    spark: SparkSession,
    out_dir: str,
    pages: DataFrame | None = None,
    num_partitions: int | None = None,
    fail_after: str | None = None,
    cut_spans: bool = False,
) -> dict:
    """Run (or resume) the fused corpus-preparation pipeline.

    ``pages`` is required only when the extract stage is not yet
    committed. ``fail_after`` is the crash-injection test hook: raise
    CorpusJobInterrupted after the named stage's DATA is fully written
    but BEFORE its commit marker — the worst crash point, which resume
    must treat as 'stage never happened'. ``cut_spans`` enables the
    optional ExactSubstr excision stage between dedup_doc and split; the
    flag must match across resume attempts of one --output dir (guarded).

    Returns {"stages": {name: {...}}, "n_docs": int, "wall_s": float}.
    """
    t_job = time.monotonic()

    # every stage marker, read once: the guards, the crash cleanup and the
    # skip decisions below all use this dict (an unreadable marker aborts
    # here, before anything is removed)
    committed = {stage: _read_stage_lineage(out_dir, stage)
                 for stage in STAGES}

    # flag-stability guards: committed state must agree with cut_spans
    if not cut_spans and committed["cut_spans"] is not None:
        raise RuntimeError(
            f"{out_dir} has a committed cut_spans stage but this run has "
            f"cut_spans=False; resume with cut_spans=True or use a fresh "
            f"--output directory")
    if (cut_spans and committed["cut_spans"] is None
            and committed["split"] is not None):
        raise RuntimeError(
            f"{out_dir} committed its split stage WITHOUT the cut_spans "
            f"stage; its downstream tables saw uncut text — re-run in a "
            f"fresh --output directory")

    # crash cleanup: a stage directory without its commit marker is a
    # partial write (committer v2 exposes task files as tasks finish)
    for stage, lin in committed.items():
        if lin is None:
            shutil.rmtree(_stage_dir(out_dir, stage), ignore_errors=True)
    sweep_tmp(out_dir)

    def write_docs(stage: str, staged: DataFrame) -> tuple[int, int, str]:
        """ONE-PASS stage write: ``staged`` carries the stage's doc
        columns plus a nullable ``error`` column (null = survivor), and
        is written ONCE, dynamically partitioned on st=ok|err — so the
        stage plan executes exactly once per job. The task-local sort the
        dynamic writer inserts is over a 2-value column — noise next to a
        second full compute of the stage. Returns (n_out, n_quarantined,
        digest) of the rows written, observed on the write itself (an
        Observation: Spark keeps only the successful attempt's counts of
        each task, so a retried task counts once); the digest covers the
        survivors only, and is None when there are none."""
        data_dir = os.path.join(_stage_dir(out_dir, stage), "data")
        obs = Observation()
        ok = F.col("error").isNull()
        (staged.observe(
            obs,
            F.count(F.when(ok, 1)).alias("n_ok"),
            F.count(F.when(~ok, 1)).alias("n_err"),
            sum_digest("CASE WHEN error IS NULL THEN sha2(concat_ws('|', "
                       "url, coalesce(text_sha, '0')), 256) END").alias("d"))
         .withColumn("st", F.when(ok, F.lit("ok")).otherwise(F.lit("err")))
         .write.mode("overwrite").partitionBy("st").parquet(data_dir))
        docs_dir = _stage_docs_dir(out_dir, stage)
        if not os.path.isdir(docs_dir):
            # every row quarantined: the ok partition was never created —
            # materialize an empty-but-schema'd table (folds to an empty
            # LocalRelation, no recompute) so downstream reads stay typed
            (staged.drop("error").filter(F.lit(False))
             .write.mode("overwrite").parquet(docs_dir))
        if fail_after == stage:
            raise CorpusJobInterrupted(stage)
        row = obs.get
        return row["n_ok"], row["n_err"], row["d"]

    def write_sequences(stage: str, seqs: DataFrame) -> tuple[int, int, str]:
        seq_dir = os.path.join(_stage_dir(out_dir, stage), "sequences")
        obs = Observation()
        seqs.observe(
            obs, F.count("*").alias("n"),
            sum_digest("sha2(concat_ws('|', seq_id, url, tok_begin,"
                       " tok_end), 256)").alias("d")
        ).write.mode("overwrite").parquet(seq_dir)
        if fail_after == stage:
            raise CorpusJobInterrupted(stage)
        row = obs.get
        return row["n"], 0, row["d"]

    def extract(_docs) -> DataFrame:
        if pages is None:
            raise ValueError("extract stage uncommitted and pages=None")
        # sized here, not up front: on resume pages may be None
        width = (derived_width(pages) if num_partitions is None
                 else num_partitions)
        return (extract_text(pages, num_partitions=width)
                .select("url", "warc_ts", "lang", "doc_kind", "text",
                        F.col("text_sha256").alias("text_sha"), "error"))

    def dedup_doc(docs: DataFrame) -> DataFrame:
        kept, dropped = dedup_documents(docs)
        return (kept.withColumn("error", F.lit(None).cast("string"))
                .unionByName(dropped, allowMissingColumns=True))

    # stage -> build(docs): the staged table of the stage, built from the
    # previous stage's committed docs, in STAGES order
    builds = {
        "extract": extract,
        "clean": lambda docs: clean_docs(docs).withColumn(
            "error", F.when(F.length("text") == 0,
                            F.lit("empty_after_normalize"))),
        "gate": lambda docs: gate_docs(docs).select(
            "url", "warc_ts", "lang", "doc_kind", "text", "text_sha",
            "n_words", "domain", F.col("reject_reason").alias("error")),
        # declared-vs-predicted language gate
        "classify": lambda docs: classify_docs(docs).select(
            "url", "warc_ts", "lang", "text", "text_sha", "n_words",
            "domain",
            F.when(~F.col("keep"), F.concat(F.lit("lang_mismatch:"),
                                            F.col("pred_lang")))
            .alias("error")),
        "dedup_para": lambda docs: dedup_paragraphs(docs).withColumn(
            "error", F.when(F.col("n_kept") == 0,
                            F.lit("all_paragraphs_duplicate"))),
        "dedup_doc": dedup_doc,
        # optional ExactSubstr excision, Lee et al. 2022
        "cut_spans": lambda docs: cut_dup_spans(docs).withColumn(
            "error", F.when(F.length("text") == 0,
                            F.lit("all_text_duplicate"))),
        "split": lambda docs: split_docs(docs).withColumn(
            "error", F.lit(None).cast("string")),
        # an aux output table: sequences, not docs (n_docs is read when
        # the build runs, after split has set it)
        "pack": lambda docs: pack_train(docs, approx_n=n_docs),
    }
    if not cut_spans:
        del builds["cut_spans"]

    stats: dict = {"stages": {}}
    docs: DataFrame | None = None
    n_docs = 0
    # per-stage wall clock (scaling forensics: which stage stops scaling
    # names the bottleneck, tools/scale_run.py --job corpus)
    t_stage = time.monotonic()
    for stage, build in builds.items():
        lin = committed[stage]
        status = "skipped"
        if lin is None:
            status = "ran"
            write = write_sequences if stage == "pack" else write_docs
            n_out, n_quar, digest = write(stage, build(docs))
            # the extract stage's input is what it wrote: counting the
            # pages table would take a second full scan of it
            n_in = n_out + n_quar if stage == "extract" else n_docs
            lin = _publish_stage_lineage(out_dir, stage, n_in, n_out,
                                         n_quar, digest)
        now = time.monotonic()
        stats["stages"][stage] = {
            "status": status,
            **{k: lin[k] for k in ("n_in", "n_out", "n_quarantined",
                                   "digest")},
            "wall_s": round(now - t_stage, 3)}
        t_stage = now
        if stage != "pack":
            # downstream stages consume the COMMITTED table, decoupling
            # their plans from this stage's
            docs = (spark.read.parquet(_stage_docs_dir(out_dir, stage))
                    .drop("error"))
            n_docs = lin["n_out"]

    stats["n_docs"] = n_docs
    stats["wall_s"] = round(time.monotonic() - t_job, 3)
    return stats


# --- readers over a finished job ---------------------------------------------

def corpus(spark: SparkSession, out_dir: str) -> DataFrame:
    """The final document table (split-stage output: url, warc_ts, lang,
    text, text_sha, split, contam_frac)."""
    return (spark.read.parquet(_stage_docs_dir(out_dir, "split"))
            .drop("error"))


def sequences(spark: SparkSession, out_dir: str) -> DataFrame:
    """The packed training-sequence map (seq_id, url, tok_begin, tok_end)."""
    return spark.read.parquet(
        os.path.join(_stage_dir(out_dir, "pack"), "sequences"))


def quarantine_all(spark: SparkSession, out_dir: str,
                   committed_only: bool = False) -> DataFrame:
    """Union of every stage's quarantine rows (url, stage, error).

    ``committed_only=True`` reads a stage's quarantine dir only when its
    lineage marker is committed. A crashed stage can leave quarantine
    data on disk with NO marker (the data-written/marker-missing crash
    window); on a partial run those rows are not part of any committed
    accounting, so a report that includes them will not sum to the
    funnel. Observability readers (jobs/corpus_report_job.py) pass True;
    the default False preserves the raw on-disk union for forensics."""
    out = _empty_quarantine(spark)
    for stage in STAGES:
        if committed_only and _read_stage_lineage(out_dir, stage) is None:
            continue
        qdir = _quarantine_dir(out_dir, stage)
        if os.path.isdir(qdir):
            # err-partition files carry the stage's full doc columns;
            # project down to the audit row and stamp the stage name
            # (it is the partition value, not a file column)
            out = out.unionByName(
                spark.read.parquet(qdir)
                .select("url", F.lit(stage).alias("stage"), "error"))
    return out


def job_digest(out_dir: str) -> str:
    """Combined commit-marker digest of the two published tables (final
    corpus + sequence map) — what the kill-and-resume test compares. Read
    from the stage lineage, not recomputed: the markers ARE the audit."""
    split_lin = _read_stage_lineage(out_dir, "split")
    pack_lin = _read_stage_lineage(out_dir, "pack")
    if split_lin is None or pack_lin is None:
        raise RuntimeError("job not fully committed")
    return f"{split_lin['digest']}:{pack_lin['digest']}"


def export_jsonl(spark: SparkSession, out_dir: str, dest: str,
                 split: str = "train", compress: bool = True,
                 ordered: bool = False) -> str:
    """Export one split of a finished job as JSONL — one
    ``{"url","lang","text"}`` object per line, the interchange format
    training data loaders consume (C4/Dolma/RedPajama all ship JSONL).
    A distributed ``DataFrameWriter.json`` write: one ``part-*.json.gz``
    file per partition, gzip-codec'd executor-side, no driver
    materialization — at 100 TB this is the same parallel write as the
    parquet stages, just a different encoder. Reads the committed
    split-stage table, so an interrupted export can simply re-run
    (mode=overwrite, source immutable).

    ``ordered=True`` writes a GLOBALLY url-ordered export (reproducible
    file-order byte streams for consumers that hash or resume by offset):
    repartitionByRange samples the url distribution and assigns
    contiguous key ranges to partitions, sortWithinPartitions orders
    inside each — concatenating part files in name order yields the
    total order WITHOUT ever funneling the corpus through a single-task
    sort (each partition sorts only its own range; the only global step
    is the range sampling job)."""
    df = (corpus(spark, out_dir)
          .filter(F.col("split") == split)
          .select("url", "lang", "text"))
    if ordered:
        n = df.sparkSession.sparkContext.defaultParallelism
        df = (df.repartitionByRange(n, "url")
              .sortWithinPartitions("url"))
    w = df.write.mode("overwrite")
    if compress:
        w = w.option("compression", "gzip")
    w.json(dest)
    return dest
