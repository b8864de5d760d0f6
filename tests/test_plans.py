"""Physical-plan quality gates: assert the optimizations the engine claims
actually appear in the executed plans — predicate pushdown to the parquet
scan, column pruning (never deserialize unused payload columns), broadcast
joins for dim tables, partition pruning on the run_id/status directory
partitions, and bucketed co-located joins with no shuffle.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    from pdf_extract_spark.queries import load_all
    q1 = load_all()["q1_pricing_summary"].fn(spark, SF)
    plan = _plan(q1)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" \
        in plan


def test_column_pruning_never_reads_unused_payload(spark):
    """The extraction operator must not deserialize the input `text` column
    (SURVEY S1 note) — ReadSchema in the scan excludes it."""
    from pdf_extract_spark.fixtures.pages import PAGES_SCHEMA, make_rows
    from pdf_extract_spark.operators.extract import extract_text
    import os
    path = "/tmp/plantest_pages"
    spark.createDataFrame(make_rows(50), PAGES_SCHEMA) \
        .write.mode("overwrite").parquet(path)
    plan = _plan(extract_text(spark.read.parquet(path)))
    scan_line = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "html" in scan_line
    assert "text" not in scan_line.split("ReadSchema")[1]


def test_q3_uses_broadcast_joins(spark):
    from pdf_extract_spark.queries import load_all
    plan = _plan(load_all()["q3_shipping_priority"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims broadcast; no big-big shuffle join


def test_q3_top_k_avoids_full_sort(spark):
    from pdf_extract_spark.queries import load_all
    plan = _plan(load_all()["q3_shipping_priority"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_knn_broadcasts_query_side(spark):
    from pdf_extract_spark.queries import load_all
    plan = _plan(load_all()["knn_topk"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_anti_join_planned_as_broadcast(spark):
    from pdf_extract_spark.queries import load_all
    plan = _plan(load_all()["anti_join_quiet_customers"].fn(spark, SF))
    assert "LeftAnti" in plan


def test_output_partition_pruning(spark, tmp_path_factory):
    """Reading one run/status from the extracted table must prune to that
    directory partition (PartitionFilters, not a post-scan filter)."""
    import pyspark.sql.functions as F
    from pdf_extract_spark.fixtures.pages import PAGES_SCHEMA, make_rows
    from pdf_extract_spark.plans.pipeline import run_extraction
    out = str(tmp_path_factory.mktemp("prune"))
    df = spark.createDataFrame(make_rows(60), PAGES_SCHEMA)
    run_extraction(spark, df, out, run_id="rA", num_partitions=2)
    read = (spark.read.parquet(f"{out}/extracted")
            .filter((F.col("run_id") == "rA") & (F.col("status") == "ok")))
    plan = _plan(read)
    assert "PartitionFilters" in plan
    scan = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "run_id" in scan.split("PartitionFilters")[1].split("]")[0]


def test_bucketed_join_has_no_shuffle(spark, tmp_path_factory):
    """Bucketing demo (SURVEY §2.3 co-located joins): two tables bucketed
    by the join key join with zero Exchange operators."""
    import pyspark.sql.functions as F
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
     .sortBy("o_orderkey").saveAsTable("b_orders"))
    (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
     .sortBy("l_orderkey").saveAsTable("b_lineitem"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (spark.table("b_lineitem")
             .join(spark.table("b_orders"),
                   F.col("l_orderkey") == F.col("o_orderkey"))
             .groupBy("o_orderpriority")
             .agg(F.count("*").alias("n")))
        plan = _plan(j)
        join_section = plan.split("SortMergeJoin")[-1]
        assert "Exchange hashpartitioning" not in join_section
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_whole_stage_codegen_covers_relational_ops(spark):
    from pdf_extract_spark.queries import load_all
    df = load_all()["q1_pricing_summary"].fn(spark, SF)
    df.collect()  # AQE finalizes the plan (and codegen stages) on execution
    plan = _plan(df)
    # whole-stage-codegen'd operators carry the "*(n)" stage marker; both
    # the partial and final hash aggregates must be inside codegen stages
    assert "*(1) HashAggregate" in plan and "*(2) HashAggregate" in plan


def test_simhash_hot_bucket_cap_binds(spark, tmp_path_factory):
    """A boilerplate-heavy corpus puts >MAX_BUCKET docs in one 16-bit band
    bucket; the cap must drop that bucket BEFORE the O(bucket²) pair
    expansion while still finding small planted near-dup clusters."""
    import os

    from pdf_extract_spark.queries.dedup_q import MAX_BUCKET
    from pdf_extract_spark.queries.text_q import dedup_simhash

    d = str(tmp_path_factory.mktemp("simhash_hot"))
    boiler = "all rights reserved terms of service privacy policy " * 8
    rows = [(i, boiler, "en", "s", len(boiler))
            for i in range(MAX_BUCKET + 6)]  # identical ⇒ one hot bucket/band
    planted = "a genuinely unique planted near duplicate sentence " * 6
    rows += [(1000, planted, "en", "s", len(planted)),
             (1001, planted, "en", "s", len(planted))]
    for i in range(2000, 2020):  # background: unique texts
        t = f"background document number {i} with its own words {i * 7} " * 5
        rows.append((i, t, "en", "s", len(t)))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))

    pairs = dedup_simhash(spark, d).collect()
    ids = {(r["a_id"], r["b_id"]) for r in pairs}
    assert (1000, 1001) in ids  # small cluster survives
    boiler_ids = set(range(MAX_BUCKET + 6))
    assert not any(a in boiler_ids or b in boiler_ids for a, b in ids), (
        "hot boilerplate bucket must be dropped by the cap")


def test_ngram_jaccard_posting_cap_binds(spark, tmp_path_factory):
    """A boilerplate 4-gram shared by >MAX_POSTING docs must be dropped
    from the inverted index BEFORE the shingle self-join (the quadratic-key
    guard), while a small planted near-dup pair still scores >= 0.4."""
    import os

    from pdf_extract_spark.queries.dedup_q import MAX_POSTING, dedup_ngram_jaccard

    d = str(tmp_path_factory.mktemp("ngram_hot"))
    # every boilerplate doc is MOSTLY a shared footer (whose 4-grams all
    # have df > MAX_POSTING) plus a tiny unique tail: without the cap any
    # boilerplate pair scores ~0.7 >> 0.4 and the self-join emits O(n²)
    # pairs on the hot keys; with the cap every shared shingle is dropped,
    # n_common = 0, and no boilerplate pair can appear
    footer = ("all rights reserved worldwide terms of service apply "
              "privacy policy cookie notice contact us about careers "
              "press sitemap help")
    rows = []
    for i in range(MAX_POSTING + 8):
        t = f"{footer} unique tail {i} end {i * 7}"
        rows.append((i, t, "en", "s", len(t)))
    planted = "a genuinely distinct planted near duplicate sentence " * 4
    rows += [(1000, planted, "en", "s", len(planted)),
             (1001, planted + "extra", "en", "s", len(planted) + 5)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))

    pairs = dedup_ngram_jaccard(spark, d).collect()
    ids = {(r["a_id"], r["b_id"]) for r in pairs}
    assert (1000, 1001) in ids  # planted pair survives the cap
    boiler_ids = set(range(MAX_POSTING + 8))
    boiler_pairs = {(a, b) for a, b in ids
                    if a in boiler_ids and b in boiler_ids}
    assert not boiler_pairs, (
        "hot shingle posting list must be dropped by the cap")


def test_adaptive_topk_floor_binds(spark, tmp_path_factory):
    """Reference _adaptive_k_selection floor (tools.py:383-391): when fewer
    than max(k//2,2)=2 chunks meet the 60%-of-top cutoff, the slice falls
    back to min(k, n) rows — the below-cutoff runner-up is still emitted."""
    import os

    from pdf_extract_spark.queries.chunks_q import adaptive_topk

    d = str(tmp_path_factory.mktemp("adk"))
    # 110 chars -> chunk0 = 110 chars (score .833), chunk1 = 30 chars
    # (score .417 < 0.6*.833): nq=1 < 2 -> final_k = min(3, 2) = 2
    rows = [(1, "a" * 110, "en", "s", 110),
            # control: 3 chunks all quality -> nq=n=3 rows
            (2, "b" * 280, "en", "s", 280)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))

    got = {r["doc_id"]: [] for r in [{"doc_id": 1}, {"doc_id": 2}]}
    for r in adaptive_topk(spark, d).collect():
        got[r["doc_id"]].append((r["rn"], round(r["score"], 3)))
    assert sorted(got[1]) == [(1, 0.833), (2, 0.417)]  # floor emitted rn=2
    # control: 4 chunks (three 120-char at .714, tail 40-char at .455, all
    # >= 0.6*top=.429) -> nq=4 in [2,6] -> exactly nq rows
    assert len(got[2]) == 4


def test_ivf_fine_scan_partition_prunes(spark):
    """The IVF fine search must read ONLY the probed label= partitions of
    the persisted ivf_vectors table — PartitionFilters on the scan, like
    FAISS reading only the probed inverted lists."""
    import re

    from pdf_extract_spark.queries.vectors_q import (
        _ivf_index_dir,
        _queries_df,
    )
    from pdf_extract_spark.plans.index import ivf_probe_labels, ivf_search

    d = _ivf_index_dir(spark, SF)
    q = _queries_df(spark, SF)
    fine = ivf_search(spark, d, q, k=10, nprobe=2)
    plan = _plan(fine)
    m = re.search(r"PartitionFilters: \[([^\]]*label[^\]]*)\]", plan)
    assert m, plan
    # the probe set is a strict subset of all labels, so files are pruned
    import duckdb
    n_labels = duckdb.connect().execute(
        f"SELECT count(DISTINCT label) FROM read_parquet('{SF}/embeddings.parquet')"
    ).fetchone()[0]
    probed = {r["label"]
              for r in ivf_probe_labels(spark, d, q, 2).collect()}
    assert 0 < len(probed) < n_labels


def _union_find_labels(pairs):
    """Reference connected components: node -> component minimum, self-
    loops dropped (a self-loop-only node is in no edge)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a != b:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for n in parent}


def test_star_contraction_matches_union_find(spark):
    """Alternating large-star/small-star with the star-forest stop must
    give exactly the union-find (node, component-min) map on random
    graphs, long chains (the diameter case star contraction exists for),
    star+bridge shapes, empty input, graphs that are stars from the
    start, and reversed/duplicate pairs — and converge on a 64-chain
    within far fewer than 64 rounds."""
    import random

    from pdf_extract_spark.queries.dedup_q import connected_components_star

    rng = random.Random(7)
    mixed = [(100 + i, 101 + i) for i in range(64)]          # long chain
    mixed += [(500, 500 + i) for i in range(1, 9)]           # star
    mixed += [(508, 600), (600, 601)]                        # bridge
    nodes = list(range(1000, 1040))
    mixed += [tuple(rng.sample(nodes, 2)) for _ in range(30)]  # random
    mixed += [(2000, 2001), (2001, 2000), (2002, 2002)]      # dup/self
    graphs = [
        mixed,
        [],                                                  # empty
        [(2 * i, 2 * i + 1) for i in range(20)],             # disjoint pairs
        [(7, 3), (7, 5), (7, 9), (7, 11), (7, 4)],           # non-min centre
        [(3, 1), (1, 3), (2, 3), (3, 2), (2, 3), (5, 4), (4, 5)],  # rev/dup
    ]
    for pairs in graphs:
        df = spark.createDataFrame(pairs, "a_id long, b_id long")
        # max_rounds=12: the 64-chain must contract in O(log n) rounds
        # (label propagation would need 64+), or this raises
        got = {(r["node"], r["label"])
               for r in connected_components_star(df, max_rounds=12)
               .collect()}
        assert got == _union_find_labels(pairs), pairs


def test_lexical_index_scan_partition_prunes(spark):
    """The persisted-lexical-index search must read ONLY the term-hash
    bucket partitions its query terms fall into — PartitionFilters on the
    postings scan, a strict subset of all buckets (the inverted-list read
    as partition pruning, like the IVF labels)."""
    import re

    from pdf_extract_spark.plans.lexical import N_BUCKETS, lexical_search
    from pdf_extract_spark.queries.search_q import _lexical_index_dir

    d = _lexical_index_dir(spark, SF)
    qterms = spark.createDataFrame(
        [(0, "table"), (0, "scan"), (1, "window")], "qid long, term string")
    plan = _plan(lexical_search(spark, d, qterms, k=5))
    m = re.findall(r"PartitionFilters: \[([^\]]*b[^\]]*)\]", plan)
    assert m, plan
    # 3 distinct terms hash into <= 3 buckets of 64 — files are pruned
    import os
    n_dirs = len([n for n in os.listdir(os.path.join(d, "postings"))
                  if n.startswith("b=")])
    assert n_dirs > 3  # corpus really spans many buckets


def test_connected_components_transitive_chain(spark):
    """A~B, B~C without A~C must collapse into ONE cluster (the closure
    step pair generation alone cannot give); two disjoint chains stay
    separate and a long chain converges within the round cap."""
    from pdf_extract_spark.queries.dedup_q import connected_components_star

    pairs = [(1, 2), (2, 3), (3, 4),          # chain: component min 1
             (10, 11), (12, 11),              # component min 10
             *[(100 + i, 101 + i) for i in range(15)]]  # long chain, min 100
    df = spark.createDataFrame(pairs, "a_id long, b_id long")
    got = {r["node"]: r["label"]
           for r in connected_components_star(df).collect()}
    assert {got[n] for n in (1, 2, 3, 4)} == {1}
    assert {got[n] for n in (10, 11, 12)} == {10}
    assert {got[100 + i] for i in range(16)} == {100}


# --- round-3 training-data pipeline ops ------------------------------------


def test_seq_pack_tiles_sequences(spark):
    """Every non-final sequence is exactly PACK_BUDGET tokens of
    non-overlapping doc spans; the union of spans covers the whole
    concatenated corpus with no gaps."""
    from pdf_extract_spark.queries import load_all
    from pdf_extract_spark.queries.pipeline_q import PACK_BUDGET

    rows = load_all()["seq_pack"].fn(spark, SF).collect()
    total = sum(r["tok_end"] - r["tok_begin"] for r in rows)
    by_seq: dict[int, list] = {}
    for r in rows:
        assert r["tok_begin"] < r["tok_end"]
        assert r["seq_id"] * PACK_BUDGET <= r["tok_begin"]
        assert r["tok_end"] <= (r["seq_id"] + 1) * PACK_BUDGET
        by_seq.setdefault(r["seq_id"], []).append(r)
    last = max(by_seq)
    assert set(by_seq) == set(range(last + 1))  # no gap sequences
    for sid, spans in by_seq.items():
        spans.sort(key=lambda r: r["tok_begin"])
        covered = sum(r["tok_end"] - r["tok_begin"] for r in spans)
        if sid < last:
            assert covered == PACK_BUDGET, f"seq {sid} covers {covered}"
        # spans are contiguous (no overlap, no hole)
        for a, b in zip(spans, spans[1:]):
            assert a["tok_end"] == b["tok_begin"]
        assert spans[0]["tok_begin"] == sid * PACK_BUDGET
    assert total == last * PACK_BUDGET + sum(
        r["tok_end"] - r["tok_begin"] for r in by_seq[last])


def test_seq_pack_prefix_chunk_invariant(spark, monkeypatch):
    """The two-pass distributed prefix sum must be invariant to the range
    size — repartitioning the cumsum cannot change any token offset."""
    from pdf_extract_spark.queries import pipeline_q

    base = sorted(map(tuple, pipeline_q.seq_pack(spark, SF).collect()))
    monkeypatch.setattr(pipeline_q, "PACK_CHUNK", 7)
    small = sorted(map(tuple, pipeline_q.seq_pack(spark, SF).collect()))
    assert base == small


def test_quota_sample_matches_naive_window(spark):
    """The skew-safe two-stage top-N must equal the naive single-window
    rank (the salt-group partial top-N is exact, not approximate)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from pdf_extract_spark.queries import load_all, tbl
    from pdf_extract_spark.queries.pipeline_q import QUOTA_N

    got = sorted(map(tuple,
                     load_all()["quota_sample"].fn(spark, SF).collect()))
    docs = tbl(spark, SF, "documents")
    rk = F.sha2(F.concat(F.lit("qs#"), F.col("doc_id").cast("string")), 256)
    w = Window.partitionBy("lang").orderBy(rk.asc(), F.col("doc_id").asc())
    naive = (docs.select("lang", "doc_id",
                         F.row_number().over(w).cast("bigint")
                         .alias("smpl_rank"))
             .filter(F.col("smpl_rank") <= QUOTA_N))
    assert got == sorted(map(tuple, naive.collect()))


def test_pii_scrub_leaves_no_residual_matches(spark):
    """Redaction completeness: after the three regexp_replace passes, no
    pattern matches anything in the scrubbed text (counts alone could pass
    while a replacement missed an overlapping span)."""
    from pyspark.sql import functions as F
    from pdf_extract_spark.queries import tbl
    from pdf_extract_spark.queries.pipeline_q import (
        _PAT_EMAIL, _PAT_IP, _PAT_PHONE, _SPARK_PII_INJECT)

    t = F.expr(_SPARK_PII_INJECT)
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(t, _PAT_EMAIL, "<EMAIL>"),
                         _PAT_IP, "<IP>"),
        _PAT_PHONE, "<PHONE>")
    residual = (tbl(spark, SF, "documents")
                .select(scrubbed.alias("s"))
                .filter(F.col("s").rlike(_PAT_EMAIL)
                        | F.col("s").rlike(_PAT_IP)
                        | F.col("s").rlike(_PAT_PHONE))
                .count())
    assert residual == 0


def test_dedup_substring_flags_planted_copies(spark):
    """The perturbed planted copies (doc_id >= 1M, first word dropped)
    have gram sets that are strict subsets of their originals, so every
    one present in the output must score dup_frac == 1.0."""
    from pdf_extract_spark.queries import load_all

    rows = load_all()["dedup_substring"].fn(spark, SF).collect()
    planted = [r for r in rows if r["doc_id"] >= 1_000_000]
    assert planted, "augmentation produced no planted docs"
    assert all(r["dup_frac"] == 1.0 for r in planted)
    # and some originals are flagged while unrelated docs are not all 1.0
    assert any(r["dup_frac"] < 1.0 for r in rows)


def test_dedup_substring_cut_excises_planted_and_preserves_firsts(spark):
    """ExactSubstr removal semantics: each planted copy (doc_id >= 1M,
    first word dropped) is a strict suffix of its original, so EVERY gram
    occurrence in the copy loses the first-occurrence race to the
    original (smaller doc_id) — the copy excises to the empty string.
    The lowest-id original can never lose a race it participates in at
    position parity, and untouched docs come back byte-identical."""
    from pdf_extract_spark.queries import load_all, tbl
    from pdf_extract_spark.queries.pipeline_q import SUBSTR_N

    rows = {r["doc_id"]: r
            for r in load_all()["dedup_substring_cut"].fn(spark, SF)
            .collect()}
    planted = {d: r for d, r in rows.items() if d >= 1_000_000}
    assert planted, "augmentation produced no planted docs"
    for d, r in planted.items():
        if r["n_words"] >= SUBSTR_N:
            assert r["n_cut"] == r["n_words"], d
            assert r["clean_text"] == "", d
    # word-count conservation on every doc: survivors = n_words - n_cut
    for d, r in rows.items():
        n_kept = len(r["clean_text"].split(" ")) if r["clean_text"] else 0
        assert n_kept == r["n_words"] - r["n_cut"], d
    # untouched docs are byte-identical to their input text
    texts = {r["doc_id"]: r["text"]
             for r in tbl(spark, SF, "documents")
             .select("doc_id", "text").collect()}
    untouched = [d for d, r in rows.items() if r["n_cut"] == 0
                 and d < 1_000_000]
    assert untouched, "every doc was cut — fixture should have clean docs"
    for d in untouched:
        assert rows[d]["clean_text"] == texts[d], d


def test_dedup_substring_cut_plan_is_linear(spark):
    """The excision plan must stay pair-expansion-free: equi-joins only
    (gram postings + doc reassembly), no cartesian/nested-loop join, no
    corpus-wide window."""
    from pdf_extract_spark.queries.pipeline_q import dedup_substring_cut

    plan = _plan(dedup_substring_cut(spark, SF, materialize=False))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_range_search_broadcasts_and_has_no_window(spark):
    """Radius search streams the corpus with a broadcast query side and —
    unlike top-k — needs no window operator at all."""
    from pdf_extract_spark.queries import load_all

    plan = _plan(load_all()["ann_range_search"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_url_canonicalize_strips_everything(spark):
    """No fragment, no tracking param, no default port survives; hosts are
    lowercase; the %50 path collision makes dup counts non-trivial."""
    from pdf_extract_spark.queries import load_all

    rows = load_all()["url_canonicalize"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        u = r["canon_url"]
        assert "#" not in u and "utm_" not in u and ":443" not in u, u
        assert r["host"] == r["host"].lower()
        assert u.startswith("https://www.example")
    assert any(r["n_same_canon"] > 1 for r in rows)


def test_hash_split_fractions_and_stability(spark):
    """Split is ~12/2/2 sixteenths and content-independent: the assignment
    for a doc_id never changes between invocations."""
    from pdf_extract_spark.queries import load_all

    fn = load_all()["hash_split"].fn
    a = {r["doc_id"]: r["split"] for r in fn(spark, SF).collect()}
    b = {r["doc_id"]: r["split"] for r in fn(spark, SF).collect()}
    assert a == b
    n = len(a)
    frac = {s: sum(1 for v in a.values() if v == s) / n
            for s in ("train", "val", "test")}
    assert abs(frac["train"] - 12 / 16) < 0.1
    assert abs(frac["val"] - 2 / 16) < 0.07
    assert abs(frac["test"] - 2 / 16) < 0.07


def test_top_ngrams_partial_topk_is_exact(spark):
    """The salt-group partial top-K must equal the naive single-window
    rank over the full count table."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from pdf_extract_spark.queries import load_all, tbl
    from pdf_extract_spark.queries.pipeline_q import NGRAM_TOP_K

    got = sorted(map(tuple, load_all()["top_ngrams"].fn(spark, SF).collect()))
    docs = tbl(spark, SF, "documents")
    w = docs.select("lang", F.split("text", " ").alias("w"))
    bg = w.select("lang", F.explode(F.expr(
        "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1),"
        " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
        " ELSE array() END")).alias("bigram"))
    cnt = bg.groupBy("lang", "bigram").agg(F.count("*").cast("bigint").alias("n"))
    wnd = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("bigram"))
    naive = (cnt.withColumn("rnk", F.row_number().over(wnd).cast("bigint"))
             .filter(F.col("rnk") <= NGRAM_TOP_K)
             .select("lang", "bigram", "n", "rnk"))
    assert got == sorted(map(tuple, naive.collect()))


def test_split_contamination_plants_are_found(spark):
    """Copy a train doc's text onto a test doc → that test doc must score
    contam_frac == 1.0; output covers exactly the test split."""
    import pyspark.sql.functions as F
    from pdf_extract_spark.queries import load_all, tbl
    from pdf_extract_spark.queries.pipeline_q import CONTAM_N

    # find one train and one test doc with >= CONTAM_N words
    docs = tbl(spark, SF, "documents")
    h = F.substring(F.sha2(F.concat(F.lit("split#"),
                                    F.col("doc_id").cast("string")), 256),
                    1, 1)
    s = docs.select("doc_id", "text",
                    F.when(h < "c", "train").when(h < "e", "val")
                    .otherwise("test").alias("split")) \
        .filter(F.size(F.split("text", " ")) >= CONTAM_N)
    train_row = s.filter(F.col("split") == "train").orderBy("doc_id").first()
    test_row = s.filter(F.col("split") == "test").orderBy("doc_id").first()
    planted = spark.createDataFrame(
        [(test_row["doc_id"], train_row["text"], "en", "src0", 1)],
        "doc_id long, text string, lang string, source string, n_chars long")
    base = tbl(spark, SF, "documents").filter(
        F.col("doc_id") != test_row["doc_id"])
    import tempfile, os
    d = tempfile.mkdtemp(prefix="contam_")
    base.unionByName(planted).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet"))
    rows = {r["doc_id"]: r for r in
            load_all()["split_contamination"].fn(spark, d).collect()}
    assert rows[test_row["doc_id"]]["contam_frac"] == 1.0


def test_narrow_corpus_prep_ops_have_no_exchange(spark):
    """pii_scrub and hash_split are pure per-row maps: their physical
    plans must contain NO Exchange (shuffle) and stay inside whole-stage
    codegen."""
    from pdf_extract_spark.queries import load_all

    reg = load_all()
    for name in ("pii_scrub", "hash_split", "line_dedup"):
        plan = _plan(reg[name].fn(spark, SF))
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"
        # "*(n)" is the whole-stage-codegen stage marker in the compact plan
        assert "*(1) Project" in plan, f"{name} left codegen:\n{plan}"


def test_ccnet_bucket_bounded_sample_and_broadcast_cutoffs(spark):
    """The cutoff fit must run on a sort-limit sample (planned as
    TakeOrderedAndProject — per-partition partial top-K, never a global
    sort), and the 1-row cutoff frame must BROADCAST onto the corpus
    side; a SortMergeJoin anywhere would mean the scalars shuffled the
    corpus. Also checks the removal semantics end-to-end: every injected
    sidebar multi-copy doc loses exactly its extra copies in line_dedup."""
    from pdf_extract_spark.queries import load_all

    reg = load_all()
    plan = _plan(reg["ccnet_bucket"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    rows = reg["line_dedup"].fn(spark, SF).collect()
    for r in rows:
        extra = r["doc_id"] % 3  # injected duplicate sidebar copies
        assert r["n_lines"] - r["n_kept"] >= extra, r
        assert not r["clean_text"].startswith(
            "sidebar home about contact privacy v%d sidebar"
            % (r["doc_id"] % 5)), r


def test_lm_surprisal_broadcasts_lm_and_oov_fires(spark):
    """The vocab LM and the 1-row total must BROADCAST-join against the
    exploded corpus side (no shuffle of n_tokens rows for the join), and
    the VOCAB_K cap must leave real OOV tokens so the fallback path is
    exercised."""
    from pdf_extract_spark.queries import load_all

    df = load_all()["lm_surprisal"].fn(spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    rows = df.collect()
    assert all(r["total_bits"] > 0 and r["mean_bits"] > 0 for r in rows)
    assert sum(r["n_oov"] for r in rows) > 0, "VOCAB_K cap never bound"


def test_domain_gate_splits_and_broadcasts(spark):
    """The domain verdict table joins back per-doc via broadcast, and the
    mean-length gate must split the 7 synthesized domains non-trivially."""
    from pdf_extract_spark.queries import load_all

    df = load_all()["domain_gate"].fn(spark, SF)
    assert "BroadcastHashJoin" in _plan(df)
    keeps = {r["domain"]: r["keep"] for r in df.collect()}
    assert len(keeps) == 7
    assert any(keeps.values()) and not all(keeps.values())


def test_ann_sq_topk_recall_vs_brute(spark):
    """SQ8 shortlist + exact rescore must recover most of the true top-k:
    recall@10 >= 0.8 against the brute-force baseline, per query."""
    from pdf_extract_spark.queries import load_all

    reg = load_all()
    sq = {}
    for r in reg["ann_sq_topk"].fn(spark, SF).collect():
        sq.setdefault(r["qid"], set()).add(r["vec_id"])
    brute = {}
    for r in reg["ann_cosine_topk"].fn(spark, SF).collect():
        brute.setdefault(r["qid"], set()).add(r["vec_id"])
    assert set(sq) == set(brute)
    for qid in brute:
        recall = len(sq[qid] & brute[qid]) / len(brute[qid])
        assert recall >= 0.8, f"qid={qid} recall={recall}"


def test_ann_sq_quantization_is_narrow(spark):
    """After the 64-row codebook collect, corpus quantization must be a
    narrow codegen'd transform: no explode between the embeddings scan
    and the integer-dot scoring projection. The ONE Generate the plan may
    contain is the salt-group shortlist's bounded ``explode(_top)`` —
    reassembly of per-(qid, salt) top-N lists whose size is capped by the
    shortlist width, introduced when the per-qid corpus-wide window sort
    was replaced by the two-stage partial top-k (round 4)."""
    import re

    from pdf_extract_spark.queries import load_all

    plan = _plan(load_all()["ann_sq_topk"].fn(spark, SF))
    gens = re.findall(r"Generate (\w+)\(([^,)]*)", plan)
    for fn_name, arg in gens:
        assert fn_name == "explode" and arg.startswith("_top"), \
            f"unexpected Generate {fn_name}({arg}) in plan:\n{plan}"
    assert "SortMergeJoin" not in plan


def test_dedup_paragraph_no_pair_expansion_text_stays_local(spark):
    """dedup_paragraph's docstring claims no pair expansion and that
    paragraph TEXT never crosses an algorithm-introduced exchange (the
    occurrence stream is fixed-width metadata; docs reassemble from
    their own paras array). Assert: no cartesian/nested-loop join, and
    every Exchange in the formatted plan whose input carries a
    paragraph/word-array column is the fixture fan-out repartition
    (REPARTITION_BY_NUM — the stand-in for data-determined scan splits
    on a real crawl table), never a hash/ensure-requirements shuffle.
    Then the behavioral check: a planted corpus-wide banner actually
    vanishes from every doc but its first carrier."""
    import re

    from pyspark.sql import functions as F

    from pdf_extract_spark.queries import load_all

    q = load_all()["dedup_paragraph"]
    df = q.fn(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    # formatted sections: "(N) Exchange\nInput [k]: [cols]\nArguments: ..."
    for m in re.finditer(
            r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]"
            r"\nArguments: ([^\n]*)", formatted):
        cols, arguments = m.group(1), m.group(2)
        carries_text = re.search(r"\b(para|paras|w|text)#", cols)
        if carries_text:
            assert "REPARTITION_BY_NUM" in arguments, (
                f"paragraph text crosses a non-fixture exchange:\n"
                f"Input: {cols}\nArguments: {arguments}\n{formatted}")

    # the injected banner (5 variants over doc_id % 5) is paragraph 0 of
    # every doc: exactly 5 docs may keep it, everyone else must shed >= 1
    rows = df.select(
        F.sum((F.col("n_paras") - F.col("n_kept") == 0).cast("int"))
        .alias("fully_kept"),
        F.count("*").alias("n")).collect()[0]
    assert rows["fully_kept"] <= 5, rows


def test_winnow_shared_run_guarantee(spark):
    """Winnowing's defining property (Schleimer et al. 2003, Thm. 1): any
    shared word run of length >= K + W - 1 yields at least one shared
    fingerprint. Plant two otherwise-disjoint docs sharing exactly such a
    run at DIFFERENT offsets and assert a common fp survives selection."""
    import os
    import tempfile

    from pdf_extract_spark.queries import load_all
    from pdf_extract_spark.queries.text_q import WINNOW_K, WINNOW_W

    run = " ".join(f"shared{i}" for i in range(WINNOW_K + WINNOW_W - 1))
    a = "alpha beta gamma " + run + " delta"
    b = "one two three four five six seven " + run
    df = spark.createDataFrame(
        [(1, a, "en", "src0", len(a)), (2, b, "en", "src0", len(b))],
        "doc_id long, text string, lang string, source string, n_chars long")
    d = tempfile.mkdtemp(prefix="winnow_")
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    fps = load_all()["winnow_fingerprint"].fn(spark, d).collect()
    by_doc = {1: set(), 2: set()}
    for r in fps:
        by_doc[r["doc_id"]].add(r["fp"])
    shared = by_doc[1] & by_doc[2]
    assert shared, f"no shared fingerprint: {by_doc}"


def _local_winnow(fps: list, w: int) -> set:
    """Reference winnow: per sliding w-window keep the RIGHTMOST minimal
    hash; return the distinct (pos, fp) selections."""
    sel = set()
    for wn in range(0, len(fps) - w + 1):
        window = fps[wn:wn + w]
        m = min(window)
        pos = wn + max(i for i in range(w) if window[i] == m)
        sel.add((pos, fps[pos]))
    return sel


@pytest.mark.parametrize("hash_fn", ["sha", "xx"])
def test_winnow_selection_matches_local_reference(spark, hash_fn):
    """Permutation-equivalence of the hash fast path: for EITHER hash
    function, the distributed query must select exactly the winnow of
    that hash sequence — the fixed-width-string argmin encoding and the
    window expansion are hash-agnostic. The xx fingerprints are computed
    through the same Spark expression (xxhash64 is JVM-only), the sha
    ones independently via hashlib, so the sha case also cross-checks
    Spark's sha2 against CPython."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql import functions as F

    from pdf_extract_spark.queries.text_q import (
        WINNOW_K, WINNOW_W, winnow_fingerprint)

    vocab = ["aa", "bb", "cc", "dd", "ee"]
    docs = []
    for d in range(4):
        # tiny vocabulary → many repeated grams → min-ties exercise the
        # rightmost-wins rule
        words = [vocab[(i * i + 3 * d + i // 7) % len(vocab)]
                 for i in range(30 + 5 * d)]
        docs.append((d, " ".join(words)))

    d = tempfile.mkdtemp(prefix=f"winnow_ref_{hash_fn}_")
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    got = {}
    for r in winnow_fingerprint(spark, d, hash_fn=hash_fn).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))

    for doc_id, text in docs:
        words = text.split(" ")
        grams = [" ".join(words[i:i + WINNOW_K])
                 for i in range(len(words) - WINNOW_K + 1)]
        if hash_fn == "sha":
            fps = [hashlib.sha256(g.encode()).hexdigest()[:16]
                   for g in grams]
        else:
            # mirror the production combine: hash each WORD once, then
            # one variadic xxhash64 per gram over the word-hash longs
            # (xxhash64 is JVM-only, so computed through Spark — this
            # leg checks SELECTION permutation-equivalence, the sha leg
            # cross-checks the hashes themselves against CPython)
            wrows = (spark.createDataFrame(
                list(enumerate(words)), "i long, w string")
                .select("i", F.xxhash64("w").alias("h")).collect())
            whs = [r["h"] for r in sorted(wrows, key=lambda r: r["i"])]
            gram_h = [tuple(whs[i:i + WINNOW_K])
                      for i in range(len(words) - WINNOW_K + 1)]
            hrows = (spark.createDataFrame(
                [(i,) + g for i, g in enumerate(gram_h)],
                "i long, " + ", ".join(
                    f"h{j} long" for j in range(WINNOW_K)))
                .select("i", F.lower(F.lpad(F.hex(F.xxhash64(
                    *[f"h{j}" for j in range(WINNOW_K)])), 16, "0"))
                    .alias("fp"))
                .collect())
            fps = [r["fp"] for r in sorted(hrows, key=lambda r: r["i"])]
        expect = _local_winnow(fps, WINNOW_W)
        assert got.get(doc_id, set()) == expect, (doc_id, hash_fn)


@pytest.mark.parametrize("name", ["winnow_fingerprint",
                                  "winnow_fingerprint_xx"])
def test_winnow_plan_is_map_side_only(spark, name):
    """Winnow selection is per-document sequential, so the plan must be
    pure map-side array work: no aggregation, no window, no sort — the
    only exchange is the explicit scan-fanout repartition."""
    from pdf_extract_spark.queries import load_all

    plan = _plan(load_all()[name].fn(spark, SF))
    assert "HashAggregate" not in plan
    assert "SortAggregate" not in plan
    assert "Window" not in plan
    assert "Sort" not in plan


def test_winnow_xx_shared_run_guarantee_and_no_sha(spark):
    """The production-hash variant keeps winnowing's defining guarantee
    (shared run of >= K+W-1 words ⇒ shared fingerprint) and its plan
    contains no sha256 — the whole point of the fast path."""
    import os
    import tempfile

    from pdf_extract_spark.queries import load_all
    from pdf_extract_spark.queries.text_q import WINNOW_K, WINNOW_W

    run = " ".join(f"shared{i}" for i in range(WINNOW_K + WINNOW_W - 1))
    a = "alpha beta gamma " + run + " delta"
    b = "one two three four five six seven " + run
    df = spark.createDataFrame(
        [(1, a, "en", "src0", len(a)), (2, b, "en", "src0", len(b))],
        "doc_id long, text string, lang string, source string, n_chars long")
    d = tempfile.mkdtemp(prefix="winnow_xx_")
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    q = load_all()["winnow_fingerprint_xx"].fn(spark, d)
    assert "sha2" not in _plan(q).lower()
    by_doc = {1: set(), 2: set()}
    for r in q.collect():
        by_doc[r["doc_id"]].add(r["fp"])
    assert by_doc[1] & by_doc[2], f"no shared fingerprint: {by_doc}"


@pytest.mark.parametrize("name", ["dedup_paragraph", "dedup_substring",
                                  "dedup_substring_cut"])
def test_hash_fast_path_output_invariant(spark, name):
    """dedup_paragraph_xx / dedup_substring_xx key their shuffles by
    double-xxhash64 instead of sha256/raw text, but the key is internal:
    outputs must be byte-identical to the oracle-parity variant."""
    from pdf_extract_spark.queries import load_all

    reg = load_all()
    base = sorted(map(tuple, reg[name].fn(spark, SF).collect()))
    fast = sorted(map(tuple, reg[f"{name}_xx"].fn(spark, SF).collect()))
    assert base == fast


def test_ann_salted_topk_matches_naive_window(spark):
    """The salt-group partial top-k (stage-1 groupBy + stage-2 window over
    survivors) must equal the naive single-window rank — the decomposition
    is exact, not approximate."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from pdf_extract_spark.queries import load_all, tbl
    from pdf_extract_spark.queries.vectors_q import (
        K, N_QUERIES, _queries_df, _spark_cos)

    got = sorted(map(tuple,
                     load_all()["ann_cosine_topk"].fn(spark, SF).collect()))
    emb = (tbl(spark, SF, "embeddings")
           .filter(F.col("vec_id") >= N_QUERIES)
           .select("vec_id", "embedding"))
    scored = F.broadcast(_queries_df(spark, SF)).crossJoin(emb).select(
        "qid", "vec_id",
        F.expr(_spark_cos('qv', 'embedding')).alias("cos_sim"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    naive = (scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
             .filter(F.col("rn") <= K))
    assert got == sorted(map(tuple, naive.collect()))


def test_ann_topk_has_no_unsalted_per_qid_window(spark):
    """The brute-ANN shortlists must not funnel the whole scored corpus
    into one task per query: stage 1 is a partial (map-side-combining)
    aggregate on (qid, salt); the only Window runs over its ≤ salt×k
    survivors. `partial_collect_list` in the plan is the partial stage."""
    from pdf_extract_spark.queries import load_all

    for name in ("ann_cosine_topk", "knn_topk", "ann_sq_topk"):
        plan = _plan(load_all()[name].fn(spark, SF))
        assert "partial_collect_list" in plan, name
        # the Window input is the exploded survivor set, not the scored
        # corpus: every Window appears AFTER (above) an ObjectHashAggregate
        first_window = plan.index("Window")
        assert "ObjectHashAggregate" in plan[first_window:], name


def test_url_canonicalize_counts_via_partial_agg(spark):
    """The per-URL occurrence count must be a groupBy (map-side partial
    count) joined back, not a count window that ships every row of a hot
    canonical URL to one task."""
    from pdf_extract_spark.queries import load_all

    plan = _plan(load_all()["url_canonicalize"].fn(spark, SF))
    assert "Window" not in plan
    assert "partial_count" in plan


def test_sq_codebook_cached_no_second_collect(spark, monkeypatch):
    """The SQ8 codebook is a fitted model: the first invocation per corpus
    fingerprint collects the 64 (min,max) rows, later invocations must do
    NO driver-side collect at plan-construction time."""
    from pyspark.sql import DataFrame
    from pdf_extract_spark.queries import load_all
    from pdf_extract_spark.queries import vectors_q

    fn = load_all()["ann_sq_topk"].fn
    vectors_q._SQ_CODEBOOK_CACHE.clear()
    fn(spark, SF)  # fit + fill cache (plan construction collects stats)
    assert len(vectors_q._SQ_CODEBOOK_CACHE) == 1

    def boom(self):
        raise AssertionError("driver collect during cached construction")

    monkeypatch.setattr(DataFrame, "collect", boom)
    fn(spark, SF)  # must build the plan from the cached codebook


def test_dedup_simhash_sql_finds_exact_plants(spark):
    """Every planted exact copy (doc_id%10==5 → +2_000_000) must pair with
    its original at Hamming 0; everything reported is within the radius."""
    from pdf_extract_spark.queries import load_all, tbl
    from pyspark.sql import functions as F
    from pdf_extract_spark.queries.dedup_q import SIMHASH_SQL_HAM

    rows = load_all()["dedup_simhash_sql"].fn(spark, SF).collect()
    assert rows and all(r["hamming"] <= SIMHASH_SQL_HAM for r in rows)
    planted = {(r["a_id"], r["b_id"]): r["hamming"] for r in rows
               if r["b_id"] == r["a_id"] + 2_000_000}
    expected = (tbl(spark, SF, "documents")
                .filter((F.col("doc_id") % 10 == 5)
                        & (F.size(F.split("text", " ")) >= 3))
                .count())
    assert len(planted) == expected
    assert all(h == 0 for h in planted.values())


def test_dedup_incremental_flags_plants_no_cartesian(spark):
    """Every planted cross-corpus copy (old doc_id%10==0 → new_id+1M,
    first word dropped) must be flagged keep=False with its origin as the
    best match; candidate generation must be the banded bucket groupBy,
    never a cross join."""
    from pdf_extract_spark.queries import load_all, tbl
    from pyspark.sql import functions as F

    from pdf_extract_spark.queries.dedup_q import _dedup_incremental_build

    q = load_all()["dedup_incremental"]
    built, caches = _dedup_incremental_build(spark, SF)
    plan = _plan(built)
    for c in caches:
        c.unpersist()
    assert "CartesianProduct" not in plan
    df = q.fn(spark, SF)
    rows = {r["new_id"]: r for r in df.collect()}
    planted_src = [r["doc_id"] for r in
                   tbl(spark, SF, "documents")
                   .filter((F.col("doc_id") % 10 == 0)
                           & (F.size(F.split("text", " ")) >= 4))
                   .select("doc_id").collect()]
    assert planted_src
    for src in planted_src:
        r = rows[src + 1_000_000]
        assert r["keep"] is False
        assert r["dup_of"] == src
        assert r["best_jaccard"] >= 0.5
    # old x old / new x new pairs are never emitted: every flagged row's
    # dup_of is an OLD (even) id
    assert all(r["dup_of"] % 2 == 0 for r in rows.values()
               if r["dup_of"] is not None)


def test_dedup_semantic_drops_planted_copies(spark):
    """Every planted exact vector copy (vec_id%20==0 → +100000) with a
    nonzero origin must land in the origin's cluster and be dropped; the
    anchor assignment is a broadcast join and pair work is an equi-join
    on cluster (no cartesian)."""
    from pdf_extract_spark.queries import load_all, tbl
    from pyspark.sql import functions as F

    from pdf_extract_spark.queries.dedup_q import _dedup_semantic_build

    q = load_all()["dedup_semantic"]
    built, cl = _dedup_semantic_build(spark, SF)
    plan = _plan(built)
    cl.unpersist()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    rows = {r["vec_id"]: r for r in q.fn(spark, SF).collect()}
    nz = "aggregate(embedding, CAST(0.0 AS DOUBLE)," \
         " (acc, x) -> acc + abs(CAST(x AS DOUBLE))) > 0.0"
    planted = [r["vec_id"] for r in
               tbl(spark, SF, "embeddings")
               .filter((F.col("vec_id") % 20 == 0) & F.expr(nz))
               .select("vec_id").collect()]
    assert planted
    for src in planted:
        copy = rows[src + 100_000]
        assert copy["keep"] is False
        assert copy["cluster"] == rows[src]["cluster"]
    assert any(r["keep"] for r in rows.values())


def test_decontam_bloom_matches_exact_and_broadcasts(spark):
    """The bloom prefilter must not change the result (no false negatives;
    false positives die in the exact verify) and must probe via a
    broadcast semi-join on the bounded slot table."""
    from pdf_extract_spark.queries import load_all

    from pdf_extract_spark.queries.pipeline_q import _decontam_bloom_build

    reg = load_all()
    built, caches = _decontam_bloom_build(spark, SF)
    plan = _plan(built)
    for c in caches:
        c.unpersist()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    exact = {tuple(r) for r in reg["split_contamination"].fn(spark, SF).collect()}
    bloom = {tuple(r) for r in reg["decontam_bloom"].fn(spark, SF).collect()}
    assert bloom == exact


def test_importance_sample_two_scans_one_broadcast(spark):
    """DSIR scoring must pay exactly TWO corpus tokenize+hash passes —
    one to fit the bucket stats, one to score — with the bounded stats
    (<= DSIR_B rows) re-joined by broadcast hash join; no shuffle join,
    no nested-loop/cross join, and map-side partial_sum before the final
    per-doc exchange. Guards against the four-branch regression that
    re-scanned the token stream per stats branch (5 corpus scans)."""
    from pdf_extract_spark.queries import load_all

    plan = _plan(load_all()["importance_sample"].fn(spark, SF))
    assert plan.count("FileScan parquet") == 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_sum" in plan


def test_nb_classify_fit_is_bounded_predict_broadcasts(spark):
    """The NB classifier's fit must collapse to the bounded (lang, bucket)
    stats via map-side partials; PREDICT joins the pivoted bucket map by
    ONE broadcast hash join (no ×C cross join — the classify-stage
    rewrite measured 2.7× over the expanded form) and reduces through a
    single partial-agg groupBy; no window, no shuffle join anywhere."""
    from pdf_extract_spark.queries import load_all

    plan = _plan(load_all()["nb_classify"].fn(spark, SF))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # the old ×C cross join
    assert "partial_count" in plan or "partial_sum" in plan


def test_nb_classify_beats_prior(spark):
    """The fit must actually learn: held-out accuracy above the uniform
    prior over the 5 fixture languages (deterministic at this SF)."""
    from pdf_extract_spark.queries import load_all

    rows = load_all()["nb_classify"].fn(spark, SF).collect()
    test = [r for r in rows if not r["is_train"]]
    acc = sum(1 for r in test if r["correct"]) / len(test)
    assert acc > 0.25, acc


def test_bpe_merge_counts_non_increasing(spark):
    """Greedy BPE invariant: a pair created by merge k occurs at most as
    often as the pair merged at k did, so selected counts never increase
    with rank."""
    from pdf_extract_spark.queries import load_all

    rows = (load_all()["bpe_train"].fn(spark, SF)
            .orderBy("rank").collect())
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    assert len(rows) == 8 and len({r["merge"] for r in rows}) == 8


def test_bpe_encode_vocab_broadcast_no_window(spark):
    """Encoding applies the merge chain to the DISTINCT-word table and
    broadcast-joins it back: the corpus side must not shuffle for the
    join and no window may appear."""
    from pdf_extract_spark.queries import load_all

    plan = _plan(load_all()["bpe_encode"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_kmeans_final_assignment_is_narrow(spark):
    """Lloyd assignment rides literal broadcast centroids: the final
    assignment pass over the cached iteration-1 frame is a pure narrow
    projection — zero exchanges, zero joins."""
    from pdf_extract_spark.queries.model_q import _kmeans_build

    out, caches = _kmeans_build(spark, SF)
    try:
        plan = _plan(out)
        assert "Exchange" not in plan
        assert "Join" not in plan
        rows = out.collect()
        ks = {r["c1"] for r in rows} | {r["c2"] for r in rows}
        assert ks <= set(range(8))
        assert 0 < sum(r["moved"] for r in rows) < len(rows)
    finally:
        for c in caches:
            c.unpersist()


def test_kmeans_centroids_cached_no_second_fit(spark, monkeypatch):
    """A second kmeans_embed invocation in the same session must reuse
    the per-sf_dir fitted centroids (the SQ8-codebook discipline), not
    re-run the seed/update collect jobs."""
    from pdf_extract_spark.queries import model_q

    model_q._KM_CACHE.clear()
    model_q.kmeans_embed(spark, SF).count()
    assert SF in model_q._KM_CACHE

    def guard(spark_, sf_dir, qd):
        if sf_dir not in model_q._KM_CACHE:
            raise AssertionError("fit re-ran despite cache")
        return model_q._KM_CACHE[sf_dir]
    monkeypatch.setattr(model_q, "_kmeans_fit", guard)
    assert model_q.kmeans_embed(spark, SF).count() > 0


def test_cosine_zero_vector_scores_minus_two_and_sorts_last(spark,
                                                            tmp_path_factory):
    """A zero-norm embedding (the embed kernel emits one for empty text)
    must score -2.0 — not NaN — in every cosine query. NaN would diverge
    between the salted stage-1 (ascending -score: NaN last, silently
    sliced away) and a desc window / the DuckDB oracle (NaN first)."""
    import math
    import os
    import numpy as np

    from pdf_extract_spark.queries import load_all

    d = str(tmp_path_factory.mktemp("zero_vec"))
    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        v = ([0.0] * 64 if i == 20
             else [float(x) for x in rng.normal(size=64)])
        rows.append((i, v, i % 3))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(os.path.join(d, "embeddings.parquet"))

    out = load_all()["ann_cosine_topk"].fn(spark, d).collect()
    assert all(not math.isnan(r["cos_sim"]) for r in out)
    assert all(r["vec_id"] != 20 for r in out)  # -2.0 sorts below top-k
    rng_out = load_all()["ann_range_search"].fn(spark, d).collect()
    assert all(r["vec_id"] != 20 for r in rng_out)


def test_video_frame_dedup_plan_and_plants(spark):
    """Frame-level video dedup must be the dedup_exact shape with frames
    as the unit: one digest groupBy (partial+final HashAggregate), no
    join of any kind, no window. Correctness: planted shared-seed frames
    cluster exactly (driver-gated value-exact too; this is the plan
    guard plus a small local check)."""
    from pdf_extract_spark.queries import load_all

    df = load_all()["video_frame_dedup"].fn(spark, SF)
    plan = _plan(df)
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "Window" not in plan
    rows = df.collect()
    assert rows, "planted duplicate frames must surface"
    for r in rows:
        assert r["n_videos"] >= 2
        assert r["first_media"] % 5 == r["last_media"] % 5
