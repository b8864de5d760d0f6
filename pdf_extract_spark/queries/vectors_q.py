"""Vector search stack: brute-force k-NN (J1), multi-variant merge (J2),
dedup-keep-best (W4), score gating (A4/P10), cosine ANN + IVF-style
two-stage search — SURVEY.md §2.3/§2.8, reference /root/reference/modules/
tools.py:155-277 (search_tool) and :115-134 (IVF index).

The reference's FAISS index file is replaced by the embeddings DataFrame
itself (SURVEY S3/S4): search is a broadcast theta-join — the tiny query
side broadcasts, the big chunk/embedding side never shuffles for the scan,
and per-query top-k is a row_number window. The IVF scale path keeps the
same two-stage shape FAISS uses (coarse quantize → probe shortlist), as a
centroid broadcast join + partition-pruned fine search.

Float parity with the DuckDB oracle: every distance folds the arrays in
element order with double accumulation (verified bit-exact vs DuckDB's
ordered list_transform/list_sum; DuckDB's builtin list_distance is float32
and is NOT used). Averages go through DECIMAL sums (order-insensitive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from . import cached_index_dir, register, tbl

N_QUERIES = 5
K = 10
EMB_DIM = 64  # fixture embedding width; DuckDB-side dim unrolls derive
#               from this so a fixture change can't desync the oracles
#               (the Spark side is dim-agnostic: zip_with / transform)

# --- shared expression snippets (Spark SQL and DuckDB dialects) -----------

def _spark_l2(a: str, b: str) -> str:
    """SQUARED L2, matching FAISS IndexFlatL2.search, whose returned
    'distances' are squared — so the reference's score = 1/(1+distance)
    (tools.py:198) is 1/(1+d²) and its 0.3/0.6 gates fire at the same
    effective distances here (ADVICE r1: no sqrt)."""
    sq = (f"zip_with({a}, {b}, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
          f" * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))")
    return f"aggregate({sq}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"


def _spark_dot(a: str, b: str) -> str:
    pr = f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"
    return f"aggregate({pr}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"


def _duck_l2(a: str, b: str) -> str:
    """Squared-L2 oracle twin of _spark_l2 (same FAISS semantics)."""
    term = (f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
            f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))")
    return (f"list_sum(list_transform(range(1, len({b}) + 1),"
            f" i -> {term}))")


def _duck_dot(a: str, b: str) -> str:
    return (f"list_sum(list_transform(range(1, len({b}) + 1),"
            f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))")


def _spark_norm(a: str) -> str:
    return f"sqrt({_spark_dot(a, a)})"


def _duck_norm(a: str) -> str:
    return f"sqrt({_duck_dot(a, a)})"


def _spark_cos(a: str, b: str) -> str:
    """Cosine with the zero-vector guard: a zero-norm side gives dot=0 and
    norm-product=0, and under ANSI mode (Spark 4 default) that 0.0/0.0 is
    a runtime divideByZeroError — not NaN — so the query CRASHES on the
    first zero vector (the embed kernel emits one for empty text).
    try_divide yields NULL there; coalesce maps it to -2.0, which sorts/
    filters below every real cosine (the dedup_semantic discipline).
    x/0 with x != 0 cannot occur (zero norm forces zero dot)."""
    return (f"coalesce(try_divide({_spark_dot(a, b)},"
            f" {_spark_norm(a)} * {_spark_norm(b)}), CAST(-2.0 AS DOUBLE))")


def _duck_cos(a: str, b: str) -> str:
    """Oracle twin of _spark_cos (DuckDB has no nanvl; the CASE inlines
    the fold twice — values identical, NaN -> -2.0 in both engines)."""
    raw = (f"({_duck_dot(a, b)}"
           f" / ({_duck_norm(a)} * {_duck_norm(b)}))")
    return f"CASE WHEN isnan({raw}) THEN CAST(-2.0 AS DOUBLE) ELSE {raw} END"


def _queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    return (emb.filter(F.col("vec_id") < N_QUERIES)
            .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")))


_DUCK_Q = f"(SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES})"

ANN_SALT = 32  # stage-1 partial top-k groups per query


def _salted_topk(scored: DataFrame, part_cols: list[str], score_col: str,
                 tie_col: str, k: int) -> DataFrame:
    """Exact per-key top-k without funneling the whole scored corpus into
    one task per key (`Window.partitionBy(qid)` makes ONE task sort all n
    scored rows of a query — at 10^12 vectors that is one task sorting
    10^12 rows). Same two-stage salt-group partial top-N proven exact for
    quota_sample / top_ngrams (tests prove both equal the naive window):

    stage 1 — partial top-k inside each of {ANN_SALT} ``tie_col % salt``
    groups per key. Any row in the global top-k is necessarily in its
    salt group's top-k under the same total order (restriction of a total
    order), so the decomposition is exact, not approximate.
    stage 2 — row_number over the ≤ salt×k survivors per key.

    Ordering: desc score then asc tie (same total order both stages);
    stage 1 sorts structs of (negated score, tie) ascending — negation is
    a sign-bit flip, IEEE-exact to invert. Sizing: per-group state is the
    salt group's rows, so ANN_SALT both multiplies stage-1 parallelism
    and divides the per-group buffer; a production job sizes it from
    corpus/executor-memory (here 32 matches local parallelism)."""
    staged = (
        scored
        .withColumn("_salt", F.pmod(F.col(tie_col), F.lit(ANN_SALT)))
        .groupBy(*part_cols, "_salt")
        .agg(F.slice(F.array_sort(F.collect_list(F.struct(
            (-F.col(score_col)).alias("_ns"),
            F.col(tie_col).alias("_tb"),
            F.col(score_col).alias("_sc")))), 1, k).alias("_top"))
        .select(*part_cols, F.explode("_top").alias("_t"))
        .select(*part_cols,
                F.col("_t._tb").alias(tie_col),
                F.col("_t._sc").alias(score_col)))
    w = (Window.partitionBy(*part_cols)
         .orderBy(F.desc(score_col), F.asc(tie_col)))
    return (staged.withColumn("rn", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rn") <= k))


@register(
    "knn_topk",
    oracle=f"""
    WITH q AS {_DUCK_Q},
    d AS (
      SELECT q.qid, e.vec_id,
             1.0 / (1.0 + {_duck_l2('q.qv', 'e.embedding')}) AS score
      FROM q CROSS JOIN embeddings e),
    r AS (
      SELECT qid, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, vec_id) AS rn
      FROM d)
    SELECT qid, vec_id, score, rn FROM r WHERE rn <= {K}
    """,
)
def knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 brute-force k-NN (reference tools.py:184-188): broadcast the few
    query vectors across the big embedding table, score = 1/(1+L2)
    (tools.py:198), per-query top-k window. At 100 TB the embedding side
    streams partition-parallel with zero shuffle; only the k·|q| winners
    move."""
    emb = tbl(spark, sf_dir, "embeddings")
    q = _queries_df(spark, sf_dir)
    scored = (
        F.broadcast(q).crossJoin(emb.select("vec_id", "embedding"))
        .select("qid", "vec_id",
                F.expr(f"1.0 / (1.0 + {_spark_l2('qv', 'embedding')})")
                .alias("score"))
    )
    return _salted_topk(scored, ["qid"], "score", "vec_id", K)


_VARIANTS_CTE = f"""
    q AS {_DUCK_Q},
    v1 AS (
      SELECT q.qid, e.vec_id, 'l2' AS variant,
             1.0 / (1.0 + {_duck_l2('q.qv', 'e.embedding')}) AS score
      FROM q CROSS JOIN embeddings e),
    v2 AS (
      SELECT q.qid, e.vec_id, 'cosine' AS variant,
             ({_duck_cos('q.qv', 'e.embedding')}
              + CAST(1.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE) AS score
      FROM q CROSS JOIN embeddings e),
    u AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY score DESC, vec_id) AS rn
        FROM v1) a WHERE rn <= 20
      UNION ALL
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY score DESC, vec_id) AS rn
        FROM v2) b WHERE rn <= 20)
"""


def _variant_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-variant top-20 hits: L2 scoring and cosine scoring as the two
    'query formulations' (reference builds text variants, tools.py:279-297;
    the merge semantics are what matters)."""
    emb = tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = _queries_df(spark, sf_dir)
    base = F.broadcast(q).crossJoin(emb)
    v1 = base.select(
        "qid", "vec_id", F.lit("l2").alias("variant"),
        F.expr(f"1.0 / (1.0 + {_spark_l2('qv', 'embedding')})").alias("score"))
    v2 = base.select(
        "qid", "vec_id", F.lit("cosine").alias("variant"),
        F.expr(
            f"({_spark_cos('qv', 'embedding')}"
            f" + CAST(1.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE)"
        ).alias("score"))
    return _salted_topk(v1.unionByName(v2), ["qid", "variant"],
                        "score", "vec_id", 20)


@register(
    "variant_merge",
    oracle=f"""
    WITH {_VARIANTS_CTE}
    SELECT qid, vec_id,
           CASE WHEN COUNT(*) > 1
                THEN least(MAX(score) * CAST(1.2 AS DOUBLE), CAST(1.0 AS DOUBLE))
                ELSE MAX(score) END AS merged_score,
           COUNT(*) AS n_variants,
           string_agg(variant, ',' ORDER BY variant) AS query_types
    FROM u GROUP BY qid, vec_id
    """,
)
def variant_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 variant-hit merge (reference tools.py:208-229): union per-variant
    results, repeat hits get max-score × 1.2 capped at 1.0, variant names
    concatenated (sorted for determinism — the reference's dict-order
    concat is not canonical)."""
    hits = _variant_hits(spark, sf_dir)
    return hits.groupBy("qid", "vec_id").agg(
        F.expr("CASE WHEN COUNT(*) > 1"
               " THEN least(MAX(score) * CAST(1.2 AS DOUBLE), CAST(1.0 AS DOUBLE))"
               " ELSE MAX(score) END").alias("merged_score"),
        F.count("*").alias("n_variants"),
        F.array_join(F.array_sort(F.collect_list("variant")), ",")
        .alias("query_types"),
    )


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH q AS {_DUCK_Q},
    d AS (
      SELECT q.qid, e.vec_id,
             1.0 / (1.0 + {_duck_l2('q.qv', 'e.embedding')}) AS score
      FROM q CROSS JOIN embeddings e)
    SELECT vec_id, qid AS best_qid, score AS best_score FROM (
      SELECT qid, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, qid) AS rn
      FROM d) t WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/U2 dedup-keep-best (reference agents.py:815-823: sort by score
    desc, first occurrence per text wins) — row_number window per entity."""
    emb = tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = _queries_df(spark, sf_dir)
    scored = (
        F.broadcast(q).crossJoin(emb)
        .select("qid", "vec_id",
                F.expr(f"1.0 / (1.0 + {_spark_l2('qv', 'embedding')})")
                .alias("score"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("qid"))
    return (scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("qid").alias("best_qid"),
                    F.col("score").alias("best_score")))


@register(
    "verify_gate",
    oracle=f"""
    WITH q AS {_DUCK_Q},
    d AS (
      SELECT q.qid, e.vec_id,
             1.0 / (1.0 + {_duck_l2('q.qv', 'e.embedding')}) AS score
      FROM q CROSS JOIN embeddings e),
    topk AS (
      SELECT qid, vec_id, score FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY score DESC, vec_id) AS rn
        FROM d) t WHERE rn <= {K})
    SELECT qid,
           CAST(SUM(CAST(score AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*) AS avg_score,
           MAX(score) AS top_score,
           (CAST(SUM(CAST(score AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)) >= 0.3
             AS verified,
           MAX(score) < 0.3 AS needs_fallback
    FROM topk GROUP BY qid
    """,
)
def verify_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 mean-score + P10 threshold gates (reference agents.py:850-864,
    tools.py:247): avg of top-k scores decides verified; top < 0.3 triggers
    the fallback path. Exact avg via DECIMAL sum."""
    topk = knn_topk(spark, sf_dir)
    avg_exact = F.expr(
        "CAST(SUM(CAST(score AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)")
    return topk.groupBy("qid").agg(
        avg_exact.alias("avg_score"),
        F.max("score").alias("top_score"),
        (avg_exact >= 0.3).alias("verified"),
        (F.max("score") < 0.3).alias("needs_fallback"),
    )


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS {_DUCK_Q},
    d AS (
      SELECT q.qid, e.vec_id,
             {_duck_cos('q.qv', 'e.embedding')} AS cos_sim
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id >= {N_QUERIES})
    SELECT qid, vec_id, cos_sim, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, vec_id) AS rn
      FROM d) t WHERE rn <= {K}
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k — the ANN baseline over the embedding
    column (build brief: similarity search). Norms computed as L2-to-zero
    so the expression shape matches the oracle exactly."""
    emb = (tbl(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") >= N_QUERIES)
           .select("vec_id", "embedding"))
    q = _queries_df(spark, sf_dir)
    scored = F.broadcast(q).crossJoin(emb).select(
        "qid", "vec_id",
        F.expr(_spark_cos('qv', 'embedding')).alias("cos_sim"))
    return _salted_topk(scored, ["qid"], "cos_sim", "vec_id", K)


# cosine radius: the fixture embeddings are near-orthogonal random vectors
# (max query↔corpus cosine ≈ 0.40 at sf0.01), so 0.3 sits in the top-0.1%
# tail — the result is non-empty at every SF without being a full dump
RANGE_THRESH = 0.3


@register(
    "ann_range_search",
    oracle=f"""
    WITH q AS {_DUCK_Q},
    d AS (
      SELECT q.qid, e.vec_id,
             {_duck_cos('q.qv', 'e.embedding')} AS cos_sim
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id >= {N_QUERIES})
    SELECT qid, vec_id, cos_sim FROM d WHERE cos_sim >= {RANGE_THRESH}
    """,
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search — FAISS ``range_search`` relationally: ALL
    corpus vectors within cosine ≥ {RANGE_THRESH} of each query, not a
    fixed top-k. The shape a retrieval pipeline uses when recall matters
    more than a fixed fan-out (e.g. collecting every near-duplicate of a
    query document).

    Scale: same broadcast theta-join as ann_cosine_topk — the tiny query
    side broadcasts, the corpus streams partition-parallel with zero
    shuffle, and (unlike top-k) there is no window at all: the radius
    predicate filters inside the scan stage, so output size is the only
    cost driver. The threshold compare runs on the identical double fold
    both engines compute, so set membership at the cut is engine-exact."""
    emb = (tbl(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") >= N_QUERIES)
           .select("vec_id", "embedding"))
    q = _queries_df(spark, sf_dir)
    return (F.broadcast(q).crossJoin(emb)
            .select("qid", "vec_id",
                    F.expr(_spark_cos('qv', 'embedding')).alias("cos_sim"))
            .filter(F.col("cos_sim") >= RANGE_THRESH))


def _ivf_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """The persisted IVF index (ivf_vectors partitioned by label +
    ivf_centroids), built once per embeddings-table content."""
    from ..plans.index import write_ivf_index

    return cached_index_dir(spark, sf_dir, "embeddings", "pdfx_ivf",
                            "ivf_centroids/_SUCCESS", write_ivf_index)


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH comp AS (
      SELECT label, i,
             CAST(SUM(CAST(embedding[i] AS DECIMAL(18,12))) AS DOUBLE)
               / COUNT(*) AS c
      FROM embeddings
      CROSS JOIN (SELECT CAST(range AS INT) AS i FROM range(1, {EMB_DIM + 1})) t
      GROUP BY label, i),
    centroids AS (
      SELECT label, list(c ORDER BY i) AS cv FROM comp GROUP BY label),
    q AS {_DUCK_Q},
    probes AS (
      SELECT qid, label FROM (
        SELECT q.qid, c.label,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY {_duck_l2('q.qv', 'c.cv')}, c.label) AS pr
        FROM q CROSS JOIN centroids c) t WHERE pr <= 2),
    fine AS (
      SELECT q.qid, e.vec_id,
             1.0 / (1.0 + {_duck_l2('q.qv', 'e.embedding')}) AS score
      FROM q
      JOIN probes p ON p.qid = q.qid
      JOIN embeddings e ON e.label = p.label)
    SELECT qid, vec_id, score, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY score DESC, vec_id) AS rn
      FROM fine) t WHERE rn <= {K}
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style two-stage ANN (reference tools.py:115-129 builds
    IndexIVFFlat, nlist=min(100,n), nprobe search) over the PERSISTED
    index tables (plans/index.write_ivf_index): coarse centroids =
    per-label exact means read from ivf_centroids, probe the 2 nearest
    lists, fine L2 top-k reading ONLY the probed label= partitions of
    ivf_vectors — file-level partition pruning does what FAISS's
    inverted-list read does (asserted in test_plans)."""
    from ..plans.index import ivf_search

    d = _ivf_index_dir(spark, sf_dir)
    return ivf_search(spark, d, _queries_df(spark, sf_dir), k=K, nprobe=2)


# --- scalar-quantized (int8) ANN ---------------------------------------------
# FAISS IndexScalarQuantizer (SQ8) relationally: per-dimension min/max over
# the corpus define a linear codebook; vectors quantize to 0..255 integers
# (4x smaller than float32 — at 100 TB of embeddings the difference between
# fitting in cluster memory and not); candidate generation ranks a
# quantized cosine over CENTERED codes (code − 128) — raw-code dot
# products are useless because the +128 offset term swamps the signal
# (measured recall 0.1; FAISS dequantizes before scoring for the same
# reason), while centered-code cosine recovers recall 1.0 on the fixture.
# Numerator and both squared norms are exact INTEGER sums; the only float
# ops are sqrt (IEEE-mandated correctly rounded) and one division — both
# engine-deterministic, unlike transcendental log/exp — so the whole
# codebook and shortlist are oracle-replayable.

SQ_OVERSAMPLE = 3  # shortlist 3*K candidates per query before exact rescore

# per-dim (min, max) codebooks keyed by embeddings-file fingerprint — the
# fit is a model (like the IVF index), not part of the query: refitting on
# every invocation is an eager driver-side job at plan-construction time,
# wasted work in a shared session and bench noise (same discipline as
# _ivf_index_dir's on-disk cache; 128 doubles, so in-process is enough)
_SQ_CODEBOOK_CACHE: dict[str, list[tuple[float, float]]] = {}


def _sq_codebook(spark: SparkSession, sf_dir: str,
                 emb: DataFrame) -> list[tuple[float, float]]:
    import os
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    key = f"{src}|{st.st_size}|{st.st_mtime_ns}"
    if key not in _SQ_CODEBOOK_CACHE:
        ex = emb.select(F.posexplode("embedding").alias("p", "v"))
        stats = (ex.groupBy("p")
                 .agg(F.min(F.col("v").cast("double")).alias("mn"),
                      F.max(F.col("v").cast("double")).alias("mx"))
                 .orderBy("p").collect())
        _SQ_CODEBOOK_CACHE[key] = [(float(r["mn"]), float(r["mx"]))
                                   for r in stats]
    return _SQ_CODEBOOK_CACHE[key]

_DUCK_SQ8 = f"""
    ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
           FROM c CROSS JOIN (SELECT CAST(range AS INT) AS i
                              FROM range(1, {EMB_DIM + 1})) dims),
    st AS (SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY i),
    cq AS (SELECT vec_id, list(q ORDER BY i) AS q8 FROM (
             SELECT e.vec_id, e.i,
                    CASE WHEN st.mx = st.mn THEN CAST(0 AS BIGINT)
                         ELSE CAST(least(255.0, greatest(0.0,
                              floor((e.v - st.mn) * 255.0
                                    / (st.mx - st.mn)))) AS BIGINT)
                    END AS q
             FROM ex e JOIN st ON st.i = e.i) t
           GROUP BY vec_id),
    qq AS (SELECT qid, list(q ORDER BY i) AS q8 FROM (
             SELECT q.qid, st.i,
                    CASE WHEN st.mx = st.mn THEN CAST(0 AS BIGINT)
                         ELSE CAST(least(255.0, greatest(0.0,
                              floor((CAST(q.qv[st.i] AS DOUBLE) - st.mn)
                                    * 255.0 / (st.mx - st.mn)))) AS BIGINT)
                    END AS q
             FROM q CROSS JOIN st) t
           GROUP BY qid),
    cqn AS (SELECT vec_id, q8,
                   CAST(list_sum(list_transform(q8,
                        x -> (x - 128) * (x - 128))) AS BIGINT) AS nsq
            FROM cq),
    qqn AS (SELECT qid, q8,
                   CAST(list_sum(list_transform(q8,
                        x -> (x - 128) * (x - 128))) AS BIGINT) AS nsq
            FROM qq)
"""


@register(
    "ann_sq_topk",
    oracle=f"""
    WITH c AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id >= {N_QUERIES}),
    q AS {_DUCK_Q},
    {_DUCK_SQ8},
    cand AS (
      SELECT qid, vec_id FROM (
        SELECT a.qid, a.vec_id,
               ROW_NUMBER() OVER (PARTITION BY a.qid
                                  ORDER BY a.approx DESC, a.vec_id) AS arn
        FROM (
          SELECT qq.qid, cq.vec_id,
                 CASE WHEN qq.nsq = 0 OR cq.nsq = 0
                      THEN CAST(-2.0 AS DOUBLE)
                      ELSE CAST(CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}),
                               i -> (qq.q8[i] - 128) * (cq.q8[i] - 128)))
                             AS BIGINT) AS DOUBLE)
                           / (sqrt(CAST(qq.nsq AS DOUBLE))
                              * sqrt(CAST(cq.nsq AS DOUBLE)))
                 END AS approx
          FROM qqn qq CROSS JOIN cqn cq) a) t
      WHERE arn <= {SQ_OVERSAMPLE * K})
    SELECT qid, vec_id, cos_sim, rn FROM (
      SELECT s.qid, s.vec_id, s.cos_sim,
             ROW_NUMBER() OVER (PARTITION BY s.qid
                                ORDER BY s.cos_sim DESC, s.vec_id) AS rn
      FROM (
        SELECT q.qid, e.vec_id,
               {_duck_cos('q.qv', 'e.embedding')} AS cos_sim
        FROM cand
        JOIN q ON q.qid = cand.qid
        JOIN embeddings e ON e.vec_id = cand.vec_id) s) t
    WHERE rn <= {K}
    """,
)
def ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage scalar-quantized ANN: int8 codebook shortlist of
    {SQ_OVERSAMPLE}×k per query ranked by centered-code quantized cosine
    (integer numerator and norms; see module comment for why raw-code
    dots fail), then exact-cosine rescore of the shortlist only. The
    oracle replays the SAME algorithm, so parity is exact even though
    the result is approximate relative to brute force (recall vs
    ann_cosine_topk is asserted separately in tests).

    Scale shape: the per-dim min/max fit is one n×64-row groupBy (at
    10^12 vectors the codebook would fit on a fixed sample — it is a
    model, like lm_surprisal's LM); the 64-entry stats COLLECT to the
    driver ONCE per corpus fingerprint (_sq_codebook cache — 128
    doubles) and quantization is then a NARROW codegen'd
    transform over the corpus — zero shuffle, no explode. Candidate
    generation is the same broadcast theta-join as ann_cosine_topk but
    streaming 1-byte-per-dim codes instead of 4-byte floats; the rescore
    touches float vectors for only nq×{SQ_OVERSAMPLE}k rows via a
    broadcast semi-join on vec_id."""
    emb = (tbl(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") >= N_QUERIES)
           .select("vec_id", "embedding"))
    q = _queries_df(spark, sf_dir)

    stats = _sq_codebook(spark, sf_dir, emb)  # 64 (mn,mx): model, cached
    mn_arr = F.array(*[F.lit(mn) for mn, _ in stats])
    mx_arr = F.array(*[F.lit(mx) for _, mx in stats])

    def _quant(col: str) -> object:
        # transform index i is 0-based; literal arrays are 1-based
        return F.expr(
            f"transform({col}, (x, i) -> CASE"
            " WHEN element_at(mxa, i + 1) = element_at(mna, i + 1)"
            " THEN CAST(0 AS BIGINT)"
            " ELSE CAST(least(CAST(255.0 AS DOUBLE), greatest("
            "CAST(0.0 AS DOUBLE), floor((CAST(x AS DOUBLE)"
            " - element_at(mna, i + 1)) * 255.0"
            " / (element_at(mxa, i + 1) - element_at(mna, i + 1)))))"
            " AS BIGINT) END)")

    # per-vector centered squared norm, computed ONCE per row here rather
    # than once per (query, vector) pair inside the cross join
    nsq = ("CAST(aggregate(transform(q8, x -> (x - 128L) * (x - 128L)),"
           " CAST(0 AS BIGINT), (acc, v) -> acc + v) AS BIGINT)")
    cq = (emb.withColumn("mna", mn_arr).withColumn("mxa", mx_arr)
          .select("vec_id", _quant("embedding").alias("q8"))
          .select("vec_id", "q8", F.expr(nsq).alias("nsq")))
    qq = (q.withColumn("mna", mn_arr).withColumn("mxa", mx_arr)
          .select("qid", _quant("qv").alias("q8"))
          .select("qid", "q8", F.expr(nsq).alias("nsq")))

    approx = (
        "CASE WHEN qn = 0 OR cn = 0 THEN CAST(-2.0 AS DOUBLE)"
        " ELSE CAST(aggregate(zip_with(qa, qb,"
        " (x, y) -> (x - 128L) * (y - 128L)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE)"
        " / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) END")
    approx_scored = (
        F.broadcast(qq.select("qid", F.col("q8").alias("qa"),
                              F.col("nsq").alias("qn")))
        .crossJoin(cq.select("vec_id", F.col("q8").alias("qb"),
                             F.col("nsq").alias("cn")))
        .select("qid", "vec_id", F.expr(approx).alias("approx")))
    cand = (_salted_topk(approx_scored, ["qid"], "approx", "vec_id",
                         SQ_OVERSAMPLE * K)
            .select("qid", "vec_id"))

    scored = (F.broadcast(cand)
              .join(emb, "vec_id")
              .join(F.broadcast(q), "qid")
              .select("qid", "vec_id",
                      F.expr(_spark_cos('qv', 'embedding'))
                      .alias("cos_sim")))
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rn") <= K))
