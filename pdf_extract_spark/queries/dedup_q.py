"""Deduplication suite for the training-data pipeline: exact hash dedup,
MinHash+LSH, n-gram Jaccard, embedding-cosine near-dup (build brief
first-class ops; the reference's only dedup is U2/W4 keep-best,
/root/reference/modules/agents.py:815-823 — these generalize it to
corpus-scale near-dup detection).

The fixture corpus has no natural duplicates, so each query first augments
it with deterministic perturbed copies (doc_id+1_000_000, first word
dropped / exact vector copies) — the dedup op must then find exactly those
planted pairs plus any natural near-pairs, and the oracle checks both.

MinHash permutations are min-over-sha256(shingle + seed) — a real MinHash
family (the hex string order is the permutation order) that both engines
compute identically, unlike engine-specific hash builtins (xxhash64 has no
DuckDB twin).

Scale shapes: candidate generation is always a key-equi-join (band key /
shingle / LSH bucket), never an O(n²) cross join — except the cosine
near-dup baseline, whose scale path is the IVF/bucketed variant
(vectors_q.ann_ivf_topk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from . import explode_ne, register, tbl

N_PERM = 8
N_BANDS = 4  # 2 rows per band
# LSH buckets larger than this are degenerate (boilerplate-grade shingle
# minima — here an artifact of the fixtures' tiny vocabulary, at web scale
# an artifact of boilerplate): standard practice is to discard them rather
# than emit O(bucket²) candidate pairs.
MAX_BUCKET = 64
# Posting-list cap for the inverted-index (shingle) self-join: a shingle
# appearing in > MAX_POSTING documents is boilerplate — joining on it emits
# O(df²) pairs on one key. Drop it from the index (the Jaccard denominator
# keeps the FULL set sizes, so capped scores only ever underestimate —
# safe for dedup, where a missed borderline pair beats a quadratic key).
MAX_POSTING = 64

# --- augmented corpus (planted near-dups), shared Spark + DuckDB ----------

_DUCK_AUG = """
aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         CASE WHEN strpos(text, ' ') > 0
              THEN substr(text, strpos(text, ' ') + 1) ELSE text END AS text
  FROM documents WHERE doc_id % 10 = 0)
"""


def _aug_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.expr("CASE WHEN locate(' ', text) > 0"
                   " THEN substring(text, locate(' ', text) + 1)"
                   " ELSE text END").alias("text"),
        )
    )
    # The fixture table is one parquet file → one scan partition; fan the
    # corpus out across the cluster before the (expensive) shingle work.
    # The repartition exchange is also reused across the self-join subtrees.
    return docs.unionByName(perturbed).repartition(
        spark.sparkContext.defaultParallelism, "doc_id")


@register(
    "dedup_exact",
    oracle=f"""
    WITH {_DUCK_AUG}
    SELECT sha256(text) AS text_sha, COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_id
    FROM aug GROUP BY sha256(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on sha256(text), min doc_id is canonical.
    One shuffle on the digest; partial agg collapses copies map-side."""
    return _aug_docs(spark, sf_dir).groupBy(
        F.sha2("text", 256).alias("text_sha")
    ).agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("canonical_id"))


# --- shingling helpers ----------------------------------------------------

def _spark_shingles(n: int) -> str:
    """Distinct word n-grams as a SQL expression over `w` (split words)."""
    joined = ", ".join(f"element_at(w, i + {j + 1})" for j in range(n))
    return (f"CASE WHEN size(w) >= {n} THEN "
            f"array_distinct(transform(sequence(0, size(w) - {n}),"
            f" i -> concat_ws(' ', {joined})))"
            f" ELSE array() END")


def _duck_shingles(n: int) -> str:
    joined = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
    return (f"CASE WHEN len(w) >= {n} THEN "
            f"list_distinct(list_transform(range(1, len(w) - {n - 2}),"
            f" i -> {joined}))"
            f" ELSE [] END")


_DUCK_MH = ", ".join(
    f"list_min(list_transform(shingles, s -> sha256(s || '#{j}')))"
    for j in range(N_PERM)
)
_SPARK_MH = ", ".join(
    f"array_min(transform(shingles, s -> sha2(concat(s, '#{j}'), 256)))"
    for j in range(N_PERM)
)


_MINHASH_ORACLE_SQL = f"""
    WITH {_DUCK_AUG},
    sh AS (
      SELECT doc_id, {_duck_shingles(3)} AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM aug) s),
    sig AS (
      SELECT doc_id, shingles, [{_DUCK_MH}] AS mh
      FROM sh WHERE len(shingles) > 0),
    bands AS (
      SELECT doc_id, b, mh[2 * b + 1] || mh[2 * b + 2] AS band_key
      FROM sig CROSS JOIN
        (SELECT CAST(range AS INT) AS b FROM range(0, {N_BANDS})) t),
    bands_g AS (
      SELECT doc_id, b, band_key,
             COUNT(*) OVER (PARTITION BY b, band_key) AS bucket_n
      FROM bands),
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM bands_g x JOIN bands_g y
        ON x.b = y.b AND x.band_key = y.band_key AND x.doc_id < y.doc_id
      WHERE x.bucket_n <= {MAX_BUCKET}),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sig),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sig),
    common AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS n_common
      FROM cand c
      JOIN ex ea ON ea.doc_id = c.a_id
      JOIN ex eb ON eb.doc_id = c.b_id AND ea.s = eb.s
      GROUP BY c.a_id, c.b_id)
    SELECT a_id, b_id,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    """


@register("dedup_minhash_lsh", oracle=_MINHASH_ORACLE_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: 3-gram shingles → 8 min-over-sha256(shingle+seed)
    permutations → 4 bands of 2 → band-key equi-join candidates → exact
    Jaccard verify over shingle sets, threshold 0.5.

    Scale: the only joins are on band_key (tiny collision classes) and on
    shingle restricted to candidates — no cross join anywhere; this is the
    standard web-scale near-dup shape (Broder minhashing)."""
    aug = _aug_docs(spark, sf_dir)
    # filter on word count, NOT size(shingles) > 0: the latter is pushed into
    # the scan filter where Catalyst inlines the whole shingle transform
    # (recomputing split(text) per element) — equivalent predicate, ~10× cheaper
    # persist: the signature table is referenced by 5 downstream subtrees
    # (bands, candidate verify a/b, sizes a/b) — without materialization
    # Catalyst recomputes the 8×sha256-per-shingle work per subtree. In the
    # real pipeline this is a written table (the sketch index), same idea.
    sig = (aug.withColumn("w", F.split("text", " "))
           .filter(F.size("w") >= 3)
           .select("doc_id", F.expr(_spark_shingles(3)).alias("shingles"))
           .select("doc_id", "shingles", F.expr(f"array({_SPARK_MH})").alias("mh"))
           .persist())
    bands = sig.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("b"),
        "mh",
    ).select(
        "doc_id", "b",
        F.expr("concat(element_at(mh, 2 * b + 1), element_at(mh, 2 * b + 2))")
        .alias("band_key"),
    )
    # Candidate generation by bucket groupBy + in-array pair expansion (not a
    # band self-join): one shuffle on the band key, oversized buckets dropped
    # (MAX_BUCKET) before the O(bucket²) pair blow-up can happen.
    buckets = (bands.groupBy("b", "band_key")
               .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
               .filter((F.size("ids") >= 2) & (F.size("ids") <= MAX_BUCKET)))
    pair_expr = (
        "flatten(transform(sequence(1, size(ids) - 1), i -> "
        "transform(slice(ids, i + 1, size(ids) - i), "
        "y -> struct(element_at(ids, i) AS a_id, y AS b_id))))"
    )
    cand = (explode_ne(buckets, [], F.expr(pair_expr), "p")
            .select("p.a_id", "p.b_id")
            .distinct())
    ex = sig.select("doc_id", F.explode("shingles").alias("s"))
    sizes = sig.select("doc_id", F.size("shingles").cast("bigint").alias("n"))
    common = (
        cand.join(ex.select(F.col("doc_id").alias("a_id"), "s"), "a_id")
        .join(ex.select(F.col("doc_id").alias("b_id"), "s"), ["b_id", "s"])
        .groupBy("a_id", "b_id").agg(F.count("*").alias("n_common"))
    )
    jac = F.expr("CAST(n_common AS DOUBLE) / (sa_n + sb_n - n_common)")
    return (
        common
        .join(sizes.select(F.col("doc_id").alias("a_id"),
                           F.col("n").alias("sa_n")), "a_id")
        .join(sizes.select(F.col("doc_id").alias("b_id"),
                           F.col("n").alias("sb_n")), "b_id")
        .select("a_id", "b_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_DUCK_AUG},
    sh AS (
      SELECT doc_id, {_duck_shingles(4)} AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM aug) s),
    sig AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sig),
    rare AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= {MAX_POSTING}),
    exr AS (SELECT ex.doc_id, ex.s FROM ex JOIN rare USING (s)),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sig),
    common AS (
      SELECT ea.doc_id AS a_id, eb.doc_id AS b_id, COUNT(*) AS n_common
      FROM exr ea JOIN exr eb ON ea.s = eb.s AND ea.doc_id < eb.doc_id
      GROUP BY ea.doc_id, eb.doc_id)
    SELECT a_id, b_id,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.4
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup via inverted-index join: candidate pairs are
    generated by the shingle equi-join itself (docs sharing ≥1 rare 4-gram),
    then scored |A∩B| / |A∪B|. 4-grams keep posting lists short so the
    self-join stays near-linear; boilerplate shingles with document
    frequency > MAX_POSTING are dropped from the index BEFORE the self-join
    (the one key class that would otherwise go quadratic at web scale —
    same discipline as MAX_BUCKET in the minhash path). Set sizes keep the
    full shingle count, so capping only lowers scores, never inflates."""
    aug = _aug_docs(spark, sf_dir)
    # word-count filter instead of size(shingles) > 0 — see dedup_minhash_lsh
    sig = (aug.withColumn("w", F.split("text", " "))
           .filter(F.size("w") >= 4)
           .select("doc_id", F.expr(_spark_shingles(4)).alias("shingles"))
           .persist())  # 3 downstream subtrees — see dedup_minhash_lsh
    ex = sig.select("doc_id", F.explode("shingles").alias("s"))
    # document-frequency cap: one groupBy on s (map-side partial agg), then
    # an equi-join back — the join re-uses the same hash partitioning on s
    # that the self-join below needs, so the cap costs ~one extra pass
    rare = (ex.groupBy("s").agg(F.count("*").alias("df"))
            .filter(F.col("df") <= MAX_POSTING).select("s"))
    ex = ex.join(rare, "s")
    sizes = sig.select("doc_id", F.size("shingles").cast("bigint").alias("n"))
    ea, eb = ex.alias("ea"), ex.alias("eb")
    common = (
        ea.join(eb, (F.col("ea.s") == F.col("eb.s"))
                & (F.col("ea.doc_id") < F.col("eb.doc_id")))
        .groupBy(F.col("ea.doc_id").alias("a_id"),
                 F.col("eb.doc_id").alias("b_id"))
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.expr("CAST(n_common AS DOUBLE) / (sa_n + sb_n - n_common)")
    return (
        common
        .join(sizes.select(F.col("doc_id").alias("a_id"),
                           F.col("n").alias("sa_n")), "a_id")
        .join(sizes.select(F.col("doc_id").alias("b_id"),
                           F.col("n").alias("sb_n")), "b_id")
        .select("a_id", "b_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.4)
    )


_DUCK_COS = (
    "list_sum(list_transform(range(1, len(b.embedding) + 1),"
    " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),"
    " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),"
    " i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))"
)


MAX_BRUTE_N = 65_536  # broadcast build-side cap (~32 MB at 64-dim float64)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH aug AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id, embedding
      FROM embeddings WHERE vec_id % 20 = 0)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id, {_DUCK_COS} AS cos_sim
    FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    WHERE {_DUCK_COS} >= 0.99
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, brute-force baseline (bounded).

    Shape: the normalized embedding matrix is collected and broadcast —
    exactly a BroadcastHashJoin's build side, hard-capped at MAX_BRUTE_N
    rows — and each partition scans it with one vectorized numpy matmul
    (Arrow batches, no per-row Python) to emit candidate pairs at the
    threshold minus a float slack. The exact Catalyst fold then recomputes
    cosine bit-identically to the DuckDB oracle on just those pairs, so
    results carry NO numpy summation-order noise. Beyond the cap this
    raises: at corpus scale the LSH bucketing (dedup_embedding_lsh) is the
    candidate generator, with this same exact-verify tail."""
    emb = tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    aug = emb.unionByName(
        emb.filter(F.col("vec_id") % 20 == 0)
        .select((F.col("vec_id") + 100_000).alias("vec_id"), "embedding"))
    # persist: aug feeds FOUR consumers (driver collect, candidate scan,
    # both exact-verify join sides) — materialize once, not per subtree
    aug = aug.persist()

    import numpy as np

    build = aug.collect()  # guarded build side, like a broadcast join
    if len(build) > MAX_BRUTE_N:
        raise ValueError(
            f"dedup_embedding_cosine is the brute-force baseline, capped at "
            f"{MAX_BRUTE_N} vectors (got {len(build)}); use "
            "dedup_embedding_lsh for corpus-scale near-dup")
    ids = np.array([r["vec_id"] for r in build], dtype=np.int64)
    mat = np.array([r["embedding"] for r in build], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = np.nan  # zero vectors never match (nan compares False)
    matn = mat / norms[:, None]
    bc = spark.sparkContext.broadcast((ids, matn))

    def gen(batches):
        import pandas as pd

        b_ids, b_mat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            a = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf["embedding"]])
            an = np.linalg.norm(a, axis=1)
            an[an == 0.0] = np.nan
            sims = (a / an[:, None]) @ b_mat.T
            # slack 1e-9 >> float64 matmul error (~1e-14); the exact
            # Catalyst fold below applies the true 0.99 cut
            ai, bi = np.nonzero(sims >= 0.99 - 1e-9)
            keep = a_ids[ai] < b_ids[bi]
            if not keep.any():
                continue
            yield pd.DataFrame({"a_id": a_ids[ai[keep]],
                                "b_id": b_ids[bi[keep]]})

    cand = aug.mapInPandas(gen, "a_id long, b_id long")
    a = aug.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("va"))
    b = aug.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("vb"))
    dot = ("aggregate(zip_with(va, vb, (x, y) -> CAST(x AS DOUBLE) *"
           " CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    na = ("sqrt(aggregate(zip_with(va, va, (x, y) -> CAST(x AS DOUBLE) *"
          " CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))")
    nb = ("sqrt(aggregate(zip_with(vb, vb, (x, y) -> CAST(x AS DOUBLE) *"
          " CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))")
    res = (
        cand.join(a, "a_id").join(b, "b_id")
        .select("a_id", "b_id",
                F.expr(f"{dot} / ({na} * {nb})").alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.99)
    )
    # Materialize the (small, bounded-by-near-dup-count) result eagerly so
    # the cached corpus and the broadcast matrix can be released NOW — a
    # long-lived session invoking this repeatedly (bench warm-up + timed
    # run, oracle sweeps) must not accumulate cached partitions and
    # broadcast blocks. Downstream actions read the checkpointed blocks.
    res = res.localCheckpoint(eager=True)
    aug.unpersist()
    bc.destroy()
    return res


# --- SRP-LSH bucketed embedding near-dup (scale path) ---------------------
# Hyperplane signs are a pure function of (component i, plane j) through
# sha256 — identically computable in both engines, no RNG state to ship.

_DUCK_HP = """
hp AS (
  SELECT CAST(i.range AS INT) AS i, CAST(j.range AS INT) AS j,
         CASE WHEN substr(sha256('hp#' || j.range || '#' || i.range), 1, 1)
                   < '8' THEN 1.0 ELSE -1.0 END AS s
  FROM range(0, 64) i CROSS JOIN range(0, 8) j)
"""


@register(
    "dedup_embedding_lsh",
    oracle=f"""
    WITH aug AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id, embedding
      FROM embeddings WHERE vec_id % 20 = 0),
    {_DUCK_HP},
    comp AS (
      SELECT a.vec_id, unnest(a.embedding) AS x,
             generate_subscripts(a.embedding, 1) - 1 AS i
      FROM aug a),
    proj AS (
      SELECT c.vec_id, h.j,
             CAST(SUM(CAST(h.s * CAST(c.x AS DOUBLE) AS DECIMAL(18,12)))
                  AS DOUBLE) AS p
      FROM comp c JOIN hp h ON h.i = c.i
      GROUP BY c.vec_id, h.j),
    sig AS (
      SELECT vec_id,
             string_agg(CASE WHEN p >= 0 THEN '1' ELSE '0' END, ''
                        ORDER BY j) AS bucket
      FROM proj GROUP BY vec_id),
    cand AS (
      SELECT x.vec_id AS a_id, y.vec_id AS b_id
      FROM sig x JOIN sig y
        ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
    SELECT c.a_id, c.b_id, {_DUCK_COS.replace('a.embedding', 'ea.embedding').replace('b.embedding', 'eb.embedding')} AS cos_sim
    FROM cand c
    JOIN aug ea ON ea.vec_id = c.a_id
    JOIN aug eb ON eb.vec_id = c.b_id
    WHERE {_DUCK_COS.replace('a.embedding', 'ea.embedding').replace('b.embedding', 'eb.embedding')} >= 0.99
    """,
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at scale: signed-random-projection LSH replaces
    the O(n²) cross join of dedup_embedding_cosine — candidates are pairs
    sharing an 8-bit hyperplane-sign bucket (equi-join), verified by exact
    cosine. Hyperplane signs derive from sha256(plane#component), so Spark
    and DuckDB build the identical hash family; projections use DECIMAL
    sums (order-insensitive) before the sign decision.

    Cost: n·64·8 multiply-adds for signatures + within-bucket pairs —
    linear-ish vs the baseline's n²·64."""
    emb = tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    aug = emb.unionByName(
        emb.filter(F.col("vec_id") % 20 == 0)
        .select((F.col("vec_id") + 100_000).alias("vec_id"), "embedding"))
    aug = aug.repartition(spark.sparkContext.defaultParallelism, "vec_id")

    hp = (spark.range(64).select(F.col("id").cast("int").alias("i"))
          .crossJoin(spark.range(8).select(F.col("id").cast("int").alias("j")))
          .select("i", "j", F.expr(
              "CASE WHEN substr(sha2(concat('hp#', j, '#', i), 256), 1, 1)"
              " < '8' THEN 1.0 ELSE -1.0 END").alias("s")))

    comp = aug.select("vec_id", F.posexplode("embedding").alias("i", "x"))
    proj = (comp.join(F.broadcast(hp), "i")
            .groupBy("vec_id", "j")
            .agg(F.expr("CAST(SUM(CAST(s * CAST(x AS DOUBLE)"
                        " AS DECIMAL(18,12))) AS DOUBLE)").alias("p")))
    sig = (proj.groupBy("vec_id")
           .agg(F.expr("array_join(transform(array_sort(collect_list("
                       "struct(j, CASE WHEN p >= 0 THEN '1' ELSE '0' END))),"
                       " v -> v.col2), '')").alias("bucket")))
    x, y = sig.alias("x"), sig.alias("y")
    cand = (x.join(y, (F.col("x.bucket") == F.col("y.bucket"))
                   & (F.col("x.vec_id") < F.col("y.vec_id")))
            .select(F.col("x.vec_id").alias("a_id"),
                    F.col("y.vec_id").alias("b_id")))
    a = aug.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("va"))
    b = aug.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("vb"))
    dot = ("aggregate(zip_with(va, vb, (x, y) -> CAST(x AS DOUBLE) *"
           " CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    na = ("sqrt(aggregate(zip_with(va, va, (x, y) -> CAST(x AS DOUBLE) *"
          " CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))")
    nb = ("sqrt(aggregate(zip_with(vb, vb, (x, y) -> CAST(x AS DOUBLE) *"
          " CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))")
    return (cand.join(a, "a_id").join(b, "b_id")
            .select("a_id", "b_id",
                    F.expr(f"{dot} / ({na} * {nb})").alias("cos_sim"))
            .filter(F.col("cos_sim") >= 0.99))


def connected_components_star(pairs: DataFrame,
                              max_rounds: int = 50) -> DataFrame:
    """(a_id, b_id) undirected pair table → (node, label) with label = min
    node id in the component; self-loops are dropped. Alternating
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): O(log n) rounds on any graph, so a
    pathological chain-shaped near-dup component (doc A ~ B ~ C ~ ...
    from chained shingle overlaps) cannot stall the job the way
    diameter-bound label propagation would.

    Representation: a parent pointer per node (edges toward each node's
    current minimum). Each round is two groupBy-min + join steps:

      large-star: every neighbor v > u re-points to m = min(N(u) ∪ {u})
      small-star: every neighbor v <= u (and u) re-points to m

    Both steps keep edge count bounded by the input (no quadratic
    blow-up), and localCheckpoint truncates lineage per round.

    Stop test, run BEFORE each round: the edges are a star forest —
    every child u has exactly one edge and no child is any edge's
    parent v. A star forest is a fixed point of a round and every fixed
    point is a star forest (Kiveris et al.), so the loop stops on the
    first fixed point without running a round to confirm it, and the
    roots are simply the distinct parents. Raises if none of the
    max_rounds tests passes."""
    # canonical form: (u, v) with v < u, self-loops dropped
    edges = (pairs.filter(F.col("a_id") != F.col("b_id"))
             .select(F.greatest("a_id", "b_id").alias("u"),
                     F.least("a_id", "b_id").alias("v"))
             .distinct()
             .localCheckpoint())

    for _ in range(max_rounds):
        # not a star forest iff some node is in two or more edges and a
        # child in at least one of them
        roles = (edges.select(F.col("u").alias("n"), F.lit(1).alias("child"))
                 .unionByName(edges.select(F.col("v").alias("n"),
                                           F.lit(0).alias("child"))))
        if (roles.groupBy("n")
                .agg(F.count("*").alias("k"), F.max("child").alias("child"))
                .filter((F.col("k") > 1) & (F.col("child") == 1))
                .isEmpty()):
            break
        # LARGE-STAR: full undirected neighborhoods; every neighbor
        # dst > src re-points to m = min(N(src) ∪ {src}). Output edges all
        # satisfy small < big, i.e. arrive canonical.
        und = (edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
               .unionByName(edges.select(F.col("v").alias("src"),
                                         F.col("u").alias("dst"))))
        mins = (und.groupBy("src").agg(F.min("dst").alias("md"))
                .select("src", F.least("src", "md").alias("m")))
        large = (und.join(mins, "src")
                 .filter(F.col("dst") > F.col("src"))
                 .select(F.col("dst").alias("u"), F.col("m").alias("v"))
                 .distinct())
        # SMALL-STAR: per node u over its smaller neighbors N≤,
        # m = min(N≤); re-point u and every v ∈ N≤ to m.
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (large.join(mins2, "u")
                 .select(F.col("v").alias("a"), F.col("m").alias("b"))
                 .unionByName(mins2.select(F.col("u").alias("a"),
                                           F.col("m").alias("b"))))
        edges = (small.filter(F.col("a") != F.col("b"))
                 .select(F.greatest("a", "b").alias("u"),
                         F.least("a", "b").alias("v"))
                 .distinct()
                 .localCheckpoint())
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_rounds} rounds")
    labels = edges.select(F.col("u").alias("node"), F.col("v").alias("label"))
    roots = (edges.select(F.col("v").alias("node")).distinct()
             .withColumn("label", F.col("node")))
    return labels.unionByName(roots)


# connected components as a recursive-CTE min-label closure over the
# minhash pairs: the DuckDB oracle of both cluster-map registrations
_CLUSTERS_ORACLE_SQL = f"""
    WITH RECURSIVE
    p AS (SELECT a_id, b_id FROM ({_MINHASH_ORACLE_SQL}) mh),
    e AS (SELECT a_id AS src, b_id AS dst FROM p
          UNION ALL SELECT b_id, a_id FROM p),
    n AS (SELECT DISTINCT src AS node FROM e),
    reach(node, label) AS (
      SELECT node, node FROM n
      UNION
      SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.node),
    comp AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node)
    SELECT node AS doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           node = cluster_id AS is_canonical,
           COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
    FROM comp
    """


# dedup_clusters_star: an alias of the same query under its older name,
# kept so the registry's name list stays stable
@register("dedup_clusters_star", oracle=_CLUSTERS_ORACLE_SQL)
@register("dedup_clusters", oracle=_CLUSTERS_ORACLE_SQL)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the minhash pair
    graph, canonical doc = min doc_id per component — the transitive-
    closure step a real dedup pipeline runs after pair generation (A~B
    and B~C must collapse into one cluster even when A~C was never a
    candidate pair).

    Spark shape: `connected_components_star`, alternating
    large-star/small-star contraction that stops on the first star
    forest — O(log n) rounds whatever the component diameter, each a
    few bounded shuffles with lineage cut by localCheckpoint. The oracle
    is a recursive-CTE min-label closure over the same pairs."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("a_id", "b_id")
    labels = connected_components_star(pairs)
    w = Window.partitionBy("cluster_id")
    return (labels.select(F.col("node").alias("doc_id"),
                          F.col("label").alias("cluster_id"))
            .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
            .withColumn("n_members", F.count("*").over(w)))


# --- paragraph-level dedup (CCNet / C4 discipline) ---------------------------
# Corpus-wide duplicate-PARAGRAPH removal: the web-corpus staple that
# document-level dedup misses (cookie banners, nav footers, license
# blurbs repeated across millions of otherwise-unique pages). CCNet
# (Wenzek et al. 2020) and C4 (Raffel et al. 2020) both hash paragraphs
# (C4: three-sentence spans) and keep only the first occurrence
# corpus-wide, reassembling each document from its surviving paragraphs.
#
# The fixture prose has no paragraph breaks, so structure is injected
# deterministically (the pii_scrub/text_normalize _INJECT discipline): a
# 6-word boilerplate banner (5 variants keyed by doc_id % 5 — each shared
# by ~1/5 of the corpus) is prepended, then the word stream is chunked
# into fixed 6-word "paragraphs". The banner lands exactly in paragraph 0
# and must vanish from all but its first carrier; natural 6-word chunks
# from the small-vocabulary fixtures supply organic duplicates too.

PARA_W = 6  # words per paragraph (== banner length, so the banner is para 0)

_SPARK_PARA_RAW = ("concat('cookie notice v', CAST(doc_id % 5 AS STRING),"
                   " ' accept terms continue ', text)")
_DUCK_PARA_RAW = ("'cookie notice v' || CAST(doc_id % 5 AS VARCHAR)"
                  " || ' accept terms continue ' || text")


_PARA_ORACLE_SQL = f"""
    WITH raw AS (SELECT doc_id, string_split({_DUCK_PARA_RAW}, ' ') AS w
                 FROM documents),
    ex AS (SELECT doc_id, u.pos AS pos, u.para AS para FROM (
             SELECT doc_id,
                    unnest(list_transform(
                      range(0, CAST(ceil(len(w) / {PARA_W}.0) AS INT)),
                      i -> struct_pack(
                        pos := i,
                        para := array_to_string(
                          w[i * {PARA_W} + 1 : i * {PARA_W} + {PARA_W}],
                          ' ')))) AS u
             FROM raw)),
    sel AS (SELECT doc_id, pos, para,
                   ROW_NUMBER() OVER (PARTITION BY para
                                      ORDER BY doc_id, pos) = 1 AS keep
            FROM ex)
    SELECT doc_id,
           COUNT(*) AS n_paras,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(para, ' ' ORDER BY pos)
                      FILTER (WHERE keep), '') AS clean_text
    FROM sel GROUP BY doc_id
    """


@register("dedup_paragraph", oracle=_PARA_ORACLE_SQL)
def dedup_paragraph(spark: SparkSession, sf_dir: str,
                    hash_fn: str = "sha") -> DataFrame:
    """CCNet/C4-style corpus-wide paragraph dedup: hash every {PARA_W}-word
    paragraph, keep only its FIRST occurrence (min (doc_id, pos) across
    the whole corpus), reassemble each doc from the survivors in original
    order, and account paragraphs in vs kept.

    Scale: no pair expansion anywhere, and paragraph TEXT never crosses
    an exchange (plan-asserted) — the occurrence stream carries only
    fixed-width metadata (128-bit-at-most hash key, position, winner
    encoding): (1) groupBy(hash) with a map-side-partial ``min(enc)``
    (a banner shared by 10^6 docs reduces to one row per partition
    before the exchange — hot keys cost nothing); (2) an equi-join of
    the metadata stream back to that one-winner-per-key table (build
    side is 1 row per key, probe-side key skew is AQE skew-join
    territory); (3) groupBy(doc_id) of LOSER POSITIONS ONLY into a
    per-doc cut set whose state is bounded by a single document's
    paragraph count; (4) a join of the cut sets back to the docs, after
    which each doc reassembles from its OWN paras array via an indexed
    higher-order filter — so the reassembly exchange that previously
    shipped every paragraph's text corpus-wide is gone. This is the
    generalization the document-level suite (dedup_exact/minhash)
    cannot express: removal INSIDE surviving documents. The up-front
    repartition fans the single-file fixture scan out before the
    paragraph build (the _aug_docs discipline; real crawl tables have
    data-determined split counts).

    ``hash_fn``: "sha" (default) keys paragraphs by sha256 — the DuckDB
    oracle's portable hash; "xx" is the production path, keying by TWO
    independent xxhash64s (128 bits total — at 10^12 paragraphs a 64-bit
    key would see birthday collisions, and a collision here silently
    DELETES a paragraph). The key never reaches the output, so both
    variants return byte-identical rows (test-gated at sf0.001), and the
    xx variant shares the sha oracle verbatim."""
    docs = (tbl(spark, sf_dir, "documents").select("doc_id", "text")
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"))
    w = docs.select("doc_id",
                    F.split(F.expr(_SPARK_PARA_RAW), " ").alias("w"))
    p = w.select("doc_id", F.expr(
        f"transform(sequence(0, CAST(ceil(size(w) / {PARA_W}.0) AS INT)"
        f" - 1), i -> concat_ws(' ', slice(w, i * {PARA_W} + 1,"
        f" {PARA_W})))").alias("paras"))
    # Paragraph TEXT never crosses an exchange (the plans/corpus.py
    # dedup_paragraphs shape): the occurrence stream is fixed-width
    # metadata only, loser positions flow back as a per-doc cut set, and
    # each doc reassembles from its OWN paras array via a HOF filter.
    ex = (p.select("doc_id", F.posexplode("paras").alias("pos", "para"))
          # xx path: lpad keeps each half fixed-width 16 so the concat is
          # an unambiguous 128-bit key (hex() drops leading zeros)
          .select("doc_id", "pos",
                  (F.sha2("para", 256) if hash_fn == "sha"
                   else F.concat(
                       F.lpad(F.hex(F.xxhash64("para")), 16, "0"),
                       F.lpad(F.hex(F.xxhash64(F.lit(1), "para")),
                              16, "0"))).alias("h"),
                  # fixed-width string encoding of (doc_id, pos):
                  # lexicographic min == numeric-tuple min, and a STRING
                  # min hash-aggregates with map-side partials (min over
                  # a struct falls back to SortAggregate — hash agg has
                  # no struct buffers)
                  F.concat(
                      F.lpad(F.col("doc_id").cast("string"), 19, "0"),
                      F.lpad(F.col("pos").cast("string"), 9, "0"))
                  .alias("enc")))
    firsts = ex.groupBy("h").agg(F.min("enc").alias("f_enc"))
    percut = (ex.join(firsts, "h")
              .filter(F.col("enc") != F.col("f_enc"))
              .groupBy("doc_id")
              .agg(F.collect_set("pos").alias("cuts")))
    return (p.join(percut, "doc_id", "left")
            .select(
                "doc_id",
                F.size("paras").cast("bigint").alias("n_paras"),
                (F.size("paras") - F.coalesce(F.size("cuts"), F.lit(0)))
                .cast("bigint").alias("n_kept"),
                F.when(F.col("cuts").isNull(),
                       F.concat_ws(" ", F.col("paras")))
                .otherwise(F.concat_ws(" ", F.filter(
                    "paras",
                    lambda x, i: ~F.array_contains(F.col("cuts"), i))))
                .alias("clean_text")))


@register("dedup_paragraph_xx", oracle=_PARA_ORACLE_SQL)
def dedup_paragraph_xx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash paragraph dedup: same plan as dedup_paragraph but
    keyed by a 128-bit double-xxhash64 instead of sha256 (~20× cheaper
    per paragraph; the fused job's choice, plans/corpus.py). The key is
    internal, so the output is byte-identical to the sha variant — this
    entry shares dedup_paragraph's DuckDB oracle verbatim, making the
    fast path value-exact under the driver gate, not just rows-only."""
    return dedup_paragraph(spark, sf_dir, hash_fn="xx")


# --- relational SimHash (oracle twin of text_q.dedup_simhash) --------------
# The kernel op (text_q.dedup_simhash) computes simhash in a pandas UDF and
# is rows-only under the driver gate; this twin re-expresses the WHOLE
# Manku/Jain/Sarma pipeline relationally so DuckDB replays it value-exact:
# word-3-shingle features hashed to 64 bits (first 16 hex chars of sha256 —
# the portable-hash discipline of _SPARK_MH), per-bit majority vote, 4×16-bit
# banded candidates (Hamming ≤ 3 ⇒ ≥ 1 identical band), bucket-capped pair
# expansion, and a bit_count(xor) Hamming verify.
#
# Fixture note: the word-dropped near-copies (_aug_docs) perturb ~3 of ~28
# features — at that feature count the per-bit majority margin is small and
# simhash legitimately lands them well above Hamming 3 (simhash is a
# LARGE-document sketch; Manku's k=3 assumes thousands of features), so the
# planted-and-guaranteed pairs here are EXACT copies (doc_id+2_000_000,
# Hamming 0); near-copies appear only if genuinely close. Both engines
# replay the same decision, so parity is exact either way.

SIMHASH_SQL_HAM = 3  # Manku et al. k: pairs within this Hamming distance
_HEXD = "0123456789abcdef"

_DUCK_SIMAUG = f"""
    simaug AS (
      SELECT doc_id, text FROM aug
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text
      FROM documents WHERE doc_id % 10 = 5)
"""


@register(
    "dedup_simhash_sql",
    oracle=f"""
    WITH {_DUCK_AUG},
    {_DUCK_SIMAUG},
    sh AS (SELECT doc_id, {_duck_shingles(3)} AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM simaug) s),
    sig AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
    ex AS (SELECT doc_id, substr(sha256(s), 1, 16) AS h
           FROM (SELECT doc_id, unnest(sh) AS s FROM sig) t),
    bits AS (SELECT doc_id, CAST(js.j AS INT) AS j,
                    ((instr('{_HEXD}', substr(h, CAST(js.j // 4 AS INT) + 1, 1)) - 1)
                     >> (3 - (CAST(js.j AS INT) % 4))) & 1 AS v
             FROM ex CROSS JOIN (SELECT range AS j FROM range(0, 64)) js),
    votes AS (SELECT doc_id, j,
                     CASE WHEN 2 * SUM(v) > COUNT(*) THEN 1 ELSE 0 END AS bit
              FROM bits GROUP BY doc_id, j),
    nibs AS (SELECT doc_id, j // 4 AS p,
                    SUM(bit << (3 - (j % 4))) AS nib
             FROM votes GROUP BY doc_id, j // 4),
    chs AS (SELECT doc_id, p,
                   substr('{_HEXD}', CAST(nib AS INT) + 1, 1) AS ch
            FROM nibs),
    sim AS (SELECT doc_id, string_agg(ch, '' ORDER BY p) AS simhash
            FROM chs GROUP BY doc_id),
    bands AS (SELECT doc_id, simhash, bs.b,
                     substr(simhash, 1 + 4 * CAST(bs.b AS INT), 4) AS band_key
              FROM sim CROSS JOIN (SELECT range AS b FROM range(0, 4)) bs),
    bg AS (SELECT *, COUNT(*) OVER (PARTITION BY b, band_key) AS bn
           FROM bands),
    cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
                    x.simhash AS a_sim, y.simhash AS b_sim
             FROM bg x JOIN bg y
               ON x.b = y.b AND x.band_key = y.band_key
              AND x.doc_id < y.doc_id
             WHERE x.bn <= {MAX_BUCKET}),
    ham AS (SELECT a_id, b_id, a_sim, b_sim,
                   CAST(list_sum(list_transform(range(1, 17), p ->
                     bit_count(xor(
                       instr('{_HEXD}', substr(a_sim, CAST(p AS INT), 1)) - 1,
                       instr('{_HEXD}', substr(b_sim, CAST(p AS INT), 1)) - 1))))
                     AS BIGINT) AS hamming
            FROM cand)
    SELECT a_id, b_id, a_sim, b_sim, hamming
    FROM ham WHERE hamming <= {SIMHASH_SQL_HAM}
    """,
)
def dedup_simhash_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup as a RELATIONAL operator (kernel twin:
    text_q.dedup_simhash): 64-bit per-bit-majority simhash over sha256'd
    word 3-shingles, 4×16-bit band buckets (MAX_BUCKET-capped before the
    O(bucket²) expansion), exact Hamming ≤ {SIMHASH_SQL_HAM} verify via
    bit_count(xor) over the 16 nibbles.

    Scale shape: the signature build is a linear ×64 bit explode with
    map-side partial SUM/COUNT aggregation (never a pair expansion);
    candidates come from the band groupBy + capped in-array expansion
    (the dedup_minhash_lsh discipline); the Hamming verify is a narrow
    map over candidate rows only. No cross join anywhere. NOTE: this is
    the ORACLE TWIN — at production scale run text_q.dedup_simhash
    instead, which computes the signature in one vectorized kernel pass
    and skips this query's per-doc ×64 bit explode (the dominant cost
    here, ~4 s at sf0.1 vs ~1 s for the kernel)."""
    exact = (tbl(spark, sf_dir, "documents")
             .filter(F.col("doc_id") % 10 == 5)
             .select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text"))
    simaug = _aug_docs(spark, sf_dir).unionByName(exact)
    sig = (simaug.withColumn("w", F.split("text", " "))
           .filter(F.size("w") >= 3)
           .select("doc_id", F.expr(_spark_shingles(3)).alias("sh")))
    ex = explode_ne(sig, ["doc_id"],
                    F.expr("transform(sh, s -> substring(sha2(s, 256), 1, 16))"),
                    "h")
    bits = ex.select("doc_id", F.posexplode(F.expr(
        f"transform(sequence(0, 63), j ->"
        f" shiftright(instr('{_HEXD}', substring(h, (j div 4) + 1, 1)) - 1,"
        f" 3 - (j % 4)) & 1)")).alias("j", "v"))
    votes = bits.groupBy("doc_id", "j").agg(
        F.expr("CASE WHEN 2 * SUM(v) > COUNT(*) THEN 1 ELSE 0 END")
        .alias("bit"))
    nibs = (votes.groupBy("doc_id", F.expr("j div 4").alias("p"))
            .agg(F.expr("SUM(shiftleft(bit, 3 - (j % 4)))").alias("nib")))
    chs = nibs.select(
        "doc_id", "p",
        F.expr(f"substring('{_HEXD}', CAST(nib AS INT) + 1, 1)").alias("ch"))
    sim = chs.groupBy("doc_id").agg(F.expr(
        "array_join(transform(array_sort(collect_list(struct(p, ch))),"
        " x -> x.ch), '')").alias("simhash"))
    bands = sim.select(
        "doc_id", "simhash",
        F.posexplode(F.expr(
            "transform(sequence(0, 3),"
            " b -> substring(simhash, 1 + 4 * b, 4))")).alias("b", "band_key"))
    buckets = (bands.groupBy("b", "band_key")
               .agg(F.array_sort(F.collect_list(
                   F.struct("doc_id", "simhash"))).alias("ids"))
               .filter((F.size("ids") >= 2) & (F.size("ids") <= MAX_BUCKET)))
    pair_expr = (
        "flatten(transform(sequence(1, size(ids) - 1), i -> "
        "transform(slice(ids, i + 1, size(ids) - i), "
        "y -> struct(element_at(ids, i).doc_id AS a_id, y.doc_id AS b_id, "
        "element_at(ids, i).simhash AS a_sim, y.simhash AS b_sim))))"
    )
    cand = (explode_ne(buckets, [], F.expr(pair_expr), "p")
            .select("p.a_id", "p.b_id", "p.a_sim", "p.b_sim")
            .distinct())
    ham = F.expr(
        f"CAST(aggregate(sequence(1, 16), 0, (acc, p) -> acc + bit_count("
        f"(instr('{_HEXD}', substring(a_sim, p, 1)) - 1)"
        f" ^ (instr('{_HEXD}', substring(b_sim, p, 1)) - 1))) AS BIGINT)")
    return (cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= SIMHASH_SQL_HAM))


# --- incremental (cross-corpus) dedup --------------------------------------
# The recurring-crawl production shape: each NEW snapshot is deduplicated
# AGAINST the already-retained corpus (never within-old — that work is
# done), so the per-snapshot cost is |new| sketches + a band equi-join
# restricted to cross-side pairs. The reference has no corpus lifecycle at
# all (one document per run, /root/reference/main.py:8-55); this is the
# operator that makes the dedup suite usable as a standing ingest gate.

_DUCK_INC_CORPUS = """
old_docs AS (
  SELECT doc_id AS old_id, text FROM documents WHERE doc_id % 2 = 0),
new_docs AS (
  SELECT doc_id AS new_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 1000000 AS new_id,
         CASE WHEN strpos(text, ' ') > 0
              THEN substr(text, strpos(text, ' ') + 1) ELSE text END AS text
  FROM documents WHERE doc_id % 10 = 0)
"""


@register(
    "dedup_incremental",
    oracle=f"""
    WITH {_DUCK_INC_CORPUS},
    osig AS (
      SELECT old_id, {_duck_shingles(3)} AS shingles
      FROM (SELECT old_id, string_split(text, ' ') AS w FROM old_docs) t),
    nsig AS (
      SELECT new_id, {_duck_shingles(3)} AS shingles
      FROM (SELECT new_id, string_split(text, ' ') AS w FROM new_docs) t),
    sides AS (
      SELECT 'o' AS side, old_id AS id, shingles
      FROM osig WHERE len(shingles) > 0
      UNION ALL
      SELECT 'n' AS side, new_id AS id, shingles
      FROM nsig WHERE len(shingles) > 0),
    sig AS (SELECT side, id, [{_DUCK_MH}] AS mh FROM sides),
    bands AS (
      SELECT side, id, b, mh[2 * b + 1] || mh[2 * b + 2] AS band_key
      FROM sig CROSS JOIN
        (SELECT CAST(range AS INT) AS b FROM range(0, {N_BANDS})) t),
    bg AS (SELECT *, COUNT(*) OVER (PARTITION BY b, band_key) AS bn
           FROM bands),
    cand AS (
      SELECT DISTINCT n.id AS new_id, o.id AS old_id
      FROM bg n JOIN bg o ON n.b = o.b AND n.band_key = o.band_key
      WHERE n.side = 'n' AND o.side = 'o' AND n.bn <= {MAX_BUCKET}),
    m AS (
      SELECT c.new_id, c.old_id,
             CAST(len(list_intersect(ns.shingles, os.shingles)) AS DOUBLE)
             / CAST(len(ns.shingles) + len(os.shingles)
                    - len(list_intersect(ns.shingles, os.shingles))
                    AS DOUBLE) AS jaccard
      FROM cand c
      JOIN nsig ns ON ns.new_id = c.new_id
      JOIN osig os ON os.old_id = c.old_id),
    hits AS (SELECT * FROM m WHERE jaccard >= 0.5),
    best AS (
      SELECT new_id, old_id, jaccard,
             row_number() OVER (PARTITION BY new_id
                                ORDER BY jaccard DESC, old_id) AS rn,
             COUNT(*) OVER (PARTITION BY new_id) AS n_dups
      FROM hits)
    SELECT nd.new_id,
           (b.new_id IS NULL) AS keep,
           CAST(COALESCE(b.n_dups, 0) AS BIGINT) AS n_dups,
           b.jaccard AS best_jaccard,
           b.old_id AS dup_of
    FROM new_docs nd
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = nd.new_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot dedup: flag each NEW document that is a
    near-duplicate (MinHash-banded candidates, exact Jaccard >= 0.5
    verify) of the RETAINED corpus, and keep the rest. Old = even
    doc_ids, new = odd doc_ids plus planted first-word-dropped copies of
    old docs (the cross-corpus dups the op must find).

    Scale shape: signatures are computed ONCE per side (in production the
    old side's sketch table is persisted and only |new| signatures are
    built per snapshot); candidates come from a groupBy(band_key) over
    the tagged union with the MAX_BUCKET degenerate-bucket cap applied
    BEFORE the new x old in-array pair expansion — old x old and
    new x new pairs are never generated. The Jaccard verify intersects
    the two docs' distinct-shingle arrays narrowly per candidate pair
    (array_intersect, O(|a|+|b|) hash-set probe — the plans/corpus.py
    near_dup_pairs discipline), never exploding to (pair, gram) rows.
    Output is per NEW doc: keep flag, verified-dup count, best match."""
    out, caches = _dedup_incremental_build(spark, sf_dir)
    res = out.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    return res


def _dedup_incremental_build(spark: SparkSession, sf_dir: str):
    """Plan builder (pre-checkpoint, so tests can assert its physical
    shape); returns (out, persisted_inputs)."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    old_docs = (docs.filter(F.col("doc_id") % 2 == 0)
                .select(F.col("doc_id").alias("old_id"), "text"))
    new_docs = (docs.filter(F.col("doc_id") % 2 == 1)
                .select(F.col("doc_id").alias("new_id"), "text")
                .unionByName(
                    docs.filter(F.col("doc_id") % 10 == 0)
                    .select((F.col("doc_id") + 1_000_000).alias("new_id"),
                            F.expr("CASE WHEN locate(' ', text) > 0"
                                   " THEN substring(text, locate(' ', text) + 1)"
                                   " ELSE text END").alias("text"))))
    par = spark.sparkContext.defaultParallelism

    def sig_of(side_df: DataFrame, idc: str) -> DataFrame:
        return (side_df.repartition(par, idc)
                .withColumn("w", F.split("text", " "))
                .filter(F.size("w") >= 3)
                .select(idc, F.expr(_spark_shingles(3)).alias("shingles")))

    # persist: each side's signature table feeds the band subtree and the
    # pair-verify join (the production old-side analog is a persisted
    # sketch table reused across snapshots)
    osig = sig_of(old_docs, "old_id").persist()
    nsig = sig_of(new_docs, "new_id").persist()

    def bands_of(sig: DataFrame, idc: str, side: str) -> DataFrame:
        mh = sig.select(
            F.col(idc).alias("id"),
            F.expr(f"array({_SPARK_MH})").alias("mh"))
        return mh.select(
            "id", F.lit(side).alias("side"),
            F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("b"),
            F.expr("concat(element_at(mh, 2 * b + 1),"
                   " element_at(mh, 2 * b + 2))").alias("band_key"))

    bands = (bands_of(osig, "old_id", "o")
             .unionByName(bands_of(nsig, "new_id", "n")))
    buckets = (bands.groupBy("b", "band_key")
               .agg(F.array_sort(F.collect_list(
                        F.when(F.col("side") == "n", F.col("id"))))
                    .alias("new_ids"),
                    F.array_sort(F.collect_list(
                        F.when(F.col("side") == "o", F.col("id"))))
                    .alias("old_ids"))
               .filter((F.size("new_ids") >= 1) & (F.size("old_ids") >= 1)
                       & (F.size("new_ids") + F.size("old_ids")
                          <= MAX_BUCKET)))
    pair_expr = ("flatten(transform(new_ids, nn -> "
                 "transform(old_ids, oo -> "
                 "struct(nn AS new_id, oo AS old_id))))")
    cand = (explode_ne(buckets, [], F.expr(pair_expr), "p")
            .select("p.new_id", "p.old_id")
            .distinct())
    inter = "size(array_intersect(n_sh, o_sh))"
    m = (cand.join(nsig.select(F.col("new_id"),
                               F.col("shingles").alias("n_sh")), "new_id")
         .join(osig.select(F.col("old_id"),
                           F.col("shingles").alias("o_sh")), "old_id")
         .select("new_id", "old_id", F.expr(
             f"CAST({inter} AS DOUBLE) / CAST(size(n_sh) + size(o_sh)"
             f" - {inter} AS DOUBLE)").alias("jaccard"))
         .filter(F.col("jaccard") >= 0.5))
    wnd = Window.partitionBy("new_id").orderBy(F.desc("jaccard"),
                                               F.asc("old_id"))
    cnt = Window.partitionBy("new_id")
    best = (m.withColumn("rn", F.row_number().over(wnd))
            .withColumn("n_dups", F.count("*").over(cnt))
            .filter(F.col("rn") == 1))
    out = (new_docs.select("new_id")
           .join(best, "new_id", "left")
           .select("new_id",
                   F.col("rn").isNull().alias("keep"),
                   F.coalesce("n_dups", F.lit(0)).cast("bigint")
                   .alias("n_dups"),
                   F.col("jaccard").alias("best_jaccard"),
                   F.col("old_id").alias("dup_of")))
    return out, [osig, nsig]


# --- semantic dedup (SemDeDup: cluster, then threshold within cluster) -----
# Abbas et al. 2023: assign embeddings to clusters, call two documents
# semantic duplicates when their cosine within a cluster exceeds a
# threshold, keep one representative per duplicate group. Clustering
# bounds the pair work to within-cluster — the property that makes
# cosine dedup tractable at corpus scale without an index over all pairs.

K_MIN = 8       # anchor-count floor (tiny fixtures)
K_DIV = 256     # anchors K = greatest(K_MIN, n // K_DIV): pair work is
                # sum(cluster^2) ~ n * K_DIV — LINEAR in n, not n^2/const
SEM_TAU = 0.99

_DOT_AB = ("aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) *"
           " CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def _duck_dot(x: str, y: str) -> str:
    return (f"list_sum(list_transform(range(1, len({y}) + 1),"
            f" i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))")


@register(
    "dedup_semantic",
    oracle=f"""
    WITH aug AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id, embedding
      FROM embeddings WHERE vec_id % 20 = 0),
    augn AS (SELECT vec_id, embedding,
                    sqrt({_duck_dot('embedding', 'embedding')}) AS nrm
             FROM aug),
    anch AS (SELECT vec_id AS aid, embedding AS aemb,
                    sqrt({_duck_dot('embedding', 'embedding')}) AS anrm
             FROM embeddings
             WHERE vec_id < greatest({K_MIN},
                     (SELECT COUNT(*) // {K_DIV} FROM embeddings))),
    scored AS (
      SELECT a.vec_id, an.aid,
             CASE WHEN a.nrm * an.anrm = 0.0 THEN CAST(-2.0 AS DOUBLE)
                  ELSE {_duck_dot('a.embedding', 'an.aemb')}
                       / (a.nrm * an.anrm) END AS c
      FROM augn a CROSS JOIN anch an),
    assign AS (
      SELECT vec_id, aid AS cluster FROM (
        SELECT vec_id, aid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY c DESC, aid) AS rn
        FROM scored) t WHERE rn = 1),
    cl AS (SELECT s.vec_id, s.cluster, a.embedding, a.nrm
           FROM assign s JOIN augn a ON a.vec_id = s.vec_id),
    pairs AS (
      SELECT x.vec_id AS a_id, y.vec_id AS b_id
      FROM cl x JOIN cl y
        ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      WHERE x.nrm * y.nrm > 0.0
        AND {_duck_dot('x.embedding', 'y.embedding')}
            >= CAST({SEM_TAU} AS DOUBLE) * (x.nrm * y.nrm)),
    dropped AS (SELECT DISTINCT b_id FROM pairs)
    SELECT asn.vec_id, asn.cluster, (d.b_id IS NULL) AS keep
    FROM assign asn LEFT JOIN dropped d ON d.b_id = asn.vec_id
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup: assign each embedding to its max-cosine
    anchor (deterministic anchors: the K lowest vec_ids with
    K = greatest({K_MIN}, n // {K_DIV}) — the fixture stand-in for
    k-means centroids, which are a fitted model artifact like the IVF
    codebook), then within each cluster mark every vector that has a
    >= {SEM_TAU}-cosine twin with a smaller id as a drop; one
    representative per duplicate group survives. The corpus is augmented
    with exact copies (vec_id+100000 for vec_id % 20 = 0) the op must
    drop.

    Scale shape: K grows WITH the corpus (the SemDeDup paper's regime —
    11k clusters for 1.3e8 docs), so within-cluster pair work is
    sum(cluster_size^2) ~ n * {K_DIV}: linear in n, never a corpus cross
    join. Norms are precomputed ONCE per vector, so assignment pays one
    array fold per (vector, anchor) and the pair verify ONE fold per
    candidate pair (dot >= tau * na * nb — algebraically the cosine
    test, shared exactly by the oracle). Zero vectors score -2.0
    everywhere: they assign to the tie-break anchor and never verify
    as duplicates."""
    out, cl = _dedup_semantic_build(spark, sf_dir)
    res = out.localCheckpoint(eager=True)
    cl.unpersist()
    return res


def _dedup_semantic_build(spark: SparkSession, sf_dir: str):
    """Plan builder (pre-checkpoint, so tests can assert its physical
    shape); returns (out, persisted_cluster_table)."""
    emb = tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    aug = emb.unionByName(
        emb.filter(F.col("vec_id") % 20 == 0)
        .select((F.col("vec_id") + 100_000).alias("vec_id"), "embedding"))
    aug = aug.repartition(spark.sparkContext.defaultParallelism, "vec_id")
    nrm = F.expr(f"sqrt({_DOT_AB.format(a='embedding', b='embedding')})")
    augn = aug.withColumn("nrm", nrm)
    cnt = emb.agg(F.count("*").alias("n_base"))
    anch = (emb.crossJoin(F.broadcast(cnt))
            .filter(F.col("vec_id")
                    < F.greatest(F.lit(K_MIN), F.expr(f"n_base DIV {K_DIV}")))
            .select(F.col("vec_id").alias("aid"),
                    F.col("embedding").alias("aemb"),
                    nrm.alias("anrm")))
    dot_va = _DOT_AB.format(a='embedding', b='aemb')
    scored = (augn.crossJoin(F.broadcast(anch))
              .select("vec_id", "aid", F.expr(
                  f"CASE WHEN nrm * anrm = 0.0 THEN CAST(-2.0 AS DOUBLE)"
                  f" ELSE {dot_va} / (nrm * anrm) END").alias("c")))
    wnd = Window.partitionBy("vec_id").orderBy(F.desc("c"), F.asc("aid"))
    assign = (scored.withColumn("rn", F.row_number().over(wnd))
              .filter(F.col("rn") == 1)
              .select("vec_id", F.col("aid").alias("cluster")))
    cl = assign.join(augn, "vec_id").persist()  # pair join x + y subtrees
    x = cl.select(F.col("vec_id").alias("a_id"),
                  F.col("cluster").alias("a_cl"),
                  F.col("embedding").alias("va"), F.col("nrm").alias("na"))
    y = cl.select(F.col("vec_id").alias("b_id"),
                  F.col("cluster").alias("b_cl"),
                  F.col("embedding").alias("vb"), F.col("nrm").alias("nb"))
    dot_ab = _DOT_AB.format(a='va', b='vb')
    pairs = (x.join(y, (F.col("a_cl") == F.col("b_cl"))
                    & (F.col("a_id") < F.col("b_id")))
             .filter((F.col("na") * F.col("nb") > 0.0)
                     & F.expr(f"{dot_ab} >= CAST({SEM_TAU} AS DOUBLE)"
                              f" * (na * nb)"))
             .select("b_id").distinct())
    out = (assign.join(pairs.withColumnRenamed("b_id", "vec_id"),
                       "vec_id", "left_anti")
           .select("vec_id", "cluster", F.lit(True).alias("keep"))
           .unionByName(
               assign.join(pairs.withColumnRenamed("b_id", "vec_id"),
                           "vec_id", "left_semi")
                .select("vec_id", "cluster", F.lit(False).alias("keep"))))
    return out, cl
