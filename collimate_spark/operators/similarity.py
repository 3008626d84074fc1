"""Similarity search over the ``embeddings`` table (array<float> column).

- brute-force cosine top-k: broadcast the (small) query set against the
  corpus; per-query Window top-k. The exact baseline.
- IVF top-k: coarse quantizer = spherical k-means trained on a bounded,
  deterministic sample of the corpus (the FAISS IVF recipe: train small,
  broadcast the centroid matrix, assign/probe vectorized per Arrow
  batch). Queries probe only their ``NPROBE`` nearest clusters — the
  partition-pruning scale path. Approximate by construction → rows-only
  driver check; recall asserted in tests.
- multi-table SRP-LSH top-k: ``SRP_TABLES`` independent sign-random-
  projection hash tables of ``SRP_BITS`` bits each, 1-bit multiprobe.
  Data-independent (no training), the classic L-table cosine-LSH layout.

A note on the driver testdata: the synthetic embeddings are isotropic —
measured same-label and cross-label mean cosine are both 0.0 and the true
top-10 neighbors sit at cosine ≈ 0.3-0.4 with labels uncorrelated to
neighborhoods. On isotropic data EVERY sublinear ANN scheme degrades to
recall ≈ fraction-of-corpus-scanned (curse of dimensionality), so recall
targets here are asserted on a genuinely clustered fixture in
tests/test_similarity.py (where the trained IVF reaches recall 1.0 at
~20% scan and the LSH ≥0.8 at ≤10% scan), and the driver-table tests
assert the scan-fraction-floor recall plus determinism.

All exact-scoring vector math is double-precision sequential folds
(functions/vectors.py) so Spark and the DuckDB oracle agree bit-for-bit
before rounding.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import pandas_udf

from collimate_spark.catalog import load_table, table_identity
from collimate_spark.scratch import scache
from collimate_spark.functions import fast_vec
from collimate_spark.functions import vectors as V

N_QUERIES = 5  # vec_id < 5 are the demo query vectors
TOP_K = 10
NPROBE = 3
IVF_K = 16  # coarse clusters; ≪ sqrt(n) locally, retune per corpus at scale


def _topk_ranked(scored: DataFrame) -> DataFrame:
    """Shared exact-scoring tail: per-query window top-k with the
    round-then-id tie-break that keeps ranks reproducible across engines."""
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cos_raw"), 6).desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "cand_id", F.round("cos_raw", 4).alias("cosine"), "rk")
        .orderBy("query_id", "rk")
    )


def _pair_cosine() -> F.Column:
    """cos over pre-hoisted norms: ``V.cosine(a, b)`` re-folds BOTH norm
    aggregates per PAIR (HOF aggregates are CodegenFallback — no CSE), so
    the |q|·|c| join re-norms every corpus row once per query and every
    query once per corpus row. Each side computes its norm ONCE per ROW
    below the join (``q_nrm``/``c_nrm``) and the per-pair work is just the
    dot fold. dot/(q_nrm*c_nrm) is the same expressions multiplied in the
    same order as V.cosine — bit-identical doubles (r13)."""
    return V.dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm"))


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: corpus × broadcast(queries) → cosine →
    row_number over per-query window → k. One pass over the corpus per
    batch of queries; at 100 TB this is the scan-heavy exact fallback."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
        .withColumn("q_nrm", V.norm(F.col("q_emb")))
    )
    corpus = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    ).withColumn("c_nrm", V.norm(F.col("c_emb")))
    scored = (
        corpus.join(F.broadcast(queries))
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn("cos_raw", _pair_cosine())
    )
    return _topk_ranked(scored)


ANN_BRUTEFORCE_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         list_sum(list_transform(list_zip(q.q_emb, CAST(c.embedding AS DOUBLE[])), s -> s[1]*s[2]))
           / (sqrt(list_sum(list_transform(q.q_emb, x -> x*x)))
            * sqrt(list_sum(list_transform(CAST(c.embedding AS DOUBLE[]), x -> x*x)))) AS cos_raw
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, cand_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ROUND(cos_raw, 6) DESC, cand_id ASC) AS rk
  FROM scored
)
SELECT query_id, cand_id, ROUND(cos_raw, 4) AS cosine, rk
FROM ranked WHERE rk <= {TOP_K}
ORDER BY query_id, rk
"""


RANGE_SEARCH_R = 0.25  # cosine radius


def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search — the other vector-retrieval primitive: ALL
    candidates within a cosine radius of each query, not a fixed k.
    Exact scan form (broadcast queries × corpus, filter on cosine ≥ R);
    the sublinear path composes exactly like top-k: IVF cells whose
    centroid cone intersects the radius, or LSH buckets, prune the scan
    while the radius filter stays the final arbiter. Unlike top-k the
    result size is data-dependent — the scale risk is an over-wide
    radius, so emit per-query counts alongside pairs to make blowups
    observable."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
        .withColumn("q_nrm", V.norm(F.col("q_emb")))
    )
    corpus = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    ).withColumn("c_nrm", V.norm(F.col("c_emb")))
    hits = (
        corpus.join(F.broadcast(queries))
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn("cos_raw", _pair_cosine())
        .filter(F.round(F.col("cos_raw"), 6) >= RANGE_SEARCH_R)
    )
    return (
        hits.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_in_radius"),
            F.round(F.max("cos_raw"), 4).alias("max_cosine"),
            F.min("cand_id").alias("min_cand"),
        )
        .orderBy("query_id")
    )


ANN_RANGE_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
hits AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         list_sum(list_transform(list_zip(q.q_emb, CAST(c.embedding AS DOUBLE[])), s -> s[1]*s[2]))
           / (sqrt(list_sum(list_transform(q.q_emb, x -> x*x)))
            * sqrt(list_sum(list_transform(CAST(c.embedding AS DOUBLE[]), x -> x*x)))) AS cos_raw
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, COUNT(*) AS n_in_radius,
       ROUND(MAX(cos_raw), 4) AS max_cosine,
       MIN(cand_id) AS min_cand
FROM hits
WHERE ROUND(cos_raw, 6) >= {RANGE_SEARCH_R}
GROUP BY query_id
ORDER BY query_id
"""


def centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-distributed per-label centroid vectors: element-wise mean via
    posexplode + groupBy(label, pos) — shuffle on (label, pos), no driver
    collection of vectors. This is the scale path for computing cluster
    means over a corpus too large to sample well (the trained-quantizer
    path in fast_vec samples instead, which is the usual IVF trade)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        # decimal-sum mean: float partial-aggregate merge order varies run
        # to run, which would make downstream top-k ranks flaky near
        # rounding boundaries; decimal sums are order-exact.
        .agg(
            (
                F.sum(F.col("v").cast("double").cast("decimal(27,12)"))
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("m")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("label", F.transform("pm", lambda s: s.getField("m")).alias("centroid"))
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with a trained coarse quantizer: spherical k-means fit on
    a deterministic ≤32k-vector sample (fast_vec.trained_quantizer,
    memoized — in production a persisted offline artifact), centroid
    matrix broadcast via UDF closure (k×dim floats). Corpus vectors get a
    cluster id from one Arrow-batched argmax pass — no shuffle; queries
    probe their NPROBE nearest clusters. Scan cost drops from |corpus| to
    ≈ |corpus|·NPROBE/k. Exact rescoring of the probed candidates uses the
    same deterministic JVM fold as brute force, so output ordering is
    stable. Rows-only correctness (approximate); recall asserted in
    tests/test_similarity.py on a clustered fixture (recall 1.0 at ~20%
    scanned; on the isotropic driver testdata recall ≈ scan fraction for
    any ANN method — see module docstring)."""
    emb = load_table(spark, "embeddings", sf_dir)
    C = fast_vec.trained_quantizer(
        spark, emb, IVF_K, cache_key=table_identity("embeddings", sf_dir)
    )

    @pandas_udf(T.IntegerType())
    def assign_udf(s: pd.Series) -> pd.Series:
        mat = np.vstack(s.to_numpy())
        return pd.Series(fast_vec.assign_clusters(mat, C).astype(np.int32))

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_udf(s: pd.Series) -> pd.Series:
        mat = np.vstack(s.to_numpy())
        probes = fast_vec.probe_clusters(mat, C, NPROBE)
        return pd.Series([row.astype("int32").tolist() for row in probes])

    corpus = (
        emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
        .withColumn("cluster", assign_udf(F.col("c_emb")))
        .withColumn("c_nrm", V.norm(F.col("c_emb")))
    )
    probes = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
        .withColumn("q_nrm", V.norm(F.col("q_emb")))
        .withColumn("cluster", F.explode(probe_udf(F.col("q_emb"))))
    )
    scored = (
        corpus.join(F.broadcast(probes), "cluster")
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn("cos_raw", _pair_cosine())
    )
    return _topk_ranked(scored)


_EMB_DIM = 64


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table SRP-LSH top-k: ``SRP_TABLES``(16) independent hash
    tables of ``SRP_BITS``(16)-bit sign-random-projection buckets; each
    query multiprobes all buckets within Hamming distance
    ``SRP_PROBE_RADIUS``(2) of its own in every table, and a candidate
    qualifies by colliding in ANY table. Candidate generation is an
    equi-join on (table, bucket) against the broadcast probe list;
    duplicates across tables collapse before exact rescoring. The
    L-tables-of-b-bits layout is the standard recall/selectivity dial for
    cosine LSH: more tables → recall, more bits → selectivity. At 100 TB
    the ×L bucket rows are precomputed once and persisted alongside the
    corpus (here inline, one Arrow-batched matmul). Rows-only correctness
    (approximate); recall ≥0.8 at ≤10% scanned asserted on the clustered
    fixture in tests — on the isotropic driver testdata every ANN
    scheme's recall ≈ scan fraction (module docstring)."""
    emb = load_table(spark, "embeddings", sf_dir)
    planes = fast_vec.srp_planes(_EMB_DIM)

    @pandas_udf(T.ArrayType(T.LongType()))
    def buckets_udf(s: pd.Series) -> pd.Series:
        mat = np.vstack(s.to_numpy())
        buckets = fast_vec.srp_bucket_ids(mat, planes)
        return pd.Series([row.tolist() for row in buckets])

    corpus = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        V.norm(F.col("embedding")).alias("c_nrm"),
        F.posexplode(buckets_udf(F.col("embedding"))).alias("tbl", "bucket"),
    )
    flips = fast_vec.srp_probe_masks()
    probes = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            V.norm(F.col("embedding")).alias("q_nrm"),
            F.posexplode(buckets_udf(F.col("embedding"))).alias("tbl", "qbucket"),
        )
        .select(
            "query_id",
            "q_emb",
            "q_nrm",
            "tbl",
            F.explode(
                F.array(*[F.col("qbucket").bitwiseXOR(F.lit(m)) for m in flips])
            ).alias("bucket"),
        )
    )
    scored = (
        corpus.join(F.broadcast(probes), ["tbl", "bucket"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "cand_id"])
        .withColumn("cos_raw", _pair_cosine())
    )
    return _topk_ranked(scored)


PQ_RERANK = 100  # ADC shortlist size fed to exact re-ranking (per-query constant)


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-k: PQ codebooks (8 subspaces × 16
    centroids, trained on the same deterministic bounded sample as IVF)
    encode every corpus vector as 8 small codes; queries score candidates
    in the COMPRESSED domain via an ADC lookup table (8 table reads + a
    sum per candidate — ~32× less memory traffic than the float vector),
    keep an ADC shortlist of PQ_RERANK, and exactly re-rank only the
    shortlist with the deterministic JVM cosine fold.

    This is the complementary scale path to IVF/LSH: those prune WHICH
    candidates are scored; PQ compresses HOW each candidate is scored, so
    a full scan touches m bytes per vector instead of 4·dim. (FAISS
    composes both as IVFPQ; here they are separate operators so each is
    testable alone.) Approximate by construction → rows-only driver
    check; recall vs brute force asserted in tests/test_similarity.py."""
    emb = load_table(spark, "embeddings", sf_dir)
    books = fast_vec.trained_pq_codebooks(
        spark, emb, cache_key=table_identity("embeddings", sf_dir)
    )
    q_rows = sorted(
        emb.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect(),
        key=lambda r: r[0],
    )
    luts = {
        int(r[0]): fast_vec.pq_adc_lut(np.array(r[1], dtype=np.float64), books) for r in q_rows
    }
    m = books.shape[0]

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def encode_udf(s: pd.Series) -> pd.Series:
        mat = np.vstack(s.to_numpy())
        return pd.Series(fast_vec.pq_encode(mat, books).tolist())

    @pandas_udf(T.DoubleType())
    def adc_udf(codes: pd.Series, qid: pd.Series) -> pd.Series:
        cm = np.vstack(codes.to_numpy())
        qv = qid.to_numpy()
        out = np.empty(len(cm), dtype=np.float64)
        for q in np.unique(qv):
            mask = qv == q
            out[mask] = luts[int(q)][np.arange(m)[None, :], cm[mask]].sum(axis=1)
        return pd.Series(out)

    corpus = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    ).withColumn("codes", encode_udf(F.col("c_emb")))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    shortlist_w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("cand_id").asc()
    )
    scored = (
        corpus.join(F.broadcast(queries))
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn("adc", adc_udf(F.col("codes"), F.col("query_id")))
        .withColumn("adc_rk", F.row_number().over(shortlist_w))
        .filter(F.col("adc_rk") <= PQ_RERANK)
        .withColumn("cos_raw", V.cosine(F.col("q_emb"), F.col("c_emb")))
    )
    return _topk_ranked(scored)


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed — FAISS's IVFPQ layout as DataFrame ops: the
    coarse quantizer prunes WHICH candidates are scored (probe NPROBE of
    IVF_K cells), PQ compresses HOW the survivors are scored (ADC table
    lookups on 8-byte codes), and an exact re-rank of the PQ_RERANK
    shortlist restores ranking fidelity. Scan cost ≈
    |corpus|·NPROBE/IVF_K candidates × m byte-lookups each — the two
    multiplicative savings compound, which is why this is the default
    billion-scale ANN index. Rows-only; recall vs brute force on the
    clustered fixture asserted in tests/test_similarity.py."""
    emb = load_table(spark, "embeddings", sf_dir)
    ident = table_identity("embeddings", sf_dir)
    C = fast_vec.trained_quantizer(spark, emb, IVF_K, cache_key=ident)
    books = fast_vec.trained_pq_codebooks(spark, emb, cache_key=ident)
    q_rows = sorted(
        emb.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect(),
        key=lambda r: r[0],
    )
    luts = {
        int(r[0]): fast_vec.pq_adc_lut(np.array(r[1], dtype=np.float64), books) for r in q_rows
    }
    m = books.shape[0]

    @pandas_udf(T.IntegerType())
    def assign_udf(s: pd.Series) -> pd.Series:
        mat = np.vstack(s.to_numpy())
        return pd.Series(fast_vec.assign_clusters(mat, C).astype(np.int32))

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_udf(s: pd.Series) -> pd.Series:
        mat = np.vstack(s.to_numpy())
        probes = fast_vec.probe_clusters(mat, C, NPROBE)
        return pd.Series([row.astype("int32").tolist() for row in probes])

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def encode_udf(s: pd.Series) -> pd.Series:
        mat = np.vstack(s.to_numpy())
        return pd.Series(fast_vec.pq_encode(mat, books).tolist())

    @pandas_udf(T.DoubleType())
    def adc_udf(codes: pd.Series, qid: pd.Series) -> pd.Series:
        cm = np.vstack(codes.to_numpy())
        qv = qid.to_numpy()
        out = np.empty(len(cm), dtype=np.float64)
        for q in np.unique(qv):
            mask = qv == q
            out[mask] = luts[int(q)][np.arange(m)[None, :], cm[mask]].sum(axis=1)
        return pd.Series(out)

    corpus = (
        emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
        .withColumn("cluster", assign_udf(F.col("c_emb")))
        .withColumn("codes", encode_udf(F.col("c_emb")))
    )
    probes = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
        .withColumn("cluster", F.explode(probe_udf(F.col("q_emb"))))
    )
    shortlist_w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("cand_id").asc()
    )
    scored = (
        corpus.join(F.broadcast(probes), "cluster")
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn("adc", adc_udf(F.col("codes"), F.col("query_id")))
        .withColumn("adc_rk", F.row_number().over(shortlist_w))
        .filter(F.col("adc_rk") <= PQ_RERANK)
        .withColumn("cos_raw", V.cosine(F.col("q_emb"), F.col("c_emb")))
    )
    return _topk_ranked(scored)


def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 → 16 dims: the
    dimensionality-reduction preprocessing for ANN/clustering when the
    raw embedding is wider than the index wants. Data-independent
    fixed-seed Gaussian planes (no training, no shuffle) applied per
    Arrow batch; 4× less vector bandwidth downstream at a bounded
    pairwise-distance distortion (JL lemma — measured empirically in
    tests/test_similarity.py: max relative distortion ≤ 0.5 at 16 dims,
    mean ≪). Output: per-vector norms before/after + the leading
    projected coordinates. Oracled: the fixed-seed matrix is enumerable
    as a DuckDB literal (see _jl_oracle_sql); 4dp rounding absorbs the
    engines' last-ulp matmul association differences."""
    emb = load_table(spark, "embeddings", sf_dir)
    planes = fast_vec.jl_planes(_EMB_DIM)

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def project_udf(s: pd.Series) -> pd.Series:
        mat = np.vstack(s.to_numpy())
        return pd.Series(fast_vec.jl_project(mat, planes).tolist())

    return (
        emb.select("vec_id", "embedding")
        .withColumn("proj", project_udf(F.col("embedding")))
        .select(
            "vec_id",
            F.round(V.norm(F.col("embedding")), 4).alias("norm_in"),
            F.round(V.norm(F.col("proj")), 4).alias("norm_out"),
            F.round(F.element_at("proj", 1), 4).alias("p0"),
            F.round(F.element_at("proj", 2), 4).alias("p1"),
        )
        .orderBy("vec_id")
    )


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    4× storage/bandwidth compressor every large ANN corpus applies before
    indexing (codes ∈ [-127, 127], per-vector scale = max|x|/127).
    Entirely JVM higher-order functions: zero Python, zero shuffle.
    Tie-free integer outputs (floor, not round) keep the DuckDB oracle
    hash-exact; reconstruction error is reported ×1e6 floored."""
    emb = load_table(spark, "embeddings", sf_dir)
    absmax = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    scale0 = absmax / F.lit(127.0)
    scale = F.when(scale0 == 0, F.lit(1.0)).otherwise(scale0)
    with_scale = emb.select("vec_id", "embedding", scale.alias("scale"))
    codes = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") / F.col("scale") + F.lit(0.5)).cast("int")
    )
    with_codes = with_scale.withColumn("codes", codes)
    abs_err = F.zip_with(
        "embedding",
        "codes",
        lambda x, q: F.abs(x.cast("double") - q.cast("double") * F.col("scale")),
    )
    return with_codes.select(
        "vec_id",
        F.floor(F.col("scale") * 1e6).cast("long").alias("scale_e6"),
        F.aggregate("codes", F.lit(0).cast("long"), lambda a, q: a + q).alias("code_sum"),
        F.array_max(F.transform("codes", F.abs)).alias("max_code"),
        F.floor(F.array_max(abs_err) * 1e6).cast("long").alias("max_abs_err_e6"),
    ).orderBy("vec_id")


QUANTIZE_SQL = """
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) = 0
              THEN 1.0
              ELSE list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0
         END AS scale
  FROM embeddings
),
q AS (
  SELECT vec_id, e, scale,
         list_transform(e, x -> CAST(FLOOR(x / scale + 0.5) AS INT)) AS codes
  FROM s
)
SELECT vec_id,
       CAST(FLOOR(scale * 1e6) AS BIGINT) AS scale_e6,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       CAST(list_max(list_transform(codes, c -> abs(c))) AS INT) AS max_code,
       CAST(FLOOR(list_max(list_transform(list_zip(e, codes),
            p -> abs(p[1] - CAST(p[2] AS DOUBLE) * scale))) * 1e6) AS BIGINT)
         AS max_abs_err_e6
FROM q
ORDER BY vec_id
"""


def embedding_cluster_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label cluster-quality metrics without materializing centroids
    as arrays: posexplode each unit-normalized vector, average per
    (label, dimension), and reduce ‖centroid‖ = sqrt(Σ avg²) — for
    unit vectors this is the mean resultant length, the standard
    directional-statistics cohesion score (1 = all members identical,
    → 0 = isotropic). Also reports member count and avg member norm.
    Two hash aggregations, dimension-parallel — no |cluster|² pairwise
    stage, no driver-side vectors; at 100 TB the (label, dim) grid is
    the only intermediate and it is labels × dim sized.

    r13: the norm is computed ONCE per row below the posexplode and the
    division happens per exploded element. The previous form inlined
    ``aggregate(embedding, …)`` inside the ``transform`` lambda, and
    HOF lambdas evaluate their whole body per ELEMENT (no CSE across
    lambda calls) — an O(d²) interpreted pass per vector. Same
    arithmetic per element (x / sqrt(Σy²), identical float ops), so
    identical output; measured 1.78 → 0.52 s isolated min-of-4."""
    emb = load_table(spark, "embeddings", sf_dir)
    base = emb.select(
        "label",
        F.expr("sqrt(aggregate(embedding, 0.0D, (a, y) -> a + y * y))").alias("nrm"),
        "embedding",
    )
    per_dim = (
        base.select("label", "nrm", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.avg(F.col("x") / F.col("nrm")).alias("m"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        per_dim.groupBy("label")
        .agg(
            (F.max("n")).alias("n_vectors"),
            F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 4).alias(
                "mean_resultant_length"
            ),
        )
        .orderBy("label")
    )


COHESION_SQL = """
WITH unit AS (
  SELECT label, vec_id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x / sqrt(
           list_sum(list_transform(CAST(embedding AS DOUBLE[]), y -> y * y)))) AS u
  FROM embeddings
),
per_dim AS (
  SELECT label, r.i AS pos, AVG(u[r.i]) AS m, COUNT(*) AS n
  FROM unit, UNNEST(range(1, len(u) + 1)) AS r(i)
  GROUP BY 1, 2
)
SELECT label,
       CAST(MAX(n) AS BIGINT) AS n_vectors,
       ROUND(sqrt(SUM(m * m)), 4) AS mean_resultant_length
FROM per_dim
GROUP BY label
ORDER BY label
"""


GRAM_BATCH_SCHEMA = T.StructType(
    [
        T.StructField("i", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram / second-moment matrix of the embedding corpus —
    the reduce step of large-scale PCA (eigendecompose the d x d result
    on the driver; d=64 here). Each Arrow batch contributes ONE d x d
    partial via numpy matmul — the shuffle carries d(d+1)/2 partials per
    batch, never per row, so the cost is independent of corpus size.
    Output: upper-triangle (i <= j) entries of (1/n) * X^T X."""
    emb = load_table(spark, "embeddings", sf_dir)

    def gram_batches(it):
        iu, ju = np.triu_indices(64)
        for pdf in it:
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            g = mat.T @ mat
            yield pd.DataFrame(
                {"i": iu, "j": ju, "s": g[iu, ju], "n": np.full(len(iu), len(mat))}
            )

    partials = emb.select("embedding").mapInPandas(gram_batches, GRAM_BATCH_SCHEMA)
    # `+ 0.0` canonicalizes IEEE negative zero: a cell whose true value
    # straddles 0 by summation-order ulps rounds to -0.0 on one engine
    # and +0.0 on the other — float-EQUAL but rendered differently, which
    # breaks value-hash comparison (caught by the sf0.1 mirror).
    return (
        partials.groupBy("i", "j")
        .agg((F.sum("s") / F.sum("n")).alias("g"))
        .select("i", "j", (F.round(F.col("g"), 6) + 0.0).alias("gram"))
        .orderBy("i", "j")
    )


GRAM_SQL = """
WITH e AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cells AS (
  SELECT ii.i AS i, jj.j AS j, SUM(v[ii.i + 1] * v[jj.j + 1]) AS s, COUNT(*) AS n
  FROM e, UNNEST(range(0, 64)) AS ii(i), UNNEST(range(0, 64)) AS jj(j)
  WHERE ii.i <= jj.j
  GROUP BY 1, 2
)
SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       ROUND(s / n, 6) + 0.0 AS gram
FROM cells
ORDER BY i, j
"""


def kmeans_lloyd_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-distributed Lloyd's k-means (k=8, 5 iterations) over the
    embedding table: assignment is an Arrow-batched argmin against the
    broadcast k x d centroid matrix; the update step re-averages per
    (cluster, dimension) with ONE hash aggregation and collects only the
    k x d centroid grid to the driver (bounded, FAISS-style). Init is
    deterministic: the k lowest vec_ids — which, with the fixed
    iteration count, makes the whole refinement deterministic and
    SQL-expressible after all (_kmeans_oracle_sql unrolls the 5
    assign/update rounds as CTE pairs); pytest additionally asserts
    inertia decreases monotonically and the final assignment is
    self-consistent with the final centroids."""
    k, iters = 8, 5
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding").transform(scache)
    cents = np.stack(
        [r["embedding"] for r in emb.orderBy("vec_id").limit(k).collect()]
    ).astype(np.float64)

    def make_assign(c):
        def assign(it):
            for pdf in it:
                mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                d2 = ((mat[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
                # 6dp half-up quantization BEFORE the argmin: cross-engine
                # centroid means differ at the last ulp (partial-agg sum
                # order), so an unrounded near-tie assignment could flip
                # between Spark and the DuckDB oracle and cascade through
                # later iterations — the same hazard class semdedup_prune's
                # keep-rank fixed with the identical 6dp contract. floor(x·1e6
                # + 0.5) matches DuckDB ROUND on the binary value for
                # non-negative inputs (d2 ≥ 0); true 1e-6 half-boundaries
                # have measure zero on continuous distances.
                d2 = np.floor(d2 * 1e6 + 0.5) / 1e6
                lab = d2.argmin(axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "cluster": lab.astype("int32"),
                        "dist2": d2[np.arange(len(lab)), lab],
                    }
                )

        return assign

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("dist2", T.DoubleType()),
        ]
    )
    assigned = None
    for _ in range(iters):
        assigned = emb.mapInPandas(make_assign(cents.copy()), schema).join(emb, "vec_id")
        grid = (
            assigned.select("cluster", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        for row in grid:
            cents[row["cluster"], row["pos"]] = row["m"]
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.sum("dist2"), 2).alias("inertia"),
        )
        .orderBy("cluster")
    )


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature profile of the embedding corpus (mean / std
    / min / max / zero-fraction) — the drift monitor run before any
    ANN index rebuild. One posexplode + one (dim)-keyed aggregation;
    the result is d rows regardless of corpus size."""
    emb = load_table(spark, "embeddings", sf_dir)
    dims = emb.select(F.posexplode(F.expr("CAST(embedding AS array<double>)")).alias("pos", "v"))
    return (
        dims.groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("v"), 5).alias("mean"),
            F.round(F.stddev_samp("v"), 5).alias("std"),
            F.round(F.min("v"), 5).alias("min"),
            F.round(F.max("v"), 5).alias("max"),
        )
        .orderBy("pos")
    )


DIM_STATS_SQL = """
WITH dims AS (
  SELECT r.i - 1 AS pos, v[r.i] AS x
  FROM (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       UNNEST(range(1, len(v) + 1)) AS r(i)
)
SELECT CAST(pos AS INTEGER) AS pos, COUNT(*) AS n,
       ROUND(AVG(x), 5) AS mean,
       ROUND(stddev_samp(x), 5) AS std,
       ROUND(MIN(x), 5) AS min,
       ROUND(MAX(x), 5) AS max
FROM dims
GROUP BY pos
ORDER BY pos
"""


def _jl_oracle_sql() -> str:
    """DuckDB twin of embedding_jl_projection: the fixed-seed projection
    matrix is data-independent and enumerable, so it rides into the SQL
    as a 16×64 DOUBLE[][] literal (shortest-roundtrip reprs parse back
    to the identical doubles). Engine association differences in the
    64-term dot products live at the last ulp; the 4dp output rounding
    sits ~12 orders of magnitude above them (values are continuous, not
    grid-valued — no half-boundary hazard)."""
    planes = fast_vec.jl_planes(_EMB_DIM)
    mat = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in row) + "]" for row in planes
    )
    return f"""
WITH m AS (SELECT [{mat}]::DOUBLE[][] AS mm),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id,
       ROUND(sqrt(list_sum(list_transform(v, x -> x*x))), 4) AS norm_in,
       ROUND(sqrt(list_sum(list_transform(mm, r -> pow(list_dot_product(r, v), 2)))), 4) AS norm_out,
       ROUND(list_dot_product(mm[1], v), 4) AS p0,
       ROUND(list_dot_product(mm[2], v), 4) AS p1
FROM e, m
ORDER BY vec_id
"""


def _kmeans_oracle_sql(k: int = 8, iters: int = 5) -> str:
    """DuckDB twin of kmeans_lloyd_clusters: the fixed init (k lowest
    vec_ids) + fixed iteration count make Lloyd's deterministic, so the
    5 rounds unroll into assign/update CTE pairs. d2 is ROUND(…, 6)ed on
    both sides before the argmin so near-tie assignments quantize to an
    exact equality and the lowest-cluster-index tie-break resolves
    identically in both engines (the semdedup 6dp parity contract);
    an emptied cluster keeps its previous centroid (COALESCE over the
    prior round) exactly like the Spark grid update, which only
    overwrites clusters that aggregated members."""
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"""c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, v AS c
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k})
)""",
    ]
    for i in range(1, iters + 1):
        parts.append(f"""a{i} AS (
  SELECT vec_id, cluster, d2 FROM (
    SELECT vec_id, cluster, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cluster ASC) AS rn
    FROM (
      SELECT e.vec_id, c.cluster,
             ROUND(list_sum(list_transform(list_zip(e.v, c.c), s -> (s[1]-s[2])*(s[1]-s[2]))), 6) AS d2
      FROM e CROSS JOIN c{i - 1} c
    )
  ) WHERE rn = 1
)""")
        if i < iters:
            parts.append(f"""c{i} AS (
  SELECT p.cluster, COALESCE(n.c, p.c) AS c
  FROM c{i - 1} p LEFT JOIN (
    SELECT cluster, list(m ORDER BY pos) AS c FROM (
      SELECT cluster, u.pos AS pos, AVG(u.x) AS m FROM (
        SELECT a.cluster,
               unnest(list_transform(range(1, len(e.v) + 1),
                                     j -> {{'pos': j, 'x': e.v[j]}})) AS u
        FROM a{i} a JOIN e USING (vec_id)
      )
      GROUP BY cluster, u.pos
    )
    GROUP BY cluster
  ) n USING (cluster)
)""")
    body = ",\n".join(parts)
    return f"""{body}
SELECT cluster, COUNT(*) AS n_members, ROUND(SUM(d2), 2) AS inertia
FROM a{iters}
GROUP BY cluster
ORDER BY cluster
"""


QUERIES = {
    "ann_bruteforce_topk": ann_bruteforce_topk,
    "ann_range_search": ann_range_search,
    "embedding_jl_projection": embedding_jl_projection,
    "embedding_cluster_cohesion": embedding_cluster_cohesion,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_pq_topk": ann_pq_topk,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "embedding_quantize_int8": embedding_quantize_int8,
    "embedding_gram_matrix": embedding_gram_matrix,
    "kmeans_lloyd_clusters": kmeans_lloyd_clusters,
    "embedding_dim_stats": embedding_dim_stats,
}

ORACLES = {
    "ann_bruteforce_topk": ANN_BRUTEFORCE_SQL,
    "ann_range_search": ANN_RANGE_SQL,
    "embedding_cluster_cohesion": COHESION_SQL,
    "embedding_quantize_int8": QUANTIZE_SQL,
    "embedding_gram_matrix": GRAM_SQL,
    "embedding_dim_stats": DIM_STATS_SQL,
    "embedding_jl_projection": _jl_oracle_sql(),
    "kmeans_lloyd_clusters": _kmeans_oracle_sql(),
    # ann_ivf_topk / ann_lsh_topk / ann_pq_topk / ann_ivfpq_topk: rows-only
    # (approximate by construction; recall vs brute force asserted in
    # tests/test_similarity.py)
}
