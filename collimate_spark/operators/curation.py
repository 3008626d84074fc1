"""Corpus-curation operators for training-data pipelines: sequence
packing (concat-and-split token chunking into fixed-budget training
rows) and benchmark decontamination (n-gram overlap against a held-out
eval set). Both are pure DataFrame plans: packing is one window over a
sharded cumulative sum; decontamination is an Arrow-batched n-gram
explode + broadcast join against the (small) benchmark n-gram set — the
100 TB shapes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from collimate_spark.catalog import load_table
from collimate_spark.scratch import scache
from collimate_spark.functions import text as X

# ---------------------------------------------------------------------------
# Sequence packing
#
# Training pipelines concatenate documents into a token stream and split it
# into fixed-size chunks (the "packed pretraining" layout). The distributed
# form: hash documents into shards, order deterministically within shard,
# running token count -> each doc knows its byte range in the stream, so its
# first/last chunk index is pure arithmetic. One shuffle (the per-shard
# window); at 100 TB you raise N_SHARDS so each shard's window stays
# bounded — the plan shape is unchanged.
# ---------------------------------------------------------------------------

PACK_BUDGET = 256  # tokens per training chunk
N_SHARDS = 8  # deterministic doc_id % N_SHARDS sharding (raise at scale)


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document a (shard, chunk range) in the packed token
    stream: within each shard, docs concatenate in doc_id order; chunk k
    covers tokens [k*B, (k+1)*B). Emits per-doc start offset, first/last
    chunk, and whether the doc straddles a chunk boundary (the
    truncation/attention-mask boundary a trainer needs)."""
    docs = load_table(spark, "documents", sf_dir)
    toks = X.tokens(F.col("text"))
    sized = docs.select(
        "doc_id",
        (F.col("doc_id") % N_SHARDS).alias("shard"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).alias("start_off")
    return (
        sized.select(
            "doc_id",
            "shard",
            "n_tokens",
            start,
            F.floor((cum - F.col("n_tokens")) / PACK_BUDGET).alias("chunk_first"),
            F.floor((cum - 1) / PACK_BUDGET).alias("chunk_last"),
        )
        .withColumn(
            "spans_chunks",
            (F.col("chunk_last") > F.col("chunk_first")).cast("int"),
        )
        .orderBy("doc_id")
    )


PACK_SQL = f"""
WITH sized AS (
  SELECT doc_id,
         doc_id % {N_SHARDS} AS shard,
         CAST(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM sized
)
SELECT doc_id, shard, n_tokens,
       cum - n_tokens AS start_off,
       (cum - n_tokens) // {PACK_BUDGET} AS chunk_first,
       (cum - 1) // {PACK_BUDGET} AS chunk_last,
       CAST(CASE WHEN (cum - 1) // {PACK_BUDGET} > (cum - n_tokens) // {PACK_BUDGET}
                 THEN 1 ELSE 0 END AS INT) AS spans_chunks
FROM c
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Benchmark decontamination
#
# Standard eval hygiene: drop training documents sharing any long-enough
# word n-gram with a benchmark/eval set. The benchmark side is always tiny
# relative to the corpus, so its distinct n-gram set broadcasts; the train
# side explodes its n-grams and probes the broadcast hash — no shuffle of
# the 100 TB side at all.
# ---------------------------------------------------------------------------

DECON_NGRAM = 6  # words per contamination n-gram
BENCH_MOD = 20  # doc_id % BENCH_MOD == 0 -> held-out benchmark member


def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs that share >= 1 distinct DECON_NGRAM-word n-gram
    with the benchmark subset (doc_id % BENCH_MOD == 0): per contaminated
    doc, the distinct shared n-gram count and the number of benchmark docs
    hit. Broadcast the benchmark n-gram set; the corpus side never
    shuffles before the final per-doc aggregation.

    Grams travel as 64-bit tuple hashes over once-hashed tokens, never
    as strings (r13, guide §2.2/§4): the gram text is not output — only
    gram EQUALITY matters (join key + countDistinct) — and joined-string
    equality == token-tuple equality exactly (tokens contain no spaces),
    so xxhash64 tuple hashes preserve both up to the 2^-64 collision
    posture the engine already accepts for dedup's hashed shingles.
    This removes the Python gram kernel (the whole JVM↔Python boundary)
    AND narrows the join key from ~40-byte strings to 8-byte longs."""
    from collimate_spark.operators.textstats import _ngram_hashes_all

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    # token array projected once behind an alias, then hashed once per
    # token, before the gram lambda touches it (the repetition_metrics
    # CollapseProject guard — otherwise the tokenizer re-runs per gram)
    base = docs.select("doc_id", X.tokens(F.col("text")).alias("toks")).select(
        "doc_id", F.transform(F.col("toks"), lambda t: F.xxhash64(t)).alias("th")
    )
    gram = F.explode(F.array_distinct(_ngram_hashes_all(F.col("th"), DECON_NGRAM)))
    # filter BEFORE the gram build on each branch: the bench branch only
    # grams the (tiny) benchmark slice, so the two-branch plan never
    # re-executes the corpus-side gram work (the round-2 re-execution trap)
    bench = base.filter(is_bench).select(
        F.col("doc_id").alias("bench_id"), gram.alias("g")
    )
    train = base.filter(~is_bench).select("doc_id", gram.alias("g"))
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_shared_ngrams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
        .orderBy("doc_id")
    )


DECON_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(t) >= {DECON_NGRAM}
                THEN list_transform(range(1, len(t) - {DECON_NGRAM - 2}),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                            || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5])
                ELSE [] END)) AS g
  FROM toks
)
SELECT tr.doc_id,
       COUNT(DISTINCT tr.g) AS n_shared_ngrams,
       COUNT(DISTINCT be.doc_id) AS n_bench_docs
FROM grams tr
JOIN grams be ON tr.g = be.g
WHERE be.doc_id % {BENCH_MOD} = 0 AND tr.doc_id % {BENCH_MOD} <> 0
GROUP BY tr.doc_id
ORDER BY tr.doc_id
"""


# ---------------------------------------------------------------------------
# Deterministic shard export
#
# The last step of a training pipeline: assign every document to an output
# shard and give it a stable pseudo-random position inside that shard, so
# the exported stream is (a) shuffled — no source ordering/locality leaks
# into training batches — and (b) exactly reproducible across runs, engines,
# and cluster layouts (content-independent md5 of the id, not rand()). At
# 100 TB this is one hash projection + one per-shard window; raise
# EXPORT_SHARDS so each shard's sort stays bounded, then
# write.partitionBy(shard_id) streams each shard out sorted.
# ---------------------------------------------------------------------------

EXPORT_SHARDS = 16


def shard_export_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc export placement: shard = md5(doc_id)-prefix mod
    EXPORT_SHARDS, rank = position in the shard's hash order. The md5
    prefix (not rand(), not input order) makes the global shuffle
    deterministic and engine-portable — the DuckDB oracle reproduces it
    bit-for-bit."""
    docs = load_table(spark, "documents", sf_dir)
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    return (
        docs.select("doc_id", h.alias("h"))
        .withColumn(
            "shard_id",
            (F.conv(F.substring("h", 1, 4), 16, 10).cast("int") % EXPORT_SHARDS),
        )
        .withColumn(
            "shard_rank",
            F.row_number().over(
                Window.partitionBy("shard_id").orderBy("h", "doc_id")
            ),
        )
        .select("doc_id", "shard_id", "shard_rank")
        .orderBy("shard_id", "shard_rank")
    )


SHARD_EXPORT_SQL = f"""
WITH hashed AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % {EXPORT_SHARDS} AS shard_id
  FROM documents
)
SELECT doc_id, shard_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY h, doc_id) AS INT) AS shard_rank
FROM hashed
ORDER BY shard_id, shard_rank
"""


# ---------------------------------------------------------------------------
# End-to-end corpus curation
# ---------------------------------------------------------------------------


def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone pipeline: one disposition row per document, composing
    the engine's curation stages with their production precedence —

    1. ``exact_dup``  — not the minimum doc_id of its normalized-text hash
       (one window over the hash; no groupBy-and-join-back)
    2. ``near_dup``   — a non-survivor of its MinHash/LSH connected
       component (``dedup_connected_components``)
    3. quality reasons — first failing rule of the quality gate
       (shared ``quality_reason`` expression)
    4. ``ok``         — kept for training

    keep = (reason == 'ok'). At 100 TB: the exact/quality stages are one
    window + mapper work over the corpus; the near-dup stage joins the
    (pair-sized) component labels back — the whole disposition is three
    shuffles end-to-end. The DuckDB oracle recomputes all three stages
    (recursive-CTE components included) and hash-matches.

    r13 (guide §2.3, shuffle fewer bytes): the text-derived columns —
    the exact-dup hash AND the quality reason — are computed in the
    scan projection, BEFORE the first exchange, so the document text
    itself never crosses a shuffle (it used to ride through both the
    text_hash window exchange and the doc_id join exchange just so
    ``quality_reason(text)`` could run after the join). quality_reason
    is a deterministic per-row expression, so evaluating it eagerly on
    every doc (rather than post-CASE on non-dup docs) cannot change any
    output row; the shuffled row narrows from (ids + full text) to ids
    + two short strings."""
    from collimate_spark.operators.dedup import dedup_connected_components
    from collimate_spark.operators.textstats import quality_reason

    docs = load_table(spark, "documents", sf_dir)
    # normalized text and token array each projected once behind an
    # alias (multi-referenced, non-cheap → CollapseProject keeps the
    # boundaries): norm feeds the md5 AND the tokenizer; toks feeds the
    # four token references in the quality CASE (one under a
    # CodegenFallback filter HOF)
    staged = docs.select(
        "doc_id", "text", X.normalize_text(F.col("text")).alias("norm")
    ).select("doc_id", "text", "norm", F.split("norm", " ").alias("toks"))
    hashed = staged.select(
        "doc_id",
        F.md5(F.col("norm").cast("binary")).alias("text_hash"),
        quality_reason(F.col("text"), toks=F.col("toks")).alias("q_reason"),
    ).withColumn(
        "keep_id", F.min("doc_id").over(Window.partitionBy("text_hash"))
    )
    cc = dedup_connected_components(spark, sf_dir).select(
        "doc_id", "is_survivor"
    )
    reason = (
        F.when(F.col("doc_id") != F.col("keep_id"), F.lit("exact_dup"))
        .when(F.col("is_survivor") == 0, F.lit("near_dup"))
        .otherwise(F.col("q_reason"))
    )
    return (
        hashed.join(cc, "doc_id", "left")
        .select("doc_id", reason.alias("reason"))
        .select(
            "doc_id",
            (F.col("reason") == "ok").cast("int").alias("keep"),
            "reason",
        )
        .orderBy("doc_id")
    )


def _curate_sql() -> str:
    from collimate_spark.operators.dedup import CC_CTES
    from collimate_spark.operators.textstats import QF_CASE_SQL

    return f"""
WITH RECURSIVE {CC_CTES},
exact AS (
  SELECT doc_id,
         MIN(doc_id) OVER (
           PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         ) AS keep_id
  FROM documents
),
qtoks AS (
  SELECT doc_id, text,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
disp AS (
  SELECT q.doc_id,
         CASE WHEN e.doc_id <> e.keep_id THEN 'exact_dup'
              WHEN cc.is_survivor = 0 THEN 'near_dup'
              ELSE {QF_CASE_SQL}
         END AS reason
  FROM qtoks q
  JOIN exact e ON q.doc_id = e.doc_id
  LEFT JOIN cc ON q.doc_id = cc.doc_id
)
SELECT doc_id, CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS keep, reason
FROM disp
ORDER BY doc_id
"""


def weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sampling (Efraimidis-Spirakis
    A-ES): each document draws a reproducible uniform u from an md5 of
    its id and competes on key = ln(u)/weight (monotone in u^(1/w));
    the top-k keys are a weighted-without-replacement sample — here
    weight = token count, so longer documents are proportionally more
    likely. Content-independent and engine-independent (the same md5
    yields the same sample on any cluster layout), and distributed as a
    single TakeOrderedAndProject: each partition keeps its local top-k,
    the driver merges k rows. The weighted companion to
    textstats.stratified_sample_documents."""
    docs = load_table(spark, "documents", sf_dir)
    w = F.size(X.tokens(F.col("text")))
    # u in (0,1): 8 md5 hex chars -> uint32, shifted off 0
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("double")
        + 1.0
    ) / (2.0 ** 32 + 1.0)
    key = F.log(u) / w
    return (
        docs.select(
            "doc_id",
            w.alias("n_tokens"),
            F.round(key, 8).alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(50)
    )


WEIGHTED_SAMPLE_SQL = """
WITH keyed AS (
  SELECT doc_id,
         len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS n_tokens,
         ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1.0)
            / (4294967296.0 + 1.0))
         / len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS k
  FROM documents
)
SELECT doc_id, n_tokens, ROUND(k, 8) AS sample_key
FROM keyed
ORDER BY k DESC, doc_id
LIMIT 50
"""


# ---------------------------------------------------------------------------
# Sliding-window chunking (RAG / context-window preprocessing)

CHUNK_TOKENS = 32  # tokens per chunk
CHUNK_STRIDE = 24  # overlap = CHUNK_TOKENS - CHUNK_STRIDE


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into fixed-token sliding windows with overlap
    (stride < window), the standard chunking step before embedding or
    context packing. Pure JVM plan: tokens -> ``sequence(0, n-1, stride)``
    start offsets -> ``posexplode`` + ``slice`` — no UDF, no shuffle at
    all (chunking is embarrassingly row-local; writers repartition
    downstream if they need size-balanced output files). Trailing chunks
    may be shorter than CHUNK_TOKENS; every token is covered by >= 1
    chunk. Contrast with ``pack_sequences`` (which concatenates ACROSS
    documents); chunking splits WITHIN documents and keeps provenance."""
    docs = load_table(spark, "documents", sf_dir)
    # tokenize once per row behind an alias (r13): inline, the same
    # Project computed the tokenizer twice (the toks output column AND
    # the generator's size(toks) bound)
    base = docs.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(CHUNK_STRIDE)
    )
    return (
        base.select("doc_id", "toks", F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            "chunk_idx",
            "start",
            F.least(F.size("toks") - F.col("start"), F.lit(CHUNK_TOKENS)).alias("n_chunk_tokens"),
            F.concat_ws(" ", F.slice("toks", F.col("start") + 1, CHUNK_TOKENS)).alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


_TOKS_SQL = "string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"

CHUNK_SQL = f"""
WITH tok AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
starts AS (
  SELECT doc_id, toks,
         unnest(range(0, len(toks), {CHUNK_STRIDE})) AS start
  FROM tok
), idx AS (
  SELECT doc_id, toks, start, CAST(start / {CHUNK_STRIDE} AS INT) AS chunk_idx
  FROM starts
)
SELECT doc_id, chunk_idx, CAST(start AS INT) AS start,
       CAST(LEAST(len(toks) - start, {CHUNK_TOKENS}) AS INT) AS n_chunk_tokens,
       array_to_string(list_slice(toks, start + 1, start + {CHUNK_TOKENS}), ' ') AS chunk_text
FROM idx
ORDER BY doc_id, chunk_idx
"""


# ---------------------------------------------------------------------------
# Temperature-scaled domain mixing

MIX_TARGET_FRACTION = 0.5  # overall corpus fraction to keep


def domain_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain (source) re-sampling — the multilingual /
    multi-domain mixing rule (sample domain s with probability
    proportional to ``c_s^tau``, tau < 1 flattening the distribution so
    small domains are not drowned out; here τ = ½, written as sqrt in
    the query and its oracle). Per-source keep-rate
    ``p_s = min(1, (c_s^tau / sum c^tau) * N_target / c_s)`` is computed
    from the data in one tiny agg (|sources| rows), broadcast back, and
    each row keeps deterministically via an md5(doc_id) uniform — the
    same reproducible-across-engines device as
    ``stratified_sample_documents``, but with DATA-DEPENDENT rates.
    Scale: one scan + one |sources|-row broadcast join; no shuffle of the
    corpus itself."""
    docs = load_table(spark, "documents", sf_dir)
    # |sources|-row frame, referenced by totals AND rates — cached so
    # the corpus groupBy runs once
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total")).transform(scache)
    totals = per_src.agg(
        F.sum(F.sqrt("n_total")).alias("z"),
        F.sum("n_total").alias("corpus_n"),
    )
    rates = per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_total",
        F.least(
            F.lit(1.0),
            (F.sqrt("n_total") / F.col("z"))
            * (F.lit(MIX_TARGET_FRACTION) * F.col("corpus_n"))
            / F.col("n_total"),
        ).alias("p_keep"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("double")
    ) / (2.0 ** 32)
    return (
        docs.join(F.broadcast(rates), "source")
        .select("source", "n_total", "p_keep", (u < F.col("p_keep")).cast("int").alias("kept"))
        .groupBy("source", "n_total", F.round("p_keep", 6).alias("target_rate"))
        .agg(
            F.sum("kept").cast("bigint").alias("n_kept"),
            F.round(F.sum("kept") / F.count(F.lit(1)), 4).alias("achieved_rate"),
        )
        .orderBy("source")
    )


DOMAIN_MIX_SQL = f"""
WITH per_src AS (SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source),
tot AS (SELECT SUM(sqrt(n_total)) AS z, SUM(n_total) AS corpus_n FROM per_src),
rates AS (
  SELECT source, n_total,
         LEAST(1.0, (sqrt(n_total) / z) * ({MIX_TARGET_FRACTION!r} * corpus_n) / n_total)
           AS p_keep
  FROM per_src, tot
), flagged AS (
  SELECT d.source, r.n_total, r.p_keep,
         CASE WHEN CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   / 4294967296.0 < r.p_keep
              THEN 1 ELSE 0 END AS kept
  FROM documents d JOIN rates r USING (source)
)
SELECT source, n_total, ROUND(p_keep, 6) AS target_rate,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       ROUND(SUM(kept) * 1.0 / COUNT(*), 4) AS achieved_rate
FROM flagged
GROUP BY source, n_total, ROUND(p_keep, 6)
ORDER BY source
"""


# ---------------------------------------------------------------------------
# End-to-end corpus pipeline funnel (quality → dedup → split, one plan)


def corpus_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE composed plan with a stage
    funnel as its output: raw docs → quality gate (same rules as
    ``quality_filter_pipeline``) → exact dedup among survivors (same
    min-doc_id rule as ``dedup_exact``) → deterministic train/val/test
    split (same thresholds as ``train_val_test_split``). One row per
    stage with its surviving count — the one-glance report of what each
    pipeline step costs, and the proof these operators compose as
    DataFrames instead of materializing between steps.

    Scale: every flag is a narrow expression; the only shuffle is the
    dedup window on text_hash, and the funnel itself is a single
    conditional aggregate stacked long. The same plan with
    ``.write.partitionBy('split')`` at the end IS the production export
    job."""
    from collimate_spark.operators.textstats import quality_reason

    docs = load_table(spark, "documents", sf_dir)
    ok = (quality_reason(F.col("text")) == "ok").cast("int")
    base = docs.select(
        "doc_id",
        ok.alias("ok"),
        F.md5(X.normalize_text(F.col("text")).cast("binary")).alias("text_hash"),
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4).alias("hx"),
    )
    min_ok = F.min(F.when(F.col("ok") == 1, F.col("doc_id"))).over(
        Window.partitionBy("text_hash")
    )
    ann = base.withColumn(
        "keep", ((F.col("ok") == 1) & (F.col("doc_id") == min_ok)).cast("int")
    )
    kept = F.col("keep") == 1
    counts = ann.agg(
        F.count(F.lit(1)).alias("raw"),
        F.sum("ok").alias("quality"),
        F.sum("keep").alias("uniq"),
        F.sum((kept & (F.col("hx") < _SPLIT_TRAIN_THR)).cast("int")).alias("train"),
        F.sum(
            (kept & (F.col("hx") >= _SPLIT_TRAIN_THR) & (F.col("hx") < _SPLIT_VAL_THR)).cast(
                "int"
            )
        ).alias("val"),
        F.sum((kept & (F.col("hx") >= _SPLIT_VAL_THR)).cast("int")).alias("test"),
    )
    return counts.selectExpr(
        "stack(6, '0_raw', raw, '1_quality', quality, '2_unique', uniq, "
        "'3_train', train, '3_val', val, '3_test', test) AS (stage, n_docs)"
    ).orderBy("stage")


def _pipeline_funnel_sql() -> str:
    from collimate_spark.operators.textstats import QF_CASE_SQL

    return f"""
WITH d AS (
  SELECT doc_id, text,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
), base AS (
  SELECT doc_id,
         CASE WHEN ({QF_CASE_SQL}) = 'ok' THEN 1 ELSE 0 END AS ok,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_hash,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hx
  FROM d
), ann AS (
  SELECT *,
         CASE WHEN ok = 1 AND doc_id = MIN(CASE WHEN ok = 1 THEN doc_id END)
                   OVER (PARTITION BY text_hash) THEN 1 ELSE 0 END AS keep
  FROM base
)
SELECT '0_raw' AS stage, COUNT(*) AS n_docs FROM ann
UNION ALL SELECT '1_quality', CAST(SUM(ok) AS BIGINT) FROM ann
UNION ALL SELECT '2_unique', CAST(SUM(keep) AS BIGINT) FROM ann
UNION ALL SELECT '3_train', CAST(SUM(CASE WHEN keep = 1 AND hx < 'cccc' THEN 1 ELSE 0 END) AS BIGINT) FROM ann
UNION ALL SELECT '3_val', CAST(SUM(CASE WHEN keep = 1 AND hx >= 'cccc' AND hx < 'e666' THEN 1 ELSE 0 END) AS BIGINT) FROM ann
UNION ALL SELECT '3_test', CAST(SUM(CASE WHEN keep = 1 AND hx >= 'e666' THEN 1 ELSE 0 END) AS BIGINT) FROM ann
ORDER BY stage
"""


# ---------------------------------------------------------------------------
# Deterministic train/val/test split

_SPLIT_TRAIN_THR = "cccc"  # 0x0000-0xcccb / 0x10000 ≈ 0.8000
_SPLIT_VAL_THR = "e666"  # up to ≈ 0.9000; rest = test


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical ML dataset split, done the reproducible way: each
    document's 4-hex md5(doc_id) prefix is a content-independent uniform
    in [0, 1), thresholded 80/10/10 into train/val/test. Hash-based
    assignment is stable across runs, engines, partitionings, and
    incremental appends (a new doc never moves an old one), unlike any
    rand()-based split. Emits per-(lang, split) counts and the achieved
    within-lang fraction — the drift check that the realized split
    matches the design.

    Scale: a narrow zero-shuffle map (md5 + two comparisons) followed by
    one tiny groupBy on (lang, split); the split column itself is what a
    training exporter would partition the write by."""
    docs = load_table(spark, "documents", sf_dir)
    h = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4)
    split = (
        F.when(h < _SPLIT_TRAIN_THR, "train")
        .when(h < _SPLIT_VAL_THR, "val")
        .otherwise("test")
    )
    grid = (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("lang")
    return (
        grid.select(
            "lang",
            "split",
            "n_docs",
            F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4).alias("frac_of_lang"),
        )
        .orderBy("lang", "split")
    )


TRAIN_VAL_TEST_SQL = """
WITH tagged AS (
  SELECT lang,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), grid AS (
  SELECT lang, split, COUNT(*) AS n_docs FROM tagged GROUP BY 1, 2
)
SELECT lang, split, n_docs,
       ROUND(n_docs * 1.0 / SUM(n_docs) OVER (PARTITION BY lang), 4) AS frac_of_lang
FROM grid
ORDER BY lang, split
"""


# ---------------------------------------------------------------------------
# Mergeable exact-k per-group uniform sample (bottom-k by hashed priority)

_BOTTOMK = 5


def bottomk_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k=5 documents per language, uniform and deterministic:
    each doc gets priority md5(doc_id) and the k smallest priorities per
    group win — the distributed form of reservoir sampling where the
    reservoir is an order statistic instead of mutable state.

    Scale: a row_number() window would shuffle EVERY row of a group to
    one task and sort it all there. Instead the bottom-k runs as a
    TWO-STAGE aggregate: stage 1 groups by (lang, salt=hash(doc_id)%64)
    and keeps each salt-group's local k smallest
    (``slice(sort_array(collect_list(...)), 1, k)`` — the aggregation
    buffer holds only that salt-slice of the group, 1/64th, and shrinks
    with more salts); stage 2 merges the ≤ 64·k survivors per group to
    the global k. Bottom-k by a fixed priority is decomposable, so the
    two-stage result is exactly the one-stage result; at 100 TB you
    scale the salt count with the data and no task ever buffers more
    than group_size/salts rows."""
    docs = load_table(spark, "documents", sf_dir)
    pri = F.md5(F.col("doc_id").cast("string"))
    local = (
        docs.select("lang", "doc_id")
        .groupBy("lang", F.pmod(F.xxhash64("doc_id"), F.lit(64)).alias("salt"))
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct(pri.alias("pri"), F.col("doc_id").alias("doc_id")))
                ),
                1,
                _BOTTOMK,
            ).alias("cand")
        )
    )
    picks = (
        local.select("lang", F.explode("cand").alias("c"))
        .groupBy("lang")
        .agg(F.slice(F.sort_array(F.collect_list("c")), 1, _BOTTOMK).alias("picks"))
    )
    return (
        picks.select("lang", F.posexplode("picks").alias("pos", "pick"))
        .select(
            "lang",
            (F.col("pos") + 1).alias("sample_rank"),
            F.col("pick.doc_id").alias("doc_id"),
        )
        .orderBy("lang", "sample_rank")
    )


BOTTOMK_SAMPLE_SQL = """
SELECT lang, rn AS sample_rank, doc_id
FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
  FROM documents
)
WHERE rn <= 5
ORDER BY lang, sample_rank
"""


QUERIES = {
    "pack_sequences": pack_sequences,
    "decontaminate_ngram": decontaminate_ngram,
    "shard_export_assignment": shard_export_assignment,
    "curate_corpus": curate_corpus,
    "weighted_sample_documents": weighted_sample_documents,
    "chunk_documents": chunk_documents,
    "domain_mix_temperature": domain_mix_temperature,
    "bottomk_sample_per_group": bottomk_sample_per_group,
    "train_val_test_split": train_val_test_split,
    "corpus_pipeline_funnel": corpus_pipeline_funnel,
}

ORACLES = {
    "corpus_pipeline_funnel": _pipeline_funnel_sql(),
    "bottomk_sample_per_group": BOTTOMK_SAMPLE_SQL,
    "train_val_test_split": TRAIN_VAL_TEST_SQL,
    "pack_sequences": PACK_SQL,
    "decontaminate_ngram": DECON_SQL,
    "shard_export_assignment": SHARD_EXPORT_SQL,
    "curate_corpus": _curate_sql(),
    "weighted_sample_documents": WEIGHTED_SAMPLE_SQL,
    "chunk_documents": CHUNK_SQL,
    "domain_mix_temperature": DOMAIN_MIX_SQL,
}
