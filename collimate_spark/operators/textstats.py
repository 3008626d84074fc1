"""Text analysis over ``documents``: token counting (whitespace + BPE-ish
regex), quality scoring, n-gram-heuristic language ID, document
fingerprinting. All built-in string/array expressions — the per-document
work pipelines inside whole-stage codegen; no shuffle except final sorts.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from collimate_spark.catalog import load_table
from collimate_spark.scratch import scache
from collimate_spark.functions import text as X
from collimate_spark.functions.skew import fits_broadcast

# BPE-ish pre-tokenization: word pieces OR single non-word-non-space marks.
BPE_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it")

# tiny per-language marker lexicons for the heuristic language scorer
LANG_MARKERS = {
    "en": ("the", "a", "and", "of", "is"),
    "es": ("el", "la", "de", "y", "es"),
    "de": ("der", "die", "und", "ist", "das"),
    "fr": ("le", "la", "et", "est", "les"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}


def text_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality stats: token count (whitespace and BPE-ish), char
    classes, average token length, stopword ratio, distinct-token ratio —
    the standard quality-filter feature vector for corpus curation.

    The token array is projected ONCE behind an alias (r13): inline,
    the six outputs reference the tokenize tree from eight subtrees —
    several under CodegenFallback HOF lambdas whose interpreted eval
    re-runs the whole split(regexp_replace(…)) per reference, outside
    codegen's subexpression elimination (the repetition_metrics
    CollapseProject guard; the alias is referenced >1 time and is not
    cheap, so the projection boundary survives). Interleaved A/B at
    sf0.1, min-of-5: inline 1.285 s vs boundary 0.950 s (the residual
    cost is the BPE regexp_extract_all, which tokenizes the raw text
    independently either way)."""
    docs = load_table(spark, "documents", sf_dir)
    base = docs.select("doc_id", "text", X.tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    return (
        base.select(
            "doc_id",
            F.length("text").alias("n_chars_raw"),
            F.size(toks).alias("n_tokens_ws"),
            F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_REGEX), 0)).alias("n_tokens_bpe"),
            F.round(
                F.aggregate(
                    toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
                ).cast("double")
                / F.size(toks),
                4,
            ).alias("avg_token_len"),
            F.round(
                F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double") / F.size(toks), 4
            ).alias("stopword_ratio"),
            F.round(
                F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 4
            ).alias("distinct_ratio"),
        )
        .orderBy("doc_id")
    )


TEXT_QUALITY_SQL = f"""
WITH d AS (
  SELECT doc_id, text,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
)
SELECT doc_id,
       LENGTH(text) AS n_chars_raw,
       len(toks) AS n_tokens_ws,
       len(regexp_extract_all(text, '{BPE_REGEX}')) AS n_tokens_bpe,
       ROUND(list_sum(list_transform(toks, t -> LENGTH(t))) * 1.0 / len(toks), 4) AS avg_token_len,
       ROUND(len(list_filter(toks, t -> t IN {STOPWORDS!r})) * 1.0 / len(toks), 4) AS stopword_ratio,
       ROUND(len(list_distinct(toks)) * 1.0 / len(toks), 4) AS distinct_ratio
FROM d
ORDER BY doc_id
"""


# quality gate thresholds (first failing rule wins; order is part of the
# contract so keep Spark and oracle CASE branches identical)
QF_MIN_TOKENS = 5
QF_MAX_CHARS = 20_000
QF_MIN_DISTINCT_RATIO = 0.30
QF_MIN_STOPWORD_RATIO = 0.02


def quality_reason(text_col, toks=None) -> "F.Column":
    """The ordered-rule reason expression, shared by the standalone gate
    and curation.curate_corpus. Pure JVM, no shuffle.

    ``toks``: optionally a pre-projected token-array COLUMN. The CASE
    references the token tree from four subtrees and one of them is a
    CodegenFallback ``filter`` HOF (no subexpression elimination), so
    callers on a hot path should project ``X.tokens(text)`` once behind
    an alias and pass the column; inline (the default) re-runs the
    split(regexp_replace(…)) per reference."""
    if toks is None:
        toks = X.tokens(text_col)
    n_ws = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_ws
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double") / n_ws
    return (
        F.when(n_ws < QF_MIN_TOKENS, F.lit("too_short"))
        .when(F.length(text_col) > QF_MAX_CHARS, F.lit("too_long"))
        .when(distinct_ratio < QF_MIN_DISTINCT_RATIO, F.lit("repetitive"))
        .when(stop_ratio < QF_MIN_STOPWORD_RATIO, F.lit("no_natural_language"))
        .otherwise(F.lit("ok"))
    )


# DuckDB twin of quality_reason (expects columns `text` and `toks` in scope)
QF_CASE_SQL = f"""CASE WHEN len(toks) < {QF_MIN_TOKENS} THEN 'too_short'
              WHEN LENGTH(text) > {QF_MAX_CHARS} THEN 'too_long'
              WHEN len(list_distinct(toks)) * 1.0 / len(toks) < {QF_MIN_DISTINCT_RATIO}
                   THEN 'repetitive'
              WHEN len(list_filter(toks, t -> t IN {STOPWORDS!r})) * 1.0 / len(toks)
                   < {QF_MIN_STOPWORD_RATIO} THEN 'no_natural_language'
              ELSE 'ok' END"""


def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop gate a curation pipeline runs over every document:
    ordered threshold rules on the quality features (length → repetition
    → natural-language-ness), emitting the FIRST failing rule as the drop
    reason — the auditable form (per-reason counts tell you what each
    threshold costs). Pure JVM expressions, zero shuffle before the final
    sort; at 100 TB this is a mapper-only pass feeding
    ``.write.partitionBy('keep')``.

    r13: the token array is projected once behind an alias and passed
    into :func:`quality_reason` (see its docstring — inline, the CASE
    re-tokenized per reference under the CodegenFallback filter HOF).
    Back-to-back min-of-4 at sf0.1: 1.280 → 1.107 s (the residual is
    the scan + final doc_id sort, which dominate this thin mapper)."""
    docs = load_table(spark, "documents", sf_dir)
    staged = docs.select("doc_id", "text", X.tokens(F.col("text")).alias("toks"))
    return (
        staged.select(
            "doc_id",
            quality_reason(F.col("text"), toks=F.col("toks")).alias("reason"),
        )
        .select(
            "doc_id",
            (F.col("reason") == "ok").cast("int").alias("keep"),
            "reason",
        )
        .orderBy("doc_id")
    )


QUALITY_FILTER_SQL = f"""
WITH d AS (
  SELECT doc_id, text,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
r AS (
  SELECT doc_id,
         {QF_CASE_SQL} AS reason
  FROM d
)
SELECT doc_id, CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS keep, reason
FROM r
ORDER BY doc_id
"""


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language scorer: per-language marker hit counts, argmax
    with deterministic tiebreak (higher count wins, then language code).
    A real deployment swaps the lexicons for char-n-gram profiles; the
    plumbing — array scoring + greatest-struct argmax, zero shuffle — is
    the same.

    r13: the token array and the sorted best-struct are projected once
    behind aliases — inline, every language's filter() re-evaluated the
    tokenize tree (L×/row) and the two best-field reads re-sorted the
    score array (2×/row); both aliases are multi-referenced and
    non-cheap so CollapseProject keeps the boundaries. Back-to-back
    min-of-4: 1.72 → 1.00 s."""
    docs = load_table(spark, "documents", sf_dir)
    base = docs.select("doc_id", "lang", X.tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    scores = F.array(
        *[
            F.struct(
                F.size(F.filter(toks, lambda t: t.isin(*markers))).alias("hits"),
                # negate lexicographic order cheaply: store code, break ties
                # by preferring earlier alphabet via array_sort on (-hits, code)
                F.lit(lang).alias("lang"),
            )
            for lang, markers in sorted(LANG_MARKERS.items())
        ]
    )
    # array_sort on struct sorts by fields in order: hits asc, lang asc →
    # take element with max hits, min lang: sort by (hits desc) needs
    # inversion: use negative hits.
    neg = F.transform(
        scores, lambda s: F.struct((-s.getField("hits")).alias("nh"), s.getField("lang").alias("lang"))
    )
    best = F.array_sort(neg).getItem(0)
    mid = base.select("doc_id", "lang", best.alias("best"))
    return (
        mid.select(
            "doc_id",
            "lang",
            F.col("best").getField("lang").alias("lang_pred"),
            (-F.col("best").getField("nh")).alias("marker_hits"),
        )
        .withColumn("agree", (F.col("lang") == F.col("lang_pred")).cast("int"))
        .orderBy("doc_id")
    )


LANG_ID_SQL = f"""
WITH d AS (
  SELECT doc_id, lang,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
         list_sort([{", ".join(
             f"{{'nh': -len(list_filter(toks, t -> t IN {tuple(markers)!r})), 'lang': '{lang}'}}"
             for lang, markers in sorted(LANG_MARKERS.items())
         )}]) AS ranked
  FROM d
)
SELECT doc_id, lang,
       ranked[1].lang AS lang_pred,
       -ranked[1].nh AS marker_hits,
       CASE WHEN lang = ranked[1].lang THEN 1 ELSE 0 END AS agree
FROM scored
ORDER BY doc_id
"""


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation harness over ``lang_id_heuristic``: the full
    confusion matrix of predicted vs labeled language, long-form — one
    row per (true, predicted) cell with its count and share of the true
    class (the diagonal's share IS per-class recall). This is the
    eval-loop shape every classifier that runs on the cluster needs:
    predictions stay distributed, the matrix is classes², tiny at any
    corpus size.

    Scale: composes the prediction query (zero-shuffle scoring map) with
    one groupBy on a 5×5 key space; the per-class share is a window over
    the matrix itself, never over documents."""
    pred = lang_id_heuristic(spark, sf_dir)
    cells = pred.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang")
    return (
        cells.select(
            "lang",
            "lang_pred",
            "n",
            F.round(F.col("n") / F.sum("n").over(w), 4).alias("frac_of_true"),
        )
        .orderBy("lang", "lang_pred")
    )


LANG_CONFUSION_SQL = f"""
SELECT lang, lang_pred, COUNT(*) AS n,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY lang), 4) AS frac_of_true
FROM ({LANG_ID_SQL}) base
GROUP BY lang, lang_pred
ORDER BY lang, lang_pred
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint (md5 of sorted distinct
    tokens) + the count of docs sharing each fingerprint — catches
    shuffled/reordered duplicates that exact text hashing misses.

    r13: n_docs is a COUNT(*) window over fingerprint (the oracle's own
    shape), not a groupBy+self-join — the join form scanned documents
    and ran the tokenize+sort+md5 fingerprint expression TWICE (once per
    join side) and paid two exchanges where one suffices."""
    docs = load_table(spark, "documents", sf_dir)
    fp = docs.select("doc_id", X.bow_fingerprint(F.col("text")).alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return (
        fp.withColumn("n_docs", F.count(F.lit(1)).over(w))
        .select("doc_id", "fingerprint", "n_docs")
        .orderBy("doc_id")
    )


DOC_FINGERPRINT_SQL = """
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))), ' ')) AS fingerprint
  FROM documents
)
SELECT doc_id, fingerprint,
       COUNT(*) OVER (PARTITION BY fingerprint) AS n_docs
FROM fp
ORDER BY doc_id
"""


def winnow_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (winnowing) near-dup pairs: docs sharing ≥ 10 selected
    fingerprints — catches shared RUNS of text (positional locality),
    complementing the order-blind MinHash/Jaccard variants. Candidate
    generation = explode fingerprints + equi-join (never O(n²)).
    Fingerprints come from the Arrow-batched numpy kernel
    (functions/fast_text.winnow_fingerprints — a Column-expression form
    re-evaluates its k-gram array per window under CollapseProject,
    ~50× slower).
    Fully DuckDB-oracled (VERDICT r9 #5): the k-gram hash is an
    engine-portable md5-prefix + Horner polynomial (fast_text.WINNOW_P/
    WINNOW_B), so the oracle replays tokenize → gram-hash → sliding
    window minima → distinct → pair join in SQL and the driver hashes
    the identical pair set."""
    from collimate_spark.functions import fast_text

    docs = load_table(spark, "documents", sf_dir)
    # cache the fingerprint relation: the self-join references it twice,
    # and without the cache the winnowing kernel re-tokenizes the whole
    # corpus once per side (guide §4 — pay the Python boundary once)
    fps = (
        docs.select("doc_id", "text")
        .mapInPandas(fast_text.winnow_fingerprints, fast_text.WINNOW_SCHEMA)
        .transform(scache)
    )
    return (
        fps.alias("a")
        .join(fps.alias("b"), "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= 10)
        .orderBy("doc_a", "doc_b")
    )


def _winnow_oracle_sql() -> str:
    """DuckDB twin of winnow_fingerprint_pairs: replays the kernel —
    whitespace tokenize, md5-prefix token hash mod P, Horner K-gram
    combine, W-wide sliding minima (full windows only once ≥ W grams
    exist, every gram otherwise), distinct minima per doc, pair join
    with the ≥10 shared-fingerprint gate. All Horner intermediates stay
    under 2^52, exact in BIGINT."""
    from collimate_spark.functions.fast_text import (
        WINNOW_B,
        WINNOW_K,
        WINNOW_P,
        WINNOW_W,
    )

    g = f"h[r.i]"
    for j in range(1, WINNOW_K):
        g = f"(({g} * {WINNOW_B} + h[r.i + {j}]) % {WINNOW_P})"
    return f"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
  FROM documents
),
th AS (
  SELECT doc_id,
         list_transform(tk, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % {WINNOW_P}) AS h,
         len(tk) AS n
  FROM toks WHERE len(tk) >= {WINNOW_K}
),
grams AS (
  SELECT doc_id, r.i AS pos, {g} AS g, n - {WINNOW_K - 1} AS ng
  FROM th, UNNEST(range(1, n - {WINNOW_K - 2})) AS r(i)
),
mins AS (
  SELECT doc_id, pos, ng,
         MIN(g) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS m,
         g
  FROM grams
),
fps AS (
  SELECT DISTINCT doc_id, CASE WHEN ng >= {WINNOW_W} THEN m ELSE g END AS fp
  FROM mins
  WHERE ng < {WINNOW_W} OR pos >= {WINNOW_W}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
FROM fps a JOIN fps b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 10
ORDER BY doc_a, doc_b
"""


def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: bucket docs by token count (width 50), count
    per (lang, bucket) — the curation dashboard query."""
    docs = load_table(spark, "documents", sf_dir)
    toks = X.tokens(F.col("text"))
    return (
        docs.select("lang", (F.floor(F.size(toks) / 50) * 50).alias("len_bucket"))
        .groupBy("lang", "len_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "len_bucket")
    )


TEXT_LEN_HIST_SQL = """
SELECT lang,
       CAST(FLOOR(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) / 50) * 50 AS BIGINT) AS len_bucket,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1, 2
ORDER BY lang, len_bucket
"""


# PII patterns shared by Spark (Java regex) and the DuckDB oracle (RE2):
# ASCII classes only, no lookarounds — the dialect intersection.
PII_EMAIL = r"[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}[- ]\d{3}[- ]\d{4}\b"


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the mandatory scrub pass of any
    training-data pipeline. The synthetic corpus contains no PII, so the
    query first INJECTS deterministic PII (an email / IP / phone derived
    from doc_id, on a doc_id%3 rotation) and then detects and redacts it
    with shared-dialect regexes — both engines build the same dirty text,
    so counts and the md5 of the scrubbed output are hash-checked against
    the oracle. All JVM expressions; at 100 TB this is a narrow map with
    zero shuffle."""
    docs = load_table(spark, "documents", sf_dir)
    dirty = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com now")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit(" from host 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7 logged")),
        )
        .otherwise(
            F.concat(F.lit(" call 555-01"), F.lpad((F.col("doc_id") % 10).cast("string"), 1, "0"), F.lit("-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
        ),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(dirty, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return (
        docs.select(
            "doc_id",
            F.size(F.regexp_extract_all(dirty, F.lit(PII_EMAIL), 0)).alias("n_emails"),
            F.size(F.regexp_extract_all(dirty, F.lit(PII_IPV4), 0)).alias("n_ips"),
            F.size(F.regexp_extract_all(dirty, F.lit(PII_PHONE), 0)).alias("n_phones"),
            F.md5(scrubbed.cast("binary")).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


PII_SCRUB_SQL = f"""
WITH dirty AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com now'
           WHEN doc_id % 3 = 1 THEN ' from host 10.0.' || (doc_id % 256) || '.7 logged'
           ELSE ' call 555-01' || lpad(CAST(doc_id % 10 AS VARCHAR), 1, '0')
                || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{PII_IPV4}')) AS INT) AS n_ips,
       CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
           '{PII_EMAIL}', '<EMAIL>', 'g'),
           '{PII_IPV4}', '<IP>', 'g'),
           '{PII_PHONE}', '<PHONE>', 'g')) AS clean_md5
FROM dirty
ORDER BY doc_id
"""


def _ngram_hashes_all(th, n: int):
    """ALL word n-grams (with repeats — repetition is the signal here)
    as 64-bit tuple hashes over pre-hashed tokens, empty array below n
    tokens. Distinct-counting these equals distinct-counting the
    space-joined gram strings the oracle builds: tokens contain no
    spaces (split on the normalized single space), so joined-string
    equality == token-tuple equality exactly, and ``xxhash64`` over the
    n token hashes equals tuple equality up to a 2^-64 collision (the
    same accepted posture as dedup's hashed shingle sets). Counting
    distinct longs instead of allocating one string per gram measured
    2.6× faster for repetition_metrics at sf0.1 (2.60 s → 0.98 s,
    noop-sink min-of-2; outputs identical on the full corpus, r13)."""
    joined = F.transform(
        F.sequence(F.lit(0), F.size(th) - n),
        lambda i: F.xxhash64(*[F.element_at(th, i + 1 + j) for j in range(n)]),
    )
    return F.when(F.size(th) >= n, joined).otherwise(F.array().cast("array<bigint>"))


def repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher/RefinedWeb-style
    quality filters): duplicate-token fraction and duplicate 3-/5-gram
    fractions (1 − distinct/total). High values mark boilerplate, looped
    generation, and template spam — standard removal criteria for
    training corpora. Pure JVM array expressions, zero shuffle.

    The token array is projected ONCE behind an alias before the n-gram
    lambdas touch it: built inline, CollapseProject inlines the full
    split(regexp_replace(...)) tree into the per-element slice lambda
    and the tokenizer re-runs per n-gram per row (~2×|tokens| regexp
    passes over the whole text — measured 40.6s at sf0.1; the winnow
    kernel's documented pathology). The alias is referenced >1 time and
    is not cheap, so CollapseProject keeps the projection boundary:
    one tokenize per row, 40.6s → ~0.9s, same plan shape otherwise.
    The gram dup-fractions count distinct 64-bit tuple hashes over
    once-hashed tokens instead of allocating one string per gram — see
    ``_ngram_hashes_all`` for the exact-equivalence argument and the
    measured 2.6× (r13)."""
    docs = load_table(spark, "documents", sf_dir)
    base = docs.select("doc_id", X.tokens(F.col("text")).alias("toks")).select(
        "doc_id",
        "toks",
        F.transform(F.col("toks"), lambda t: F.xxhash64(t)).alias("th"),
    )
    toks = F.col("toks")
    th = F.col("th")

    def dup_frac(arr):
        return F.when(
            F.size(arr) > 0,
            F.round(
                1 - F.size(F.array_distinct(arr)).cast("double") / F.size(arr), 4
            ),
        ).otherwise(F.lit(0.0))

    return (
        base.select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            dup_frac(toks).alias("dup_token_frac"),
            dup_frac(_ngram_hashes_all(th, 3)).alias("dup_3gram_frac"),
            dup_frac(_ngram_hashes_all(th, 5)).alias("dup_5gram_frac"),
        )
        .orderBy("doc_id")
    )


REPETITION_SQL = """
WITH d AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= 3
              THEN list_transform(range(1, len(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
              ELSE [] END AS g3,
         CASE WHEN len(toks) >= 5
              THEN list_transform(range(1, len(toks) - 3),
                                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                       || ' ' || toks[i+3] || ' ' || toks[i+4])
              ELSE [] END AS g5
  FROM d
)
SELECT doc_id,
       len(toks) AS n_tokens,
       CASE WHEN len(toks) > 0
            THEN ROUND(1 - len(list_distinct(toks)) * 1.0 / len(toks), 4)
            ELSE 0.0 END AS dup_token_frac,
       CASE WHEN len(g3) > 0
            THEN ROUND(1 - len(list_distinct(g3)) * 1.0 / len(g3), 4)
            ELSE 0.0 END AS dup_3gram_frac,
       CASE WHEN len(g5) > 0
            THEN ROUND(1 - len(list_distinct(g5)) * 1.0 / len(g5), 4)
            ELSE 0.0 END AS dup_5gram_frac
FROM g
ORDER BY doc_id
"""


# Data-mixture sampling rates per language stratum (the "how much of each
# source goes into the training mix" knob). Rates quantize to 1/65536 via
# a 4-hex-digit md5-prefix threshold so both engines decide each row
# identically — deterministic, reproducible sampling, unlike rand().
MIXTURE_RATES = {"en": 0.25, "de": 1.0, "es": 0.5, "fr": 0.75, "zh": 0.1}


def _hex_threshold(rate: float) -> str:
    return format(min(int(rate * 65536), 65535), "04x")


def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified (per-language) sampling — the data-mixing
    step of a training pipeline: each document keeps or drops based on a
    content-independent hash of its id against its stratum's rate
    (md5-prefix < threshold), so the sample is reproducible across runs,
    engines, and cluster layouts, and composable (re-running with a
    higher rate yields a superset). Emits per-stratum kept/total counts
    plus the achieved rate; zero shuffle except the final tiny agg."""
    docs = load_table(spark, "documents", sf_dir)
    h = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4)
    thr = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(_hex_threshold(r)))
            for lang, r in sorted(MIXTURE_RATES.items())
        ],
        F.lit("ffff"),
    )
    return (
        docs.select("lang", (h < thr).cast("int").alias("kept"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            F.round(F.sum("kept") / F.count(F.lit(1)), 4).alias("achieved_rate"),
        )
        .orderBy("lang")
    )


_mix_cases = " ".join(
    f"WHEN lang = '{lang}' THEN '{_hex_threshold(r)}'"
    for lang, r in sorted(MIXTURE_RATES.items())
)

STRATIFIED_SAMPLE_SQL = f"""
WITH flagged AS (
  SELECT lang,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   < (CASE {_mix_cases} ELSE 'ffff' END)
              THEN 1 ELSE 0 END AS kept
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_total,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       ROUND(SUM(kept) * 1.0 / COUNT(*), 4) AS achieved_rate
FROM flagged
GROUP BY lang
ORDER BY lang
"""


TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k TF-IDF terms: explode tokens → (doc, term)
    counts → document frequencies → tf·ln(N/df) → per-doc window top-k
    with deterministic (rounded-score desc, term asc) ranking. The
    distributed shape is two hash aggregations + one broadcast of the
    (term, df) table's join back onto term counts — no all-pairs stage;
    at 100 TB the df table is the only corpus-global state and it is
    |vocabulary|-sized."""
    docs = load_table(spark, "documents", sf_dir)
    terms = docs.select(
        "doc_id", F.explode(X.tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    # (doc, term) counts feed both the df aggregation and the score join
    # — cached (MEMORY_AND_DISK) so the corpus tokenize+explode runs
    # once; recompute would cost a full second corpus pass
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")).transform(scache)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("score"), 6).desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", F.round("score", 4).alias("tfidf"), "rk")
        .orderBy("doc_id", "rk")
    )


TFIDF_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms WHERE term <> '' GROUP BY 1, 2
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         tf.tf * ln(CAST(n_docs AS DOUBLE) / dfreq.df) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, df, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY ROUND(score, 6) DESC, term ASC) AS rk
  FROM scored
)
SELECT doc_id, term, tf, df, ROUND(score, 4) AS tfidf, rk
FROM ranked WHERE rk <= {TFIDF_TOP_K}
ORDER BY doc_id, rk
"""


# ---------------------------------------------------------------------------
# BM25 keyword search
# ---------------------------------------------------------------------------

BM25_TERMS = ("spark", "vector", "merge")  # the keyword query
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked keyword search (Lucene's idf variant:
    ln(1 + (N - df + 0.5)/(df + 0.5))) for a fixed term set. Distributed
    shape: explode → filter to query terms BEFORE any shuffle (the
    vocabulary-sized stream collapses to |query| terms immediately), one
    (doc, term) count aggregation, a broadcast of the tiny (term, df) and
    (N, avgdl) scalars, then a per-doc score sum and global top-k.
    Corpus-global state is |query|-sized — nothing here grows with the
    100 TB side except the two passes over it.

    r13: the tf branch carries ``dl = size(t)`` through its aggregation
    (dl is constant per doc, so it rides the group key) instead of
    re-deriving a lens frame from a THIRD corpus tokenize and
    shuffle-joining it back on doc_id — corpus passes 3 → 2 (the
    remaining two: the |query|-filtered tf stream and the 1-row
    (N, avgdl) reduction) and the doc_id exchange disappears. Same dl
    values, same join rows (every tf doc exists in lens), identical
    scores. tf is scratch-cached (matched-docs × |query| rows — tiny)
    because both dfreq and the score join read it; uncached, the dfreq
    branch re-ran the full corpus tokenize."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", X.tokens(F.col("text")).alias("t"))
    stats = toks.select(F.size("t").alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.select("doc_id", F.size("t").alias("dl"), F.explode("t").alias("term"))
        .filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(scache)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("w"), 4).alias("bm25"),
            F.count(F.lit(1)).alias("n_matched_terms"),
        )
    )
    from pyspark.sql import Window

    # orderBy+limit FIRST so the plan is TakeOrderedAndProject (per-
    # partition top-k + tiny merge), then rank the k survivors — a global
    # row_number window over all scored docs would funnel the whole
    # corpus through one partition.
    top = scored.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(
        BM25_TOP_K
    )
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    return (
        top.withColumn("rk", F.row_number().over(w))
        .select("rk", "doc_id", "bm25", "n_matched_terms")
        .orderBy("rk")
    )


BM25_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
lens AS (SELECT doc_id, len(t) AS dl FROM toks),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
  WHERE term IN {BM25_TERMS!r}
  GROUP BY 1, 2
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         ROUND(SUM(
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * ({BM25_K1} + 1))
           / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * lens.dl / stats.avgdl))
         ), 4) AS bm25,
         COUNT(*) AS n_matched_terms
  FROM tf
  JOIN dfreq USING (term)
  JOIN lens ON tf.doc_id = lens.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rk,
       doc_id, bm25, n_matched_terms
FROM scored
QUALIFY rk <= {BM25_TOP_K}
ORDER BY rk
"""


def lm_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram language-model scoring: train unigram-normalized
    bigram probabilities P(w2|w1) = C(w1 w2)/C(w1·) on the corpus itself,
    then score each document by its average negative log-prob and
    perplexity — the statistical quality filter (gibberish and boilerplate
    score high-NLL / low-NLL outliers respectively). Distributed shape:
    one explode → one (w1, w2) count agg + one w1-marginal agg (both
    |vocab²|-bounded) → per-doc average. The model-table broadcasts are
    SIZE-GATED (gdpr_erasure_audit / kcore pattern): bigram/unigram
    vocabularies grow with the corpus (Heaps' law — unbounded at
    100 TB), so the tables are cached, counted, and broadcast-hinted
    only under the session threshold — a static hint spares the
    corpus-sized gram stream AQE's pre-conversion shuffle write
    (measured ~1.5× on this query at sf0.1); past the ceiling both
    joins degrade to key-partitioned shuffles on (w1, w2) / w1. Prune
    to top-K bigrams + add-k smoothing when vocab explodes (noted, not
    needed here)."""
    docs = load_table(spark, "documents", sf_dir)
    toks = X.tokens(F.col("text"))
    bigrams = F.expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"
    )
    grams = (
        docs.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select("doc_id", F.explode(bigrams).alias("g"))
        .select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    )
    pair_c = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")).transform(scache)
    # the w1 marginal is exactly the bigram counts re-summed — C(w1·) =
    # Σ_w2 C(w1,w2) — so derive it from the (vocab²-bounded, cached) pair
    # table instead of re-exploding the corpus (guide §2.4: one fewer
    # full pass; values identical, sums of the same longs)
    left_c = pair_c.groupBy("w1").agg(F.sum("c12").alias("c1")).transform(scache)
    # two short strings + a long ≈ 40 data bytes + hashed-relation overhead
    pair_side = F.broadcast(pair_c) if fits_broadcast(spark, pair_c.count(), 80) else pair_c
    left_side = F.broadcast(left_c) if fits_broadcast(spark, left_c.count(), 64) else left_c
    return (
        grams.join(pair_side, ["w1", "w2"])
        .join(left_side, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg(F.log(F.col("c12") / F.col("c1"))), 4).alias("nll"),
            F.round(F.exp(-F.avg(F.log(F.col("c12") / F.col("c1")))), 4).alias("ppl"),
        )
        .orderBy("doc_id")
    )


LM_PPL_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, u.w1, u.w2
  FROM toks, LATERAL (
    SELECT UNNEST(list_transform(range(1, len(t)), i -> {'w1': t[i], 'w2': t[i+1]}), recursive := true)
  ) AS u(w1, w2)
  WHERE len(t) >= 2
),
pair_c AS (SELECT w1, w2, COUNT(*) AS c12 FROM grams GROUP BY 1, 2),
left_c AS (SELECT w1, COUNT(*) AS c1 FROM grams GROUP BY 1)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(-AVG(ln(c12 * 1.0 / c1)), 4) AS nll,
       ROUND(exp(-AVG(ln(c12 * 1.0 / c1))), 4) AS ppl
FROM grams JOIN pair_c USING (w1, w2) JOIN left_c USING (w1)
GROUP BY doc_id
ORDER BY doc_id
"""


def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining via pointwise mutual information: for bigrams
    seen ≥5 times, PMI = ln(P(w1,w2) / (P(w1·)·P(·w2))) with the
    positional marginals and the corpus bigram total N. Three counting
    aggregations over one exploded bigram stream. The marginal joins
    carry NO broadcast hint — vocabularies grow with the corpus (Heaps'
    law), and the joins are co-keyed on w1 / w2, so AQE broadcasts the
    marginals while small and shuffle-joins beyond the threshold; only
    the 1-row total keeps its hint. The classic phrase-detection pass
    (word2vec preprocessing) at any scale."""
    docs = load_table(spark, "documents", sf_dir)
    toks = X.tokens(F.col("text"))
    bigrams = F.expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"
    )
    grams = (
        docs.select(toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select(F.explode(bigrams).alias("g"))
        .select(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    ).transform(scache)
    # NOTE (r13, measured): deriving the marginals from a CACHED pair_c
    # (C(w1·) = Σ_w2 C(w1,w2)) was tried and REJECTED — at this corpus's
    # bigram duplication level the pair table is near stream-sized, so
    # caching it after its wide shuffle cost more than re-aggregating the
    # cached gram stream (interleaved min-of-4: 0.45 s → 1.12 s). Revisit
    # only when measured duplication makes |pair_c| ≪ |grams| (the same
    # derivation IS kept in lm_perplexity_score, whose gram stream was
    # never cached — there it removes a full corpus re-explode).
    pair_c = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    left_c = grams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    right_c = grams.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    total = grams.agg(F.count(F.lit(1)).alias("n_total"))
    pmi = F.log(
        (F.col("c12") / F.col("n_total"))
        / ((F.col("c1") / F.col("n_total")) * (F.col("c2") / F.col("n_total")))
    )
    return (
        pair_c.filter(F.col("c12") >= 5)
        .join(left_c, "w1")
        .join(right_c, "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", "c12", F.round(pmi, 4).alias("pmi"))
        .orderBy("w1", "w2")
    )


COLLOCATION_PMI_SQL = """
WITH toks AS (
  SELECT string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
grams AS (
  SELECT u.w1, u.w2
  FROM toks, LATERAL (
    SELECT UNNEST(list_transform(range(1, len(t)), i -> {'w1': t[i], 'w2': t[i+1]}), recursive := true)
  ) AS u(w1, w2)
  WHERE len(t) >= 2
),
pair_c AS (SELECT w1, w2, COUNT(*) AS c12 FROM grams GROUP BY 1, 2),
left_c AS (SELECT w1, COUNT(*) AS c1 FROM grams GROUP BY 1),
right_c AS (SELECT w2, COUNT(*) AS c2 FROM grams GROUP BY 1),
total AS (SELECT COUNT(*) AS n_total FROM grams)
SELECT w1, w2, c12,
       ROUND(ln((c12 * 1.0 / n_total) / ((c1 * 1.0 / n_total) * (c2 * 1.0 / n_total))), 4) AS pmi
FROM pair_c JOIN left_c USING (w1) JOIN right_c USING (w2), total
WHERE c12 >= 5
ORDER BY w1, w2
"""


def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus term distribution: regress
    ln(frequency) on ln(rank) over the top 1000 terms (rank by frequency
    desc, term asc — total order). A natural corpus is near slope −1;
    synthetic or heavily-duplicated corpora deviate, making the slope a
    one-number corpus health check. One count agg + one 1000-row window
    + `regr_slope`/`regr_intercept` — all JVM built-ins."""
    docs = load_table(spark, "documents", sf_dir)
    freq = (
        docs.select(F.explode(X.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(1000)
    )
    from pyspark.sql import Window

    ranked = freq.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("c"), "w"))
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope(F.log("c"), F.log("rank")), 4).alias("slope"),
        F.round(F.regr_intercept(F.log("c"), F.log("rank")), 4).alias("intercept"),
    )


ZIPF_SQL = """
WITH freq AS (
  SELECT w, COUNT(*) AS c
  FROM (
    SELECT UNNEST(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
    FROM documents
  )
  GROUP BY w
  ORDER BY c DESC, w
  LIMIT 1000
),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rank FROM freq
)
SELECT COUNT(*) AS n_terms,
       ROUND(regr_slope(ln(c), ln(rank)), 4) AS slope,
       ROUND(regr_intercept(ln(c), ln(rank)), 4) AS intercept
FROM ranked
"""


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per document — the classic gibberish /
    encoded-blob detector (natural English sits near 4.1 bits/char;
    base64 blobs near 6, repeated boilerplate far lower). Two shuffles,
    both keyed on doc_id (char-count then entropy-sum), so documents
    spread evenly at any corpus size; the char explode is bounded by
    document length."""
    docs = load_table(spark, "documents", sf_dir)
    chars = docs.select("doc_id", F.explode(F.split(F.col("text"), "")).alias("c")).filter(
        F.col("c") != ""
    )
    from pyspark.sql import Window

    counts = chars.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.withColumn("t", F.sum("n").over(Window.partitionBy("doc_id")))
    p = F.col("n") / F.col("t")
    return (
        tot.groupBy("doc_id")
        .agg(
            F.max("t").alias("n_chars"),
            F.round(-F.sum(p * F.log2(p)), 4).alias("entropy_bits"),
        )
        .orderBy("doc_id")
    )


CHAR_ENTROPY_SQL = """
WITH chars AS (
  SELECT doc_id, UNNEST(string_split(text, '')) AS c FROM documents
),
counts AS (
  SELECT doc_id, c, COUNT(*) AS n FROM chars WHERE c <> '' GROUP BY doc_id, c
),
tot AS (
  SELECT doc_id, c, n, SUM(n) OVER (PARTITION BY doc_id) AS t FROM counts
)
SELECT doc_id, CAST(MAX(t) AS BIGINT) AS n_chars,
       ROUND(-SUM((n * 1.0 / t) * log2(n * 1.0 / t)), 4) AS entropy_bits
FROM tot
GROUP BY doc_id
ORDER BY doc_id
"""


INV_POSTINGS_CAP = 10  # postings sample per term in the output


def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the inverted index (term → document/position postings)
    — the build step behind bm25_search, exposed as its own operator:
    per term, document frequency, total term frequency, and a bounded
    deterministic sample of the first INV_POSTINGS_CAP postings in
    (doc_id, pos) order.

    Scale shape (r13, guide §2.2/§2.3): the raw posting stream NEVER
    crosses an exchange — a (term, doc_id) aggregate collapses each
    doc's positions map-side (docs are partition-local, so the partial
    agg completes before the shuffle), keeping only the first cap
    positions per doc. The ranking window then orders one row per
    (term, doc) instead of one per POSTING — the global first-cap
    postings by (doc_id, pos) live entirely inside the cap
    smallest-doc_id rows, each of which kept ≥ the positions the
    global sample can need. df/tf become plain count/sum over the
    collapsed rows (no two-phase countDistinct), and per-term aggregate
    state stays ≤ cap² sample strings — no task ever materializes a
    full posting list, the classic skew trap of index builds where
    stopword terms have |corpus| postings."""
    docs = load_table(spark, "documents", sf_dir)
    postings = docs.select(
        "doc_id", F.posexplode(X.tokens(F.col("text"))).alias("pos", "term")
    ).filter(F.col("term") != "")
    per_doc = postings.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf_d"),
        F.slice(F.array_sort(F.collect_list("pos")), 1, INV_POSTINGS_CAP).alias(
            "pos_c"
        ),
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    fmt_c = F.transform(
        F.col("pos_c"),
        lambda p: F.format_string("%06d:%04d", F.col("doc_id"), p),
    )
    return (
        per_doc.withColumn("rk", F.row_number().over(w))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf_d").alias("tf"),
            F.concat_ws(
                " ",
                F.slice(
                    F.array_sort(
                        F.flatten(
                            F.collect_list(
                                F.when(F.col("rk") <= INV_POSTINGS_CAP, fmt_c)
                            )
                        )
                    ),
                    1,
                    INV_POSTINGS_CAP,
                ),
            ).alias("postings_sample"),
        )
        .orderBy("term")
    )


INVERTED_INDEX_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
), post0 AS (
  SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) - 1 AS pos
  FROM tok
), post AS (
  SELECT doc_id, term, pos FROM post0 WHERE term <> ''
), ranked AS (
  SELECT term, doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id, pos) AS rk
  FROM post
)
SELECT term,
       COUNT(DISTINCT doc_id) AS df,
       COUNT(*) AS tf,
       array_to_string(
         list_sort(list(printf('%06d:%04d', doc_id, pos)) FILTER (WHERE rk <= {INV_POSTINGS_CAP})),
         ' ') AS postings_sample
FROM ranked
GROUP BY term
ORDER BY term
"""


# ---------------------------------------------------------------------------
# BPE merge candidates (the first byte-pair-encoding iteration)


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training: count every
    adjacent character pair inside every (lowercased, whitespace-split)
    word across the corpus and rank the top-20 merge candidates — the
    pair a real trainer would fuse into a new symbol. Pairs are
    generated JVM-side with ``transform(sequence(...), i ->
    substring(word, i, 2))`` — higher-order functions, no UDF, no
    Python.

    Scale: a zero-shuffle flatMap (words → pairs) followed by one
    groupBy(pair) count — the vocabulary of 2-grams is alphabet², so the
    shuffle is tiny no matter the corpus; map-side partials absorb the
    volume. Subsequent BPE iterations re-run the same plan over the
    re-symbolized corpus."""
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "pair")
        .limit(20)
    )


BPE_MERGE_SQL = """
WITH words AS (
  SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
  FROM documents
), pairs AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                               i -> substring(w, i, 2))) AS pair
  FROM words WHERE length(w) >= 2
)
SELECT pair, COUNT(*) AS freq
FROM pairs
GROUP BY pair
ORDER BY freq DESC, pair
LIMIT 20
"""


QUERIES = {
    "text_quality_metrics": text_quality_metrics,
    "lang_id_heuristic": lang_id_heuristic,
    "doc_fingerprint": doc_fingerprint,
    "winnow_fingerprint_pairs": winnow_fingerprint_pairs,
    "text_length_histogram": text_length_histogram,
    "text_pii_scrub": text_pii_scrub,
    "repetition_metrics": repetition_metrics,
    "stratified_sample_documents": stratified_sample_documents,
    "tfidf_top_terms": tfidf_top_terms,
    "quality_filter_pipeline": quality_filter_pipeline,
    "bm25_search": bm25_search,
    "lm_perplexity_score": lm_perplexity_score,
    "collocation_pmi": collocation_pmi,
    "zipf_slope": zipf_slope,
    "char_entropy": char_entropy,
    "inverted_index_postings": inverted_index_postings,
    "bpe_merge_candidates": bpe_merge_candidates,
    "lang_id_confusion": lang_id_confusion,
}

ORACLES = {
    "bpe_merge_candidates": BPE_MERGE_SQL,
    "lang_id_confusion": LANG_CONFUSION_SQL,
    "lm_perplexity_score": LM_PPL_SQL,
    "collocation_pmi": COLLOCATION_PMI_SQL,
    "zipf_slope": ZIPF_SQL,
    "char_entropy": CHAR_ENTROPY_SQL,
    "quality_filter_pipeline": QUALITY_FILTER_SQL,
    "bm25_search": BM25_SQL,
    "repetition_metrics": REPETITION_SQL,
    "stratified_sample_documents": STRATIFIED_SAMPLE_SQL,
    "tfidf_top_terms": TFIDF_SQL,
    "text_quality_metrics": TEXT_QUALITY_SQL,
    "lang_id_heuristic": LANG_ID_SQL,
    "doc_fingerprint": DOC_FINGERPRINT_SQL,
    "text_length_histogram": TEXT_LEN_HIST_SQL,
    "text_pii_scrub": PII_SCRUB_SQL,
    "inverted_index_postings": INVERTED_INDEX_SQL,
    "winnow_fingerprint_pairs": _winnow_oracle_sql(),
}
