"""Statistical-modeling operators the reference's downstream consumers run
over a converted columnar store (SURVEY.md §2.2 lists the reference itself
has none — its README delegates querying to the un-vendored ``frame``):

- grouped ordinary-least-squares regression (built-in ``regr_*`` aggregates),
- RFM (recency / frequency / monetary) customer segmentation,
- Pareto 80/20 cumulative-contribution analysis,
- Misra-Gries heavy hitters: a real mergeable sketch pass + exact verify,
- CUSUM changepoint detection via a prefix-sum/running-min identity,
- equi-width numeric histogram (data-derived broadcast bounds),
- mergeable per-partition quantile summaries (GK/KLL-style, O(K) state),
- count-min sketch point-frequency estimates (linear merge, audited
  never-undercount / bounded-overcount guarantees).

Scale posture notes are per-operator; the common theme is that every
full-table pass is a single shuffle-free scan + one keyed aggregation, and
the only global windows run over already-aggregated dimension-sized frames
(customers, parts), never over fact rows.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import pandas_udf

from collimate_spark.catalog import load_table
from collimate_spark.scratch import scache


# ---------------------------------------------------------------------------
# Grouped OLS regression


def regr_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS of extendedprice on quantity using the built-in
    ``regr_slope/regr_intercept/regr_r2`` aggregates (JVM-side, one partial
    agg + one final agg — the same two-phase plan as any SUM). No Python,
    no second pass: Spark's regr_* maintain the (n, Σx, Σy, Σxx, Σxy, Σyy)
    moment sketch per group, which is mergeable and skew-immune."""
    li = load_table(spark, "lineitem", sf_dir)
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.regr_slope(y, x), 4).alias("slope"),
            F.round(F.regr_intercept(y, x), 4).alias("intercept"),
            F.round(F.regr_r2(y, x), 4).alias("r2"),
            F.round(F.corr(y, x), 4).alias("pearson_r"),
        )
        .orderBy("l_returnflag")
    )


REGR_PRICE_TREND_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n,
       ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       ROUND(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
       ROUND(corr(l_extendedprice, l_quantity), 4) AS pearson_r
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# RFM segmentation


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM: per customer, days since last order (vs the corpus max
    date), order count, total spend; then quartile each dimension with
    ``ntile(4)`` and emit the three-digit segment.

    Scale: the fact scan is one groupBy(o_custkey) — shuffle on a
    high-cardinality key. The global max date joins in via
    crossJoin(broadcast(1-row agg)), NOT an empty-partition window over
    facts. The ntile windows are global total orders, but they run over the
    per-CUSTOMER frame (|customers| ≈ |facts| / 10²…10³); at 100 TB swap
    them for approx_percentile-derived bucket thresholds — documented
    trade: exact rank vs one single-task sort of the dimension."""
    orders = load_table(spark, "orders", sf_dir)
    # customer-grain (dimension-sized) and referenced twice: the corpus
    # max date is the max of the per-customer maxes (groups partition the
    # rows, max is associative), so deriving it from the cached frame
    # drops the second fact scan
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    ).transform(scache)
    global_max = per_cust.agg(F.max("last_order").alias("max_date"))
    rfm = per_cust.crossJoin(F.broadcast(global_max)).withColumn(
        "recency_days", F.datediff("max_date", "last_order")
    )
    # ties broken by custkey -> total order -> identical ntile on any engine
    w_r = Window.orderBy(F.col("recency_days").asc(), F.col("o_custkey").asc())
    w_f = Window.orderBy(F.col("frequency").desc(), F.col("o_custkey").asc())
    w_m = Window.orderBy(F.col("monetary").desc(), F.col("o_custkey").asc())
    return (
        rfm.select(
            "o_custkey",
            "recency_days",
            "frequency",
            "monetary",
            F.ntile(4).over(w_r).alias("r_quartile"),
            F.ntile(4).over(w_f).alias("f_quartile"),
            F.ntile(4).over(w_m).alias("m_quartile"),
        )
        .withColumn(
            "segment",
            F.concat_ws("", F.col("r_quartile"), F.col("f_quartile"), F.col("m_quartile")),
        )
        .orderBy("o_custkey")
    )


RFM_SEGMENTATION_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(MAX(o_orderdate) AS DATE) AS last_order,
         COUNT(*) AS frequency,
         ROUND(SUM(o_totalprice), 2) AS monetary
  FROM orders
  GROUP BY o_custkey
), g AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS max_date FROM orders),
rfm AS (
  SELECT o_custkey, date_diff('day', last_order, max_date) AS recency_days,
         frequency, monetary
  FROM per_cust, g
)
SELECT o_custkey, recency_days, frequency, monetary,
       NTILE(4) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_quartile,
       NTILE(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_quartile,
       NTILE(4) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_quartile,
       CAST(NTILE(4) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS VARCHAR) ||
       CAST(NTILE(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS VARCHAR) ||
       CAST(NTILE(4) OVER (ORDER BY monetary DESC, o_custkey ASC) AS VARCHAR) AS segment
FROM rfm
ORDER BY o_custkey
"""


# ---------------------------------------------------------------------------
# Pareto / cumulative contribution


def pareto_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/20 analysis: revenue per part, cumulative share in descending
    revenue order, and the flag for the prefix that reaches 80%.

    The fact pass is one groupBy(l_partkey). The cumulative window is a
    global total order — but over the per-PART aggregate (dimension-sized);
    the total joins in as a broadcast 1-row agg, not a second global
    window. Ties broken by partkey so the running sum is deterministic.

    Sums run in DECIMAL(18,2): per-part revenue sums land on half-cent
    boundaries where a parallel double reduction rounds differently per
    engine (observed at sf0.01); decimal partial aggregation is exact and
    association-free, so any plan produces the identical cumulative sum.

    r13: per_part is scratch-cached — it feeds BOTH the ranking stream
    and the 1-row total, and uncached the plan scanned + aggregated the
    fact table twice (two FileScans in the before-plan). The cached
    frame is dimension-sized (|parts| rows). Min-of-4: 1.522 → see
    OPTIMIZATION_r13.md."""
    li = load_table(spark, "lineitem", sf_dir)
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    per_part = li.groupBy("l_partkey").agg(F.sum(rev).alias("rev_d")).transform(scache)
    total = per_part.agg(F.sum("rev_d").cast("double").alias("total_revenue"))
    w = Window.orderBy(F.col("rev_d").desc(), F.col("l_partkey").asc())
    return (
        per_part.crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            # round the DECIMAL (exact HALF_UP both engines), THEN cast:
            # ROUND(double, 2) disagrees across engines at exact half-cents
            F.round(F.col("rev_d"), 2).cast("double").alias("revenue"),
            F.round(
                F.sum("rev_d").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double")
                / F.col("total_revenue"),
                6,
            ).alias("cum_share"),
        )
        .withColumn("in_top80", (F.col("cum_share") <= 0.8).cast("int"))
        .orderBy(F.col("revenue").desc(), F.col("l_partkey").asc())
    )


PARETO_REVENUE_SHARE_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_d
  FROM lineitem
  GROUP BY l_partkey
), t AS (SELECT CAST(SUM(rev_d) AS DOUBLE) AS total_revenue FROM per_part)
SELECT l_partkey,
       CAST(ROUND(rev_d, 2) AS DOUBLE) AS revenue,
       ROUND(CAST(SUM(rev_d) OVER (ORDER BY rev_d DESC, l_partkey ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) / total_revenue, 6) AS cum_share,
       CAST(ROUND(CAST(SUM(rev_d) OVER (ORDER BY rev_d DESC, l_partkey ASC
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS DOUBLE) / total_revenue, 6) <= 0.8 AS INT) AS in_top80
FROM per_part, t
ORDER BY revenue DESC, l_partkey ASC
"""


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (sketch + exact verify)

# One tokenizer for every path that must agree: the Python sketch
# kernels (MG, count-min), the Spark exact-truth passes
# (F.split(lower(text), r"\s+") — Java regex \s is the ASCII class
# [ \t\n\x0b\f\r], NOT Python's unicode \s), and the DuckDB oracles
# (regexp_split_to_array '\s+'). Python str.split() also breaks on
# \x1c-\x1f and \x85, which would silently diverge from the other two
# on any non-ASCII whitespace in documents (ADVICE r6).
_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _tokenize(text: str) -> list[str]:
    return [w for w in _ASCII_WS.split(text.lower()) if w]


MG_COUNTERS = 30  # < vocab size, so the sketch genuinely evicts
HH_PHI = 1.0 / 30.0  # phi-heavy-hitter threshold: freq > phi * N


def _batch_token_counts(pdf) -> dict[str, int]:
    """Exact token counts for one Arrow batch — one dict increment per
    token instead of per-token downstream work. The r11 fourth-decade
    probe measured the per-token-md5 variant of _cm_partition at ~40 min
    per pass over 50M docs (32 Python workers pegged, JVM idle in epoll);
    batch-counting first bounds every expensive per-token step to the
    batch-DISTINCT vocabulary. State is batch-local, so the kernels'
    bounded cross-batch state guarantees are untouched."""
    counts: dict[str, int] = {}
    for text in pdf["text"]:
        for w in _tokenize(text):
            counts[w] = counts.get(w, 0) + 1
    return counts


def _mg_partition(pdfs) -> "pd.DataFrame":
    """Per-partition Misra-Gries summary with MG_COUNTERS counters.

    Guarantee: any item with partition frequency > n_p / MG_COUNTERS
    survives with estimate >= freq - n_p / MG_COUNTERS; the union of
    per-partition survivors is therefore a superset of the global
    phi-heavy-hitters whenever phi >= 1/MG_COUNTERS. Emits <= MG_COUNTERS
    rows per partition — constant-size output regardless of input size,
    which is the whole point of sketching at 100 TB.

    Batches are folded in via the mergeable-summaries MG merge (Agarwal
    et al., PODS'12): add the batch's exact counts, then subtract the
    (K+1)-th largest counter from all and drop non-positives. The error
    bound telescopes (total decrement <= n_p/(K+1)), so the superset
    guarantee above is identical to the one-token-at-a-time schedule —
    and heavy_hitters_words only consumes the candidate WORD SET (its
    exact verify pass recomputes frequencies), so the output is
    bit-identical regardless of eviction schedule."""
    counters: dict[str, int] = {}
    for pdf in pdfs:
        for w, c in _batch_token_counts(pdf).items():
            counters[w] = counters.get(w, 0) + c
        if len(counters) > MG_COUNTERS:
            kth = sorted(counters.values(), reverse=True)[MG_COUNTERS]
            counters = {w: c - kth for w, c in counters.items() if c > kth}
    if counters:
        yield pd.DataFrame({"word": list(counters), "est": list(counters.values())})


def heavy_hitters_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phi-heavy-hitter words (freq > N/30) via a two-phase
    sketch-then-verify plan:

    1. mapInPandas Misra-Gries per partition -> <= 30 (word, est) rows per
       task, merged by one tiny groupBy. Candidates are a guaranteed
       superset of the true heavy hitters (see _mg_partition).
    2. Exact verify: one explode+count pass over the corpus, inner-joined
       to the broadcast candidate set, filtered by the exact threshold.

    The verify pass makes the result exact (hence DuckDB-oracled); the
    sketch pass is what survives 100 TB — candidate cardinality is bounded
    by 30 x #partitions, so the broadcast join prunes the exact count to a
    handful of keys instead of the full vocabulary."""
    docs = load_table(spark, "documents", sf_dir)
    candidates = (
        docs.select("text")
        .mapInPandas(_mg_partition, "word string, est long")
        .groupBy("word")
        .agg(F.sum("est").alias("est"))
        .select("word")
    )
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    # Exact verify AND total word count from ONE explode pass: LEFT join
    # the word stream to the broadcast candidates and group by the
    # MATCHED key — non-candidates collapse into the NULL group, so the
    # total is the sum over all groups (identical to counting the
    # exploded stream directly) while each candidate's group count is
    # exactly the inner-join freq. Map-side partial aggregation bounds
    # the shuffle at |candidates|+1 rows per task, same as before; the
    # former separate row-local size() total pass (a third corpus scan)
    # is gone. The per-key frame is |candidates|+1 rows — cached, since
    # both the total and the filter read it.
    cand = F.broadcast(candidates.withColumnRenamed("word", "cw"))
    per_key = (
        words.join(cand, words.word == F.col("cw"), "left")
        .groupBy("cw")
        .agg(F.count(F.lit(1)).alias("freq"))
        .transform(scache)
    )
    total = per_key.agg(F.sum("freq").alias("n_total"))
    return (
        per_key.filter(F.col("cw").isNotNull())
        .crossJoin(F.broadcast(total))
        .filter(F.col("freq") > F.lit(HH_PHI) * F.col("n_total"))
        .select(
            F.col("cw").alias("word"),
            "freq",
            F.round(F.col("freq") / F.col("n_total"), 6).alias("share"),
        )
        .orderBy(F.col("freq").desc(), F.col("word"))
    )


HEAVY_HITTERS_SQL = f"""
WITH w AS (
  SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
  FROM documents
), w2 AS (SELECT word FROM w WHERE word <> ''),
t AS (SELECT COUNT(*) AS n_total FROM w2)
SELECT word, COUNT(*) AS freq,
       ROUND(COUNT(*) * 1.0 / MAX(n_total), 6) AS share
FROM w2, t
GROUP BY word
HAVING COUNT(*) > {HH_PHI!r} * MAX(n_total)
ORDER BY freq DESC, word
"""


# ---------------------------------------------------------------------------
# CUSUM changepoint detection

CUSUM_SLACK = 0.5  # k: drift allowance in sigma units
CUSUM_H = 4.0  # alarm threshold in sigma units


def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided standardized CUSUM per user series:
    ``S_i = max(0, S_{i-1} + z_i - k)``, alarms where ``S_i > h``.

    The recursion is NOT a built-in window aggregate, but it has a closed
    form: with ``d_i = z_i - k`` and prefix sums ``P_i``,
    ``S_i = P_i - min(0, min_{j<=i} P_j)`` — two window passes (running
    sum + running min), all JVM-side, partitioned by user_id. This is the
    standard trick for turning a clamp-at-zero recursion into windowed
    prefix scans; no UDF, no iteration, scale-safe on any series length."""
    ev = load_table(spark, "events", sf_dir)
    w_all = Window.partitionBy("user_id")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w_seq.rowsBetween(Window.unboundedPreceding, 0)
    scored = (
        ev.withColumn("mu", F.avg("value").over(w_all))
        .withColumn("sigma", F.stddev_samp("value").over(w_all))
        .withColumn("d", (F.col("value") - F.col("mu")) / F.col("sigma") - CUSUM_SLACK)
        .withColumn("p", F.sum("d").over(run))
        .withColumn("s", F.col("p") - F.least(F.lit(0.0), F.min("p").over(run)))
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("s") > CUSUM_H).cast("int")).alias("n_alarms"),
            F.round(F.max("s"), 4).alias("max_cusum"),
        )
        .orderBy("user_id")
    )


CUSUM_SQL = f"""
WITH scored AS (
  SELECT user_id, ts, event_id, value,
         AVG(value) OVER (PARTITION BY user_id) AS mu,
         stddev_samp(value) OVER (PARTITION BY user_id) AS sigma
  FROM events
), d AS (
  SELECT user_id, ts, event_id,
         (value - mu) / sigma - {CUSUM_SLACK!r} AS d
  FROM scored
), p AS (
  SELECT user_id, ts, event_id,
         SUM(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM d
), s AS (
  SELECT user_id,
         p - LEAST(0.0, MIN(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
  FROM p
)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(s > {CUSUM_H!r} AS INT)) AS BIGINT) AS n_alarms,
       ROUND(MAX(s), 4) AS max_cusum
FROM s
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Equi-width numeric histogram

HIST_BUCKETS = 20


def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of l_extendedprice: data-derived [min, max]
    from one broadcast 1-row agg, then a single conditional-bucket pass —
    the numeric companion to textstats.text_length_histogram. The bucket
    expression is plain floor arithmetic (identical in DuckDB, which
    lacks width_bucket), clamped so x = max lands in the last bucket.
    Two scans total regardless of scale; no shuffle except the final
    HIST_BUCKETS-row agg."""
    li = load_table(spark, "lineitem", sf_dir)
    bounds = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / HIST_BUCKETS
    bucket = F.least(
        F.floor((F.col("l_extendedprice") - F.col("lo")) / width).cast("int"),
        F.lit(HIST_BUCKETS - 1),
    )
    return (
        li.crossJoin(F.broadcast(bounds))
        .select(
            bucket.alias("bucket"),
            F.round(F.col("lo") + bucket * width, 2).alias("bucket_lo"),
            F.col("l_extendedprice").alias("x"),
        )
        .groupBy("bucket", "bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("x"), 2).alias("avg_price"),
        )
        .orderBy("bucket")
    )


PRICE_HISTOGRAM_SQL = f"""
WITH b AS (SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem),
bucketed AS (
  SELECT LEAST(CAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / {HIST_BUCKETS})) AS INT),
               {HIST_BUCKETS - 1}) AS bucket,
         lo, hi, l_extendedprice AS x
  FROM lineitem, b
)
SELECT bucket,
       ROUND(lo + bucket * ((hi - lo) / {HIST_BUCKETS}), 2) AS bucket_lo,
       COUNT(*) AS n,
       ROUND(AVG(x), 2) AS avg_price
FROM bucketed
GROUP BY bucket, lo, hi
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Mergeable quantile sketch

QS_K = 128  # samples kept per partition summary
QS_TARGETS = (0.25, 0.5, 0.75, 0.95, 0.99)


def _partition_quantile_summary(pdfs) -> "pd.DataFrame":
    """Per-partition bounded quantile summary: the K equi-rank order
    statistics of the partition plus its row count. Size is O(K) no
    matter how many rows the partition holds — the mergeable-summary
    property (this is the GK/KLL idea with the simplest possible
    compaction: one uniform rank grid per partition; merge error is
    O(1/K) per partition, additive across merges)."""
    vals = []
    n = 0
    for pdf in pdfs:
        v = pdf["value"].to_numpy(dtype="float64")
        vals.append(v)
        n += len(v)
    if n == 0:
        return
    allv = np.sort(np.concatenate(vals), kind="stable")
    idx = np.minimum((np.arange(1, QS_K + 1) * n / QS_K).astype(np.int64) - 1, n - 1)
    idx = np.maximum(idx, 0)
    yield pd.DataFrame(
        {"q": allv[idx], "w": np.full(QS_K, n / QS_K, dtype="float64")}
    )


def quantile_sketch_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quantile estimation via bounded mergeable summaries:
    each partition emits K weighted order statistics (mapInPandas), and
    the merge is a WEIGHTED-rank selection over the P×K summary rows —
    a window cum-sum over a metadata-sized frame, never a second pass
    over the data. The quantile companion to hll_sketch_partitioned:
    state per partition is O(K), so a 100 TB column summarizes in one
    scan + one tiny shuffle.

    Output contract (VERDICT r9 #5, the agg_approx_distinct audit-bits
    pattern): the partition-grid-dependent sketch PICKS never reach the
    output — instead each target percentile emits the EXACT value (both
    engines select+interpolate the identical doubles; 4dp rounding
    guards formula association) plus a bit asserting the sketch pick's
    exact rank lands within the summary's additive error envelope
    (Σ_p n_p/K = N/K ranks, audited at 3·N/K + 2 for slack between the
    uniform-grid gaps and the weighted-rank crossing). The bits are
    deterministic for ANY partition grid, so the whole row is DuckDB-
    hash-checkable; the tighter grid-specific bound stays asserted in
    tests/test_quantile_sketch.py."""
    ev = load_table(spark, "events", sf_dir)
    # P×K rows (metadata-sized) but referenced twice (the 1-row total +
    # the ranked window) — cached so the sketch kernel's events pass
    # runs once instead of once per reference
    summaries = ev.select("value").mapInPandas(
        _partition_quantile_summary, "q double, w double"
    ).transform(scache)
    w_cum = Window.orderBy("q", "w").rowsBetween(Window.unboundedPreceding, 0)
    total = summaries.agg(F.sum("w").alias("w_total"))
    ranked = summaries.crossJoin(F.broadcast(total)).withColumn(
        "cum", F.sum("w").over(w_cum)
    )
    pick_cols = [
        F.min(F.when(F.col("cum") >= F.col("w_total") * p, F.col("q"))).alias(
            f"__pick{int(p * 100):02d}"
        )
        for p in QS_TARGETS
    ]
    picks = ranked.agg(*pick_cols)
    exact_cols = [
        F.expr(f"percentile(value, {p}D)").alias(f"exact_p{int(p * 100):02d}")
        for p in QS_TARGETS
    ]
    rank_cols = [
        F.sum(
            (F.col("value") <= F.col(f"__pick{int(p * 100):02d}")).cast("long")
        ).alias(f"__rank{int(p * 100):02d}")
        for p in QS_TARGETS
    ]
    audited = ev.crossJoin(F.broadcast(picks)).agg(
        F.count(F.lit(1)).alias("n_total"), *exact_cols, *rank_cols
    )
    out_cols = [F.col("n_total")]
    for p in QS_TARGETS:
        tag = f"p{int(p * 100):02d}"
        out_cols.append(F.round(f"exact_{tag}", 4).alias(f"exact_{tag}"))
    for p in QS_TARGETS:
        num = f"{int(p * 100):02d}"
        tol = 3.0 * F.col("n_total") / QS_K + 2
        target = F.lit(p) * F.col("n_total")
        out_cols.append(
            (F.abs(F.col(f"__rank{num}") - target) <= tol)
            .cast("long")
            .alias(f"within_p{num}")
        )
    return audited.select(*out_cols)


QUANTILE_SKETCH_SQL = f"""
SELECT COUNT(*) AS n_total,
       {", ".join(f"ROUND(quantile_cont(value, {p}), 4) AS exact_p{int(p * 100):02d}" for p in QS_TARGETS)},
       {", ".join(f"CAST(1 AS BIGINT) AS within_p{int(p * 100):02d}" for p in QS_TARGETS)}
FROM events
"""


# ---------------------------------------------------------------------------
# Count-min sketch

CM_D = 4  # hash rows
CM_W = 128  # counters per row


def _cm_cols(word: str) -> list[int]:
    """All CM_D bucket columns for one word from ONE md5 digest: row r
    reads hex octet [8r, 8r+8) of the 32-hex digest (4 disjoint 32-bit
    slices of a 128-bit hash — the standard slice-one-wide-hash trick for
    k independent-enough hash rows, cf. Kirsch–Mitzenmacher). One digest
    per distinct token instead of CM_D (the r11 verdict's measured lever:
    the decade-4 cell still paid 4 md5 calls per batch-distinct token).
    md5 rather than crc32/xxhash because the bucket is reproducible in
    DuckDB as ('0x'||substr(md5(word), 1+8r, 8))::BIGINT % W — which is
    what keeps this query fully DuckDB-oracled."""
    import hashlib

    d = hashlib.md5(word.encode()).hexdigest()
    return [int(d[8 * r : 8 * r + 8], 16) % CM_W for r in range(CM_D)]


def _cm_partition(pdfs) -> "pd.DataFrame":
    """Per-partition count-min matrix as (row, col, cnt) triples — at
    most CM_D·CM_W rows per task regardless of input size. CM is LINEAR:
    the global sketch is the element-wise sum of partition sketches, so
    the merge is one tiny groupBy — the same mergeability story as the
    MG and quantile summaries, with a different guarantee (point-query
    frequency estimates: est ≥ true always, est ≤ true + εN w.h.p. for
    ε = e/W)."""
    from hashlib import md5

    M = np.zeros((CM_D, CM_W), dtype=np.int64)
    for pdf in pdfs:
        # CM is linear: adding a token's full batch count at once equals
        # adding 1 per occurrence, so hash each batch-DISTINCT token
        # exactly ONCE — one md5 digest per token, CM_D bucket columns
        # sliced from its disjoint 32-bit words. Two measured walls
        # removed in sequence: r11 killed the per-OCCURRENCE md5 (~20B
        # calls at 50M docs); this kills the remaining per-(row, token)
        # md5 (the r11 verdict's decade-4 lever for the 8.3×-growth
        # cell). The bucket math is VECTORIZED, not per-token Python:
        # one joined digest buffer → np.frombuffer big-endian uint32 —
        # byte-identical to _cm_cols's int(hexdigest[8r:8r+8], 16)
        # (hex octet r IS digest word r rendered big-endian; the
        # equivalence is pinned in tests) and 4.8× faster than the
        # per-(row, token) variant in isolation (per-token Python list
        # building gives the md5 savings straight back — measured 0.92×
        # before this form).
        counts = _batch_token_counts(pdf)
        if not counts:
            continue
        vals = np.fromiter(counts.values(), dtype=np.int64, count=len(counts))
        buf = b"".join(md5(w.encode()).digest() for w in counts)
        # 16-byte digest = CM_D (=4) big-endian uint32 words per token
        cols_all = (
            np.frombuffer(buf, dtype=">u4").reshape(len(counts), CM_D).astype(np.int64)
            % CM_W
        )
        for r in range(CM_D):
            np.add.at(M[r], cols_all[:, r], vals)
    rows, cols = np.nonzero(M)
    if len(rows):
        yield pd.DataFrame({"r": rows, "c": cols, "cnt": M[rows, cols]})


def countmin_word_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point-query estimates vs exact word frequencies: one
    sketch pass (mapInPandas, O(D·W) state per task) + one tiny merge
    groupBy, then every vocabulary word's estimate (min over D hashed
    counters, read from the broadcast 512-cell merged matrix) joins the
    exact counts for an auditable error column. The exact pass exists
    here to EXPOSE the guarantee; at 100 TB you keep only the sketch and
    answer point queries from half a kilobyte of state. CM is LINEAR, so
    the merged matrix is independent of the partition grid, and the
    md5-prefix hash is engine-portable — the whole output is therefore
    deterministic and DuckDB-oracled (COUNTMIN_SQL rebuilds the exact
    matrix relationally). The CM guarantees (no underestimate, bounded
    overestimate) are additionally asserted in
    tests/test_quantile_sketch.py."""
    docs = load_table(spark, "documents", sf_dir)
    merged = (
        docs.select("text")
        .mapInPandas(_cm_partition, "r int, c int, cnt long")
        .groupBy("r", "c")
        .agg(F.sum("cnt").alias("cnt"))
    )
    M = np.zeros((CM_D, CM_W), dtype=np.int64)
    for row in merged.collect():  # ≤ CM_D·CM_W cells: metadata, not data
        M[row["r"], row["c"]] = row["cnt"]

    truth = (
        docs.select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )

    @pandas_udf("long")
    def cm_estimate(words: pd.Series) -> pd.Series:
        return words.map(
            lambda w: int(min(M[r, c] for r, c in enumerate(_cm_cols(w))))
        )

    return (
        truth.withColumn("cm_est", cm_estimate(F.col("word")))
        .withColumn("overcount", F.col("cm_est") - F.col("freq"))
        .orderBy("word")
    )


# Relational rebuild of the identical CM matrix: row r's bucket for a
# word is hex octet [8r, 8r+8) of ONE md5 digest —
# ('0x'||substr(md5(word), 1+8r, 8))::BIGINT % W — the same slice as
# Python's int(hexdigest[8r:8r+8], 16) % W in _cm_cols, so the cell sums
# and the min-over-rows point estimates match exactly.
COUNTMIN_SQL = f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
  FROM documents
),
words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM toks WHERE word <> '' GROUP BY word
),
cells AS (
  SELECT t.r,
         ('0x' || substr(md5(word), 1 + 8 * t.r, 8))::BIGINT % {CM_W} AS c,
         SUM(freq) AS cnt
  FROM words, range({CM_D}) t(r)
  GROUP BY 1, 2
),
est AS (
  SELECT w.word, w.freq, MIN(cl.cnt) AS cm_est
  FROM words w
  CROSS JOIN range({CM_D}) t(r)
  JOIN cells cl
    ON cl.r = t.r
   AND cl.c = ('0x' || substr(md5(w.word), 1 + 8 * t.r, 8))::BIGINT % {CM_W}
  GROUP BY 1, 2
)
SELECT word, freq,
       CAST(cm_est AS BIGINT) AS cm_est,
       CAST(cm_est - freq AS BIGINT) AS overcount
FROM est
ORDER BY word
"""


# ---------------------------------------------------------------------------
# Kaplan-Meier survival (user retention with right-censoring)


def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user activity lifetimes. Per user,
    lifetime = days between first and last event; users whose last event
    falls in the final 7 days of the corpus window are right-censored
    (still active), everyone else is a churn event. At each distinct
    lifetime t: at-risk n_t (users with lifetime ≥ t), churns d_t,
    censored c_t, and S(t) = Π_{s≤t} (1 - d_s/n_s) — the cumulative
    product computed as EXP(SUM(LN(factor))) over an ordered window, with
    a running any-zero-factor flag so S drops to exactly 0 when d_t = n_t
    instead of feeding LN(0).

    Scale: one groupBy(user_id) over the fact stream (the only fact-sized
    shuffle), then every window runs over the distinct-lifetime frame —
    at most ~hundreds of rows regardless of corpus size. The global max
    timestamp is derived from the cached per-user frame (max of the
    per-user maxes — no second fact scan) and broadcast back.
    """
    ev = load_table(spark, "events", sf_dir)
    # user-grain (dimension-sized) and referenced twice: the corpus max
    # timestamp is the max of the per-user last_ts (groups partition the
    # rows), so deriving it from the cached frame drops the second fact
    # scan
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    ).transform(scache)
    corpus_max = per_user.agg(F.max("last_ts").alias("m"))
    lifetimes = (
        per_user.crossJoin(F.broadcast(corpus_max))
        .select(
            F.datediff(F.col("last_ts").cast("date"), F.col("first_ts").cast("date")).alias(
                "duration_days"
            ),
            (
                F.col("last_ts") < F.expr("timestampadd(DAY, -7, m)")
            ).cast("int").alias("churned"),
        )
    )
    per_t = lifetimes.groupBy("duration_days").agg(
        F.sum("churned").alias("n_events"),
        (F.count(F.lit(1)) - F.sum("churned")).alias("n_censored"),
    ).transform(scache)  # distinct-lifetime frame (~hundreds of rows) feeds both
    # the total subquery and the stepped curve — uncached, each branch
    # re-ran the fact-sized per-user aggregation
    w = Window.orderBy("duration_days")
    cum_prior = F.coalesce(
        F.sum(F.col("n_events") + F.col("n_censored")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    total = per_t.agg(F.sum(F.col("n_events") + F.col("n_censored")).alias("n"))
    stepped = (
        per_t.crossJoin(F.broadcast(total))
        .withColumn("n_risk", F.col("n") - cum_prior)
        .withColumn("factor", 1 - F.col("n_events") / F.col("n_risk"))
    )
    dead = F.max((F.col("factor") <= 0).cast("int")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    surv = F.when(dead == 1, F.lit(0.0)).otherwise(
        F.exp(
            F.sum(F.log("factor")).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        )
    )
    return (
        stepped.select(
            "duration_days",
            "n_risk",
            "n_events",
            "n_censored",
            F.round(surv, 4).alias("survival"),
        )
        .orderBy("duration_days")
    )


KAPLAN_MEIER_SQL = """
WITH lifetimes AS (
  SELECT datediff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)) AS duration_days,
         CASE WHEN MAX(ts) < (SELECT MAX(ts) FROM events) - INTERVAL 7 DAY
              THEN 1 ELSE 0 END AS churned
  FROM events GROUP BY user_id
), per_t AS (
  SELECT duration_days,
         CAST(SUM(churned) AS BIGINT) AS n_events,
         CAST(COUNT(*) - SUM(churned) AS BIGINT) AS n_censored
  FROM lifetimes GROUP BY duration_days
), stepped AS (
  SELECT *,
         CAST((SELECT COUNT(*) FROM lifetimes)
           - COALESCE(SUM(n_events + n_censored) OVER
               (ORDER BY duration_days ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
  FROM per_t
), factored AS (
  SELECT *, 1 - CAST(n_events AS DOUBLE) / n_risk AS factor FROM stepped
)
SELECT duration_days, n_risk, n_events, n_censored,
       CASE WHEN MAX(CASE WHEN factor <= 0 THEN 1 ELSE 0 END) OVER
                 (ORDER BY duration_days ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
            THEN 0.0
            ELSE ROUND(EXP(SUM(LN(factor)) OVER
                 (ORDER BY duration_days ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4)
       END AS survival
FROM factored
ORDER BY duration_days
"""


# ---------------------------------------------------------------------------
# Welch two-sample test (A/B experiment readout)


def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout per event_type: users split into arms by
    ``user_id % 2`` (the deterministic stand-in for an assignment
    column), then Welch's unequal-variance t-statistic and
    Welch-Satterthwaite degrees of freedom over ``value``. One
    conditional-aggregation pass — n/mean/var for each arm come from
    FILTER-style aggregates in a single groupBy, so the fact table is
    scanned once and shuffled once on a low-cardinality key (partial
    aggs do the heavy lifting map-side). No Python, no second pass."""
    ev = load_table(spark, "events", sf_dir)
    a = F.col("user_id") % 2 == 0
    g = (
        ev.groupBy("event_type")
        .agg(
            # count value (not 1) so n matches the sample mean/var use:
            # NULL-value rows are excluded everywhere consistently
            F.count(F.when(a, F.col("value"))).alias("n_a"),
            F.count(F.when(~a, F.col("value"))).alias("n_b"),
            F.avg(F.when(a, F.col("value"))).alias("mean_a"),
            F.avg(F.when(~a, F.col("value"))).alias("mean_b"),
            F.var_samp(F.when(a, F.col("value"))).alias("var_a"),
            F.var_samp(F.when(~a, F.col("value"))).alias("var_b"),
        )
    )
    sa, sb = F.col("var_a") / F.col("n_a"), F.col("var_b") / F.col("n_b")
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(sa + sb)
    df_ws = (sa + sb) ** 2 / (
        sa**2 / (F.col("n_a") - 1) + sb**2 / (F.col("n_b") - 1)
    )
    return (
        g.select(
            "event_type",
            "n_a",
            "n_b",
            F.round(F.col("mean_a") - F.col("mean_b"), 4).alias("mean_diff"),
            F.round(t, 4).alias("t_stat"),
            F.round(df_ws, 2).alias("df"),
        )
        .orderBy("event_type")
    )


AB_TEST_WELCH_SQL = """
WITH g AS (
  SELECT event_type,
         COUNT(value) FILTER (WHERE user_id % 2 = 0) AS n_a,
         COUNT(value) FILTER (WHERE user_id % 2 <> 0) AS n_b,
         AVG(value) FILTER (WHERE user_id % 2 = 0) AS mean_a,
         AVG(value) FILTER (WHERE user_id % 2 <> 0) AS mean_b,
         VAR_SAMP(value) FILTER (WHERE user_id % 2 = 0) AS var_a,
         VAR_SAMP(value) FILTER (WHERE user_id % 2 <> 0) AS var_b
  FROM events GROUP BY event_type
)
SELECT event_type, n_a, n_b,
       ROUND(mean_a - mean_b, 4) AS mean_diff,
       ROUND((mean_a - mean_b) / SQRT(var_a / n_a + var_b / n_b), 4) AS t_stat,
       ROUND(POW(var_a / n_a + var_b / n_b, 2)
             / (POW(var_a / n_a, 2) / (n_a - 1) + POW(var_b / n_b, 2) / (n_b - 1)),
             2) AS df
FROM g
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Median-absolute-deviation outlier audit (robust alternative to z-score)


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit per event_type: exact median of ``value``,
    MAD = median(|value - median|), and the count of points beyond the
    conventional 3·1.4826·MAD fence. Unlike ``anomaly_zscore`` this is
    breakdown-resistant (a few wild points can't move the fence).

    Two grouped exact-percentile passes are inherent to MAD (the second
    median is of residuals against the first). Both run as
    ``percentile(…, 0.5)`` — Spark's exact interpolating percentile,
    identical semantics to DuckDB ``median`` — with the per-group medians
    broadcast back (group cardinality = #event_types, tiny). The fact
    table shuffles twice on the same low-cardinality key."""
    ev = load_table(spark, "events", sf_dir).select("event_type", "value")
    # the per-group median frames are #event_types-sized; cached so the
    # two fact branches referencing dev don't re-run pass one (3 fact
    # scans is MAD's floor: median, residual median, fence count)
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    ).transform(scache)
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(absdev, 0.5D)").alias("mad")
    ).transform(scache)
    fenced = dev.join(F.broadcast(mad), "event_type")
    return (
        fenced.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.first("med"), 4).alias("median_value"),
            F.round(F.first("mad"), 4).alias("mad"),
            F.sum(
                (F.col("absdev") > 3 * 1.4826 * F.col("mad")).cast("int")
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


MAD_OUTLIERS_SQL = """
WITH med AS (
  SELECT event_type, median(CAST(value AS DOUBLE)) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, ABS(e.value - m.med) AS absdev, m.med
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, median(absdev) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type,
       COUNT(*) AS n,
       ROUND(ANY_VALUE(d.med), 4) AS median_value,
       ROUND(ANY_VALUE(m.mad), 4) AS mad,
       CAST(SUM(CASE WHEN d.absdev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""


# ---------------------------------------------------------------------------
# Mutual information (feature-relevance ranking)


def mutual_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much does knowing the event_type tell you about the value?
    Mutual information I(type; value-quartile) in nats, reported as
    per-type contributions Σ_b p(t,b)·ln(p(t,b)/(p(t)p(b))) — the
    feature-relevance score that catches nonlinear dependence
    ``corr`` misses (and the chi-squared test only thresholds).

    Scale: global quartile edges are ONE tiny aggregate broadcast back;
    the contingency table is a (types × 4) groupBy; every probability is
    a window over that ≤ 20-cell grid. Same single-fact-pass shape as
    ``chi2_event_value``, different functional."""
    ev = load_table(spark, "events", sf_dir).select("event_type", "value")
    edges = ev.agg(
        F.expr("percentile(value, array(0.25D, 0.5D, 0.75D))").alias("e")
    ).select(
        F.element_at("e", 1).alias("q1"),
        F.element_at("e", 2).alias("q2"),
        F.element_at("e", 3).alias("q3"),
    )
    bucket = (
        F.when(F.col("value") <= F.col("q1"), 0)
        .when(F.col("value") <= F.col("q2"), 1)
        .when(F.col("value") <= F.col("q3"), 2)
        .otherwise(3)
    )
    cells = (
        ev.crossJoin(F.broadcast(edges))
        .groupBy("event_type", bucket.alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("event_type")
    wb = Window.partitionBy("b")
    wall = Window.partitionBy()
    n_all = F.sum("n").over(wall)
    p_tb = F.col("n") / n_all
    p_t = F.sum("n").over(wt) / n_all
    p_b = F.sum("n").over(wb) / n_all
    contrib = p_tb * F.log(p_tb / (p_t * p_b))
    return (
        cells.withColumn("contrib", contrib)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("contrib"), 6).alias("mi_contrib_nats"),
        )
        .orderBy("event_type")
    )


MUTUAL_INFORMATION_SQL = """
WITH edges AS (
  SELECT quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.5) AS q2,
         quantile_cont(value, 0.75) AS q3
  FROM events
), cells AS (
  SELECT event_type,
         CASE WHEN value <= q1 THEN 0 WHEN value <= q2 THEN 1
              WHEN value <= q3 THEN 2 ELSE 3 END AS b,
         COUNT(*) AS n
  FROM events, edges
  GROUP BY 1, 2
), probs AS (
  SELECT event_type, n,
         n * 1.0 / SUM(n) OVER () AS p_tb,
         SUM(n) OVER (PARTITION BY event_type) * 1.0 / SUM(n) OVER () AS p_t,
         SUM(n) OVER (PARTITION BY b) * 1.0 / SUM(n) OVER () AS p_b
  FROM cells
)
SELECT event_type,
       CAST(SUM(n) AS BIGINT) AS n,
       ROUND(SUM(p_tb * LN(p_tb / (p_t * p_b))), 6) AS mi_contrib_nats
FROM probs
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence intervals (the map-reduce bootstrap)

_BOOT_B = 50  # bootstrap replicates
# Poisson(1) CDF breakpoints as 4-hex thresholds: a row's replicate
# weight is the inverse-CDF bucket of its hash-uniform — the "Poisson
# bootstrap" trick that makes resampling embarrassingly parallel (each
# row draws its own multiplicity; no resample materialization). One md5
# per row yields EIGHT independent 16-bit uniforms (its 4-hex windows),
# so 50 replicates cost ceil(50/8)=7 hashes per row, not 50 — the
# ≤6e-5 CDF quantization from 16-bit uniforms is statistically inert.
_POIS_CDF = (0.36787944, 0.73575888, 0.91969860, 0.98101184, 0.99634015, 0.99940582)
_POIS_THR = tuple(format(int(p * 16**4), "04x") for p in _POIS_CDF)
_BOOT_HASHES = (_BOOT_B + 7) // 8


def _boot_weight(h):
    """Poisson(1) multiplicity from a 4-hex uniform, as a CASE chain of
    string comparisons (identical in Spark and DuckDB — no hex→int)."""
    w = F.lit(len(_POIS_THR))
    for k in range(len(_POIS_THR) - 1, -1, -1):
        w = F.when(h < _POIS_THR[k], k).otherwise(w)
    return w


def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean of ``value`` per
    event_type via the POISSON bootstrap — the resampling scheme built
    for map-reduce: instead of materializing B resamples, every row
    draws an independent Poisson(1) multiplicity per replicate from a
    deterministic hash-uniform, so replicate b's mean is
    Σ w_b·x / Σ w_b. All 50 replicates ride ONE scan as 100 conditional
    aggregate columns (no explode, no 50× row blow-up), stack long, and
    the CI is the [2.5%, 97.5%] exact percentile of the 50 replicate
    means — a per-group frame of exactly B rows.

    Scale: one groupBy(event_type) with 2B partial-aggregated sums —
    map-side combine absorbs the width; the percentile runs over B
    values per group. This is how you put error bars on any metric at
    100 TB without a second pass."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        "value",
        *[
            F.md5(
                F.concat(F.col("event_id").cast("string"), F.lit(f"_{j}")).cast("binary")
            ).alias(f"h{j}")
            for j in range(_BOOT_HASHES)
        ],
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("mean_value"),
    ]
    for b in range(_BOOT_B):
        u = F.substring(F.col(f"h{b // 8}"), 4 * (b % 8) + 1, 4)
        w = _boot_weight(u).cast("double")
        aggs.append(F.sum(w * F.col("value")).alias(f"s{b}"))
        aggs.append(F.sum(w).alias(f"w{b}"))
    wide = ev.groupBy("event_type").agg(*aggs)
    stack = "stack(" + str(_BOOT_B) + ", " + ", ".join(
        f"s{b} / w{b}" for b in range(_BOOT_B)
    ) + ") AS m"
    reps = wide.selectExpr("event_type", "n", "mean_value", stack)
    return (
        reps.groupBy("event_type")
        .agg(
            F.first("n").alias("n"),
            F.first("mean_value").alias("mean_value"),
            F.round(F.expr("percentile(m, 0.025D)"), 4).alias("ci_lo"),
            F.round(F.expr("percentile(m, 0.975D)"), 4).alias("ci_hi"),
        )
        .orderBy("event_type")
    )


def _bootstrap_sql() -> str:
    def w_case(b: int) -> str:
        h = f"substring(h{b // 8}, {4 * (b % 8) + 1}, 4)"
        branches = " ".join(
            f"WHEN {h} < '{_POIS_THR[k]}' THEN {k}" for k in range(len(_POIS_THR))
        )
        return f"CAST(CASE {branches} ELSE {len(_POIS_THR)} END AS DOUBLE)"

    hashes = ", ".join(
        f"md5(CAST(event_id AS VARCHAR) || '_{j}') AS h{j}" for j in range(_BOOT_HASHES)
    )
    cols = ",\n         ".join(
        f"SUM({w_case(b)} * value) AS s{b}, SUM({w_case(b)}) AS w{b}"
        for b in range(_BOOT_B)
    )
    means = ", ".join(f"(s{b} / w{b})" for b in range(_BOOT_B))
    return f"""
WITH base AS (
  SELECT event_type, value, {hashes} FROM events
), wide AS (
  SELECT event_type, COUNT(*) AS n, ROUND(AVG(value), 4) AS mean_value,
         {cols}
  FROM base GROUP BY event_type
), reps AS (
  SELECT event_type, n, mean_value, unnest([{means}]) AS m FROM wide
)
SELECT event_type, ANY_VALUE(n) AS n, ANY_VALUE(mean_value) AS mean_value,
       ROUND(quantile_cont(m, 0.025), 4) AS ci_lo,
       ROUND(quantile_cont(m, 0.975), 4) AS ci_hi
FROM reps
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Approx-percentile error audit (validating the 100 TB substitution)

_APPROX_ACC = 1000  # Greenwald-Khanna accuracy: rank error ≤ N / _APPROX_ACC


def approx_percentile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit behind every "swap exact percentile for approx at
    scale" note in this repo: per event_type, the exact p50/p95 of
    ``value`` plus a deterministic RANK-BOUND audit bit for the
    ``approx_percentile(…, accuracy=1000)`` result. Greenwald-Khanna
    guarantees the approx result is a TRUE element whose rank is within
    max(1, N/accuracy) of the target; the bit verifies exactly that by
    counting the element's <x / ≤x ranks with one conditional aggregate
    — so the output hashes deterministically (the engine-specific GK
    values never reach it) and the DuckDB oracle predicts the bits as 1
    (the audit-bits pattern from agg_approx_distinct, VERDICT r9 #5).
    Exact percentiles are bit-identical across engines on this data
    (measured 0 ulp at all 3 SFs — same sorted-element interpolation);
    the 4dp rounding guards the formula's association order anyway.

    Scale: the exact aggregate buffers each group's full value set (the
    thing that dies at 100 TB); the approx aggregate keeps O(accuracy)
    summaries and is mergeable — this query exists to show the two
    diverge by less than the guarantee long before the exact one becomes
    infeasible. The rank audit is a second scan with a broadcast join
    of the k-group approx frame, still shuffle-light."""
    ev = load_table(spark, "events", sf_dir).select("event_type", "value")
    # #event_types-sized but referenced twice (the rank-audit broadcast +
    # the final join) — cached so the value-buffering exact-percentile
    # pass over events runs once instead of once per reference
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(value, 0.5D)").alias("exact_p50"),
        F.expr(f"approx_percentile(value, 0.5D, {_APPROX_ACC})").alias("__a50"),
        F.expr("percentile(value, 0.95D)").alias("exact_p95"),
        F.expr(f"approx_percentile(value, 0.95D, {_APPROX_ACC})").alias("__a95"),
    ).transform(scache)
    ranks = (
        ev.join(F.broadcast(agg.select("event_type", "__a50", "__a95")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum((F.col("value") < F.col("__a50")).cast("long")).alias("__lt50"),
            F.sum((F.col("value") <= F.col("__a50")).cast("long")).alias("__le50"),
            F.sum((F.col("value") < F.col("__a95")).cast("long")).alias("__lt95"),
            F.sum((F.col("value") <= F.col("__a95")).cast("long")).alias("__le95"),
        )
    )

    def bit(p: float, lt: str, le: str):
        # the approx element's 0-based rank interval is [lt, le-1];
        # target rank p·(n−1); GK tolerance max(1, n/accuracy) + 1 slack
        # for the interval discretization
        target = F.lit(p) * (F.col("n") - 1)
        tol = F.greatest(F.lit(1.0), F.col("n") / F.lit(_APPROX_ACC)) + 1
        return (
            (F.col(lt) <= target + tol) & (F.col(le) - 1 >= target - tol)
        ).cast("long")

    return (
        agg.join(ranks, "event_type")
        .select(
            "event_type",
            "n",
            F.round("exact_p50", 4).alias("exact_p50"),
            F.round("exact_p95", 4).alias("exact_p95"),
            bit(0.5, "__lt50", "__le50").alias("p50_within_gk_bound"),
            bit(0.95, "__lt95", "__le95").alias("p95_within_gk_bound"),
        )
        .orderBy("event_type")
    )


APPROX_PCT_ERROR_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       ROUND(quantile_cont(value, 0.5), 4) AS exact_p50,
       ROUND(quantile_cont(value, 0.95), 4) AS exact_p95,
       CAST(1 AS BIGINT) AS p50_within_gk_bound,
       CAST(1 AS BIGINT) AS p95_within_gk_bound
FROM events
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = {
    "regr_price_trend": regr_price_trend,
    "rfm_segmentation": rfm_segmentation,
    "pareto_revenue_share": pareto_revenue_share,
    "heavy_hitters_words": heavy_hitters_words,
    "cusum_changepoints": cusum_changepoints,
    "quantile_sketch_value": quantile_sketch_value,
    "price_histogram": price_histogram,
    "countmin_word_frequencies": countmin_word_frequencies,
    "kaplan_meier_retention": kaplan_meier_retention,
    "ab_test_welch": ab_test_welch,
    "mad_outliers": mad_outliers,
    "approx_percentile_error": approx_percentile_error,
    "bootstrap_mean_ci": bootstrap_mean_ci,
    "mutual_information_value": mutual_information_value,
}

ORACLES = {
    "regr_price_trend": REGR_PRICE_TREND_SQL,
    "rfm_segmentation": RFM_SEGMENTATION_SQL,
    "pareto_revenue_share": PARETO_REVENUE_SHARE_SQL,
    "heavy_hitters_words": HEAVY_HITTERS_SQL,
    "cusum_changepoints": CUSUM_SQL,
    "price_histogram": PRICE_HISTOGRAM_SQL,
    "kaplan_meier_retention": KAPLAN_MEIER_SQL,
    "ab_test_welch": AB_TEST_WELCH_SQL,
    "mad_outliers": MAD_OUTLIERS_SQL,
    "bootstrap_mean_ci": _bootstrap_sql(),
    "mutual_information_value": MUTUAL_INFORMATION_SQL,
    "countmin_word_frequencies": COUNTMIN_SQL,
    "quantile_sketch_value": QUANTILE_SKETCH_SQL,
    "approx_percentile_error": APPROX_PCT_ERROR_SQL,
}
