"""Custom grouped operators: applyInPandas (Arrow-batched per-group
pandas), Python UDTF, and SQL-surface aggregates Spark exposes as
built-ins (exact percentile, argmax via struct-max, EXISTS subqueries,
unpivot).

applyInPandas is the engine's UDAF/flat-map-groups escape hatch: state is
one group's rows in memory — partition by a real key so groups stay small
at 100 TB (here: per-user event frames, ≤ thousands of rows each).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from collimate_spark.catalog import load_table
from collimate_spark.functions.quantiles import group_percentiles
from collimate_spark.scratch import scache

ZSCORE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("zscore", T.DoubleType()),
    ]
)


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    mu = pdf["value"].mean()
    sd = pdf["value"].std(ddof=1)
    z = (pdf["value"] - mu) / sd if sd and sd > 0 else pdf["value"] * 0.0
    return pd.DataFrame(
        {"user_id": pdf["user_id"], "event_id": pdf["event_id"], "zscore": z}
    )


def grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score of event values via applyInPandas — the custom
    grouped-map operator pattern, registered DELIBERATELY as the
    Arrow-round-trip demo (its bench row measures grouped-map overhead
    over ~100k tiny groups, not the recommended plan). Exactly
    SQL-expressible, so it gets a real oracle (window AVG/STDDEV)
    proving the Arrow round trip is numerically faithful. The
    production form is :func:`grouped_zscore_native` — same output,
    pure JVM window plan, registered beside this one so the bench shows
    both."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInPandas(_zscore_group, ZSCORE_SCHEMA)
        .select("user_id", "event_id", F.round("zscore", 6).alias("zscore"))
        .orderBy("event_id")
    )


def grouped_zscore_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of grouped_zscore: the same per-user z-score as
    a pure JVM window plan (AVG/STDDEV_SAMP over an unordered per-user
    window) — no Python worker, no Arrow hop, whole-stage codegen end to
    end. Output is identical to the applyInPandas demo (same oracle SQL;
    pandas' ddof=1 std == STDDEV_SAMP), which is the point: when the
    kernel is expressible as window aggregates, the native plan wins —
    the demo exists to measure exactly that gap (see bench.py's wide
    set, where both are tagged)."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id")
    mu = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    z = F.when(sd > 0, (F.col("value") - mu) / sd).otherwise(F.lit(0.0))
    return (
        ev.select("user_id", "event_id", F.round(z, 6).alias("zscore"))
        .orderBy("event_id")
    )


GROUPED_ZSCORE_SQL = """
SELECT user_id, event_id,
       ROUND(CASE WHEN STDDEV_SAMP(value) OVER w > 0
                  THEN (value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w
                  ELSE 0.0 END, 6) AS zscore
FROM events
WINDOW w AS (PARTITION BY user_id)
ORDER BY event_id
"""


def _arrow_value_profile(table):
    """applyInArrow body: per-group profile computed directly on pyarrow
    buffers (no pandas materialization — Arrow compute kernels end to
    end). Returns a 1-row table."""
    import pyarrow as pa
    import pyarrow.compute as pc

    v = table.column("value")
    return pa.table(
        {
            "event_type": [table.column("event_type")[0].as_py()],
            "n": [table.num_rows],
            "v_min": [pc.round(pc.min(v), ndigits=4).as_py()],
            "v_max": [pc.round(pc.max(v), ndigits=4).as_py()],
            "v_mean": [round(pc.mean(v).as_py(), 4)],
        }
    )


def grouped_arrow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-NATIVE grouped map (``applyInArrow`` — Spark 4's zero-pandas
    grouped API): each group arrives as a pyarrow Table, compute runs on
    Arrow buffers via pyarrow.compute, and the result ships back without
    a pandas hop — the lowest-overhead Python grouped path (no index
    reconstruction, no dtype coercion). Same scale caveat as any grouped
    map: whole group in one worker; fine for the handful of event
    types."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.select("event_type", "value")
        .groupBy("event_type")
        .applyInArrow(
            _arrow_value_profile,
            "event_type string, n long, v_min double, v_max double, v_mean double",
        )
        .orderBy("event_type")
    )


GROUPED_ARROW_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       ROUND(MIN(value), 4) AS v_min,
       ROUND(MAX(value), 4) AS v_max,
       ROUND(AVG(value), 4) AS v_mean
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`), computed sort-based: Spark's native
    ``percentile`` buffers every (value, count) pair in ONE
    ObjectHashAggregate task per group (the whole column's data for
    near-continuous doubles — guide §5), where
    :func:`~collimate_spark.functions.quantiles.group_percentiles`
    reproduces the same double arithmetic bit-for-bit from a codegen
    hash aggregate + ordered window (fuzz-pinned in
    tests/test_quantile_sketch.py). One helper call per value column,
    re-attached with a null-safe broadcast join on the 3-row group key."""
    li = load_table(spark, "lineitem", sf_dir)
    price = group_percentiles(
        li, ["l_returnflag"], "l_extendedprice", [(0.5, "p50r"), (0.9, "p90r")]
    )
    qty = group_percentiles(
        li.select(F.col("l_returnflag").alias("rf2"), "l_quantity"),
        ["rf2"],
        "l_quantity",
        [(0.25, "p25r")],
    )
    return (
        price.join(F.broadcast(qty), F.expr("l_returnflag <=> rf2"), "inner")
        .select(
            "l_returnflag",
            F.round("p50r", 4).alias("p50_price"),
            F.round("p90r", 4).alias("p90_price"),
            F.round("p25r", 4).alias("p25_qty"),
        )
        .orderBy("l_returnflag")
    )


AGG_PERCENTILE_SQL = """
SELECT l_returnflag,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS p50_price,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4) AS p90_price,
       ROUND(QUANTILE_CONT(l_quantity, 0.25), 4) AS p25_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (percentile_disc == DuckDB quantile_disc):
    returns an actual data value, never an interpolation — the right
    semantics for quantiles of ids/codes/timestamps where interpolated
    values are meaningless. Shown beside agg_percentile (continuous) so
    the disc-vs-cont distinction is a tested contract, not folklore.

    The two ObjectHashAggregate value buffers are the documented,
    oracle-required cost (same posture as winsorize/mad). A sort-based
    disc rewrite in the style of functions/quantiles.group_percentiles
    was measured here (r13 interleaved A/B) and REJECTED: with only one
    near-continuous buffer (l_quantity's map is 50 entries) a full
    dedup+window pass costs more than the buffer it replaces (min-of-5
    2.26 s vs 2.06 s)."""
    li = load_table(spark, "lineitem", sf_dir)
    p50 = "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)"
    p90 = "percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)"
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(p50).alias("p50_qty_disc"),
            F.expr(p90).alias("p90_price_disc"),
        )
        .orderBy("l_returnflag")
    )


AGG_PERCENTILE_DISC_SQL = """
SELECT l_returnflag,
       quantile_disc(l_quantity, 0.5) AS p50_qty_disc,
       quantile_disc(l_extendedprice, 0.9) AS p90_price_disc
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE: Spark's/DuckDB's native mode() both break
    frequency ties arbitrarily, so neither is hash-stable; the portable
    contract is argmax over (count, -value) — most frequent value, ties
    to the SMALLEST value — built from one count agg + one struct-max
    (the same device as agg_argmax). Two shuffles, both on group keys."""
    li = load_table(spark, "lineitem", sf_dir)
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count(F.lit(1)).alias("c"))
    best = F.max(F.struct(F.col("c"), (-F.col("l_quantity")).alias("neg_v")))
    return (
        counts.groupBy("l_returnflag")
        .agg(
            (-best.getField("neg_v")).alias("mode_qty"),
            best.getField("c").alias("mode_count"),
        )
        .orderBy("l_returnflag")
    )


AGG_MODE_SQL = """
WITH counts AS (
  SELECT l_returnflag, l_quantity, COUNT(*) AS c
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag,
       -(MAX({'c': c, 'neg_v': -l_quantity})).neg_v AS mode_qty,
       (MAX({'c': c, 'neg_v': -l_quantity})).c AS mode_count
FROM counts
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax per group with a deterministic tiebreak: MAX over a
    (value, key) struct — price ties resolve to the larger orderkey in
    both engines (lexicographic struct/row comparison)."""
    orders = load_table(spark, "orders", sf_dir)
    best = F.max(F.struct(F.col("o_totalprice"), F.col("o_orderkey")))
    return (
        orders.groupBy("o_custkey")
        .agg(
            best.getField("o_orderkey").alias("best_orderkey"),
            F.round(best.getField("o_totalprice"), 2).alias("best_price"),
        )
        .orderBy("o_custkey")
    )


AGG_ARGMAX_SQL = """
SELECT o_custkey,
       (MAX({'p': o_totalprice, 'k': o_orderkey})).k AS best_orderkey,
       ROUND((MAX({'p': o_totalprice, 'k': o_orderkey})).p, 2) AS best_price
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
"""


def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS via the SQL front door."""
    load_table(spark, "customer", sf_dir).createOrReplaceTempView("customer")
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
                 AS has_big_order
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        ORDER BY c_custkey
        """
    )


SUBQUERY_EXISTS_SQL = """
SELECT c_custkey, c_name,
       EXISTS (SELECT 1 FROM orders o
               WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
         AS has_big_order
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
"""


def unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long melt) of lineitem charge components."""
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_linenumber") == 1)
    return (
        li.select("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
        .unpivot(
            "l_orderkey",
            ["l_extendedprice", "l_discount", "l_tax"],
            "component",
            "amount",
        )
        .select("l_orderkey", "component", F.round("amount", 2).alias("amount"))
        .orderBy("l_orderkey", "component")
    )


UNPIVOT_SQL = """
SELECT l_orderkey, component, ROUND(amount, 2) AS amount
FROM (
  SELECT l_orderkey, l_extendedprice, l_discount, l_tax
  FROM lineitem WHERE l_linenumber = 1
)
UNPIVOT (amount FOR component IN (l_extendedprice, l_discount, l_tax))
ORDER BY l_orderkey, component
"""


def array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered array aggregation, emitted as a string (value-hash friendly):
    per customer, the chronological list of order keys."""
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("o_orderdate", "o_orderkey"))),
                    lambda s: s.getField("o_orderkey").cast("string"),
                ),
            ).alias("order_keys")
        )
        .orderBy("o_custkey")
    )


ARRAY_AGG_SQL = """
SELECT o_custkey,
       array_to_string(list_transform(
         list_sort(list({'d': o_orderdate, 'k': o_orderkey})),
         s -> CAST(s.k AS VARCHAR)), ',') AS order_keys
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
"""


def chi2_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence between event type and value
    bucket — the categorical-association screen run over feature pairs
    before model training. The contingency table is ONE hash aggregation
    (|types| x |buckets| cells, metadata-sized) and is CACHED — it feeds
    four branches (both marginals, the total, the statistic stream), and
    only the cache makes "the fact table is read exactly once" true."""
    ev = load_table(spark, "events", sf_dir)
    cells = (
        ev.withColumn("bucket", F.floor(F.col("value") / 50).cast("long"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("o"))
        .transform(scache)
    )
    row_m = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    col_m = cells.groupBy("bucket").agg(F.sum("o").alias("ct"))
    n = cells.agg(F.sum("o").alias("n"))
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
    return (
        cells.join(F.broadcast(row_m), "event_type")
        .join(F.broadcast(col_m), "bucket")
        .crossJoin(F.broadcast(n))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 4).alias("chi2"),
        )
    )


CHI2_SQL = """
WITH cells AS (
  SELECT event_type, CAST(FLOOR(value / 50) AS BIGINT) AS bucket, COUNT(*) AS o
  FROM events GROUP BY 1, 2
),
row_m AS (SELECT event_type, SUM(o) AS rt FROM cells GROUP BY 1),
col_m AS (SELECT bucket, SUM(o) AS ct FROM cells GROUP BY 1),
tot AS (SELECT SUM(o) AS n FROM cells)
SELECT COUNT(*) AS n_cells,
       ROUND(SUM((o - (rt * ct * 1.0 / n)) * (o - (rt * ct * 1.0 / n))
                 / (rt * ct * 1.0 / n)), 4) AS chi2
FROM cells JOIN row_m USING (event_type) JOIN col_m USING (bucket), tot
"""


def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix of the four lineitem measures in ONE
    aggregation pass (all pairs as parallel `corr` aggregates — the
    columnar-scan-once answer; a naive per-pair loop would rescan the
    fact table six times)."""
    li = load_table(spark, "lineitem", sf_dir)
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = [
        F.round(F.corr(a, b), 4).alias(f"corr_{a[2:]}_{b[2:]}")
        for idx, a in enumerate(cols)
        for b in cols[idx + 1 :]
    ]
    return li.agg(F.count(F.lit(1)).alias("n"), *aggs)


CORR_MATRIX_SQL = """
SELECT COUNT(*) AS n,
       ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_quantity_extendedprice,
       ROUND(corr(l_quantity, l_discount), 4) AS corr_quantity_discount,
       ROUND(corr(l_quantity, l_tax), 4) AS corr_quantity_tax,
       ROUND(corr(l_extendedprice, l_discount), 4) AS corr_extendedprice_discount,
       ROUND(corr(l_extendedprice, l_tax), 4) AS corr_extendedprice_tax,
       ROUND(corr(l_discount, l_tax), 4) AS corr_discount_tax
FROM lineitem
"""


QUERIES = {
    "grouped_zscore": grouped_zscore,
    "grouped_zscore_native": grouped_zscore_native,
    "grouped_arrow_profile": grouped_arrow_profile,
    "agg_percentile": agg_percentile,
    "agg_percentile_disc": agg_percentile_disc,
    "agg_mode_deterministic": agg_mode_deterministic,
    "agg_argmax": agg_argmax,
    "subquery_exists": subquery_exists,
    "unpivot_lineitem": unpivot_lineitem,
    "array_agg_sorted": array_agg_sorted,
    "chi2_event_value": chi2_event_value,
    "corr_matrix_lineitem": corr_matrix_lineitem,
}

ORACLES = {
    "grouped_zscore": GROUPED_ZSCORE_SQL,
    # same SQL: the native form is the oracle's plan, the demo's contract
    "grouped_zscore_native": GROUPED_ZSCORE_SQL,
    "grouped_arrow_profile": GROUPED_ARROW_SQL,
    "agg_percentile": AGG_PERCENTILE_SQL,
    "agg_percentile_disc": AGG_PERCENTILE_DISC_SQL,
    "agg_mode_deterministic": AGG_MODE_SQL,
    "agg_argmax": AGG_ARGMAX_SQL,
    "subquery_exists": SUBQUERY_EXISTS_SQL,
    "unpivot_lineitem": UNPIVOT_SQL,
    "array_agg_sorted": ARRAY_AGG_SQL,
    "chi2_event_value": CHI2_SQL,
    "corr_matrix_lineitem": CORR_MATRIX_SQL,
}
