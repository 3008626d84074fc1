"""Data-quality constraint checking and CDC-style snapshot diffing.

``data_quality_report`` is the Deequ-style constraint suite: uniqueness,
completeness, value-range, domain, and referential-integrity checks,
each expressed as a conditional aggregate so every table is scanned
exactly ONCE (the FK probe rides the same pass as a broadcast left
join). ``snapshot_diff`` classifies rows between two table versions as
inserted / deleted / changed / unchanged via one full-outer join on the
key — the incremental-pipeline primitive for change capture.

Both are single-shuffle plans: a wide conditional agg (map-side
partial), and one key-partitioned join respectively — shapes that hold
at 100 TB (the FK dimension and the report itself stay tiny).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from collimate_spark.catalog import load_table
from collimate_spark.functions.skew import fits_broadcast
from collimate_spark.scratch import scache

# (check_name, table, violation predicate as a Spark Column factory) — the
# predicate marks VIOLATING rows; uniqueness/FK are handled structurally.
PRICE_CAP = 300_000.0
DATE_LO, DATE_HI = "1995-01-01", "2001-12-31"
STATUS_DOMAIN = ("O", "F", "P")
QTY_LO, QTY_HI = 1.0, 50.0
DISC_LO, DISC_HI = 0.0, 0.1


def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per constraint: (check_name, n_rows, n_violations,
    violation_rate). Orders checks (incl. the o_custkey→customer FK via a
    broadcast left join) compute in one pass over orders; lineitem checks
    in one pass over lineitem."""
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)

    def viol(pred) -> F.Column:
        return F.sum(F.when(pred, 1).otherwise(0)).cast("bigint")

    o = orders.join(
        F.broadcast(customer.select(F.col("c_custkey").alias("fk_key"))),
        orders["o_custkey"] == F.col("fk_key"),
        "left",
    )
    o_agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("v_unique"),
        viol(F.col("fk_key").isNull()).alias("v_fk"),
        viol(
            (F.col("o_totalprice") <= 0) | (F.col("o_totalprice") > PRICE_CAP)
        ).alias("v_price"),
        viol(
            F.col("o_orderdate").isNull()
            | (F.col("o_orderdate") < DATE_LO)
            | (F.col("o_orderdate") > DATE_HI)
        ).alias("v_date"),
        viol(~F.col("o_orderstatus").isin(*STATUS_DOMAIN)).alias("v_status"),
    )
    l_agg = lineitem.agg(
        F.count(F.lit(1)).alias("n_rows"),
        viol(
            (F.col("l_quantity") < QTY_LO) | (F.col("l_quantity") > QTY_HI)
        ).alias("v_qty"),
        viol(
            (F.col("l_discount") < DISC_LO) | (F.col("l_discount") > DISC_HI)
        ).alias("v_disc"),
        viol(F.col("l_returnflag").isNull()).alias("v_flag"),
    )

    def unpack(agg_df: DataFrame, checks: dict[str, str]) -> DataFrame:
        pairs = ", ".join(f"'{name}', {col}" for name, col in checks.items())
        return agg_df.selectExpr(
            f"stack({len(checks)}, {pairs}) AS (check_name, n_violations)",
            "n_rows",
        )

    report = unpack(
        o_agg,
        {
            "orders.o_orderkey_unique": "v_unique",
            "orders.o_custkey_fk_customer": "v_fk",
            "orders.o_totalprice_range": "v_price",
            "orders.o_orderdate_bounds": "v_date",
            "orders.o_orderstatus_domain": "v_status",
        },
    ).unionByName(
        unpack(
            l_agg,
            {
                "lineitem.l_quantity_range": "v_qty",
                "lineitem.l_discount_range": "v_disc",
                "lineitem.l_returnflag_complete": "v_flag",
            },
        )
    )
    # rate as floor-ppm (bigint): quotients floor to integers per the
    # house cross-engine rule — ROUND(double) tie behavior differs
    return report.select(
        "check_name",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        "n_violations",
        F.floor(F.col("n_violations") * 1_000_000 / F.col("n_rows"))
        .cast("bigint")
        .alias("violation_ppm"),
    ).orderBy("check_name")


DATA_QUALITY_SQL = f"""
WITH o AS (
  SELECT orders.*, c.c_custkey AS fk_key
  FROM orders LEFT JOIN customer c ON c.c_custkey = orders.o_custkey
),
o_agg AS (
  SELECT COUNT(*) AS n_rows,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v_unique,
         CAST(SUM(CASE WHEN fk_key IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_fk,
         CAST(SUM(CASE WHEN o_totalprice <= 0 OR o_totalprice > {PRICE_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
         CAST(SUM(CASE WHEN o_orderdate IS NULL OR o_orderdate < '{DATE_LO}'
                        OR o_orderdate > '{DATE_HI}' THEN 1 ELSE 0 END) AS BIGINT) AS v_date,
         CAST(SUM(CASE WHEN o_orderstatus NOT IN {STATUS_DOMAIN!r} THEN 1 ELSE 0 END) AS BIGINT) AS v_status
  FROM o
),
l_agg AS (
  SELECT COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN l_quantity < {QTY_LO} OR l_quantity > {QTY_HI} THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
         CAST(SUM(CASE WHEN l_discount < {DISC_LO} OR l_discount > {DISC_HI} THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
         CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_flag
  FROM lineitem
),
rep AS (
  SELECT 'orders.o_orderkey_unique' AS check_name, n_rows, v_unique AS n_violations FROM o_agg
  UNION ALL SELECT 'orders.o_custkey_fk_customer', n_rows, v_fk FROM o_agg
  UNION ALL SELECT 'orders.o_totalprice_range', n_rows, v_price FROM o_agg
  UNION ALL SELECT 'orders.o_orderdate_bounds', n_rows, v_date FROM o_agg
  UNION ALL SELECT 'orders.o_orderstatus_domain', n_rows, v_status FROM o_agg
  UNION ALL SELECT 'lineitem.l_quantity_range', n_rows, v_qty FROM l_agg
  UNION ALL SELECT 'lineitem.l_discount_range', n_rows, v_disc FROM l_agg
  UNION ALL SELECT 'lineitem.l_returnflag_complete', n_rows, v_flag FROM l_agg
)
SELECT check_name, n_rows, n_violations,
       CAST(n_violations * 1000000 // n_rows AS BIGINT) AS violation_ppm
FROM rep
ORDER BY check_name
"""


# ---------------------------------------------------------------------------
# Snapshot diff (CDC)
#
# Two versions of `orders` are derived deterministically from the one
# source table: version A drops keys divisible by 97 (later inserts),
# version B drops keys divisible by 89 (deletes) and re-prices keys
# divisible by 13 (updates; exact double multiply — no rounding, so both
# engines compare bit-identically).
# ---------------------------------------------------------------------------

INS_MOD, DEL_MOD, CHG_MOD = 97, 89, 13


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify every key across two snapshot versions as inserted /
    deleted / changed / unchanged: one full-outer join on the key, then a
    4-way status aggregate (count + key-sum per status, a strong
    order-free signature). The join is the only shuffle; both sides
    partition on the key."""
    src = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    old = src.filter(F.col("o_orderkey") % INS_MOD != 0).select(
        "o_orderkey", F.col("o_totalprice").alias("old_price")
    )
    new = src.filter(F.col("o_orderkey") % DEL_MOD != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % CHG_MOD == 0, F.col("o_totalprice") * 1.1
        )
        .otherwise(F.col("o_totalprice"))
        .alias("new_price"),
    )
    j = old.join(new, "o_orderkey", "full_outer")
    status = (
        F.when(F.col("old_price").isNull(), F.lit("inserted"))
        .when(F.col("new_price").isNull(), F.lit("deleted"))
        .when(F.col("old_price") != F.col("new_price"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(status.alias("status"), "o_orderkey")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("status")
    )


SNAPSHOT_DIFF_SQL = f"""
WITH src AS (SELECT o_orderkey, o_totalprice FROM orders),
s_old AS (
  SELECT o_orderkey, o_totalprice AS old_price FROM src WHERE o_orderkey % {INS_MOD} <> 0
),
s_new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {CHG_MOD} = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS new_price
  FROM src WHERE o_orderkey % {DEL_MOD} <> 0
),
j AS (
  SELECT COALESCE(s_old.o_orderkey, s_new.o_orderkey) AS o_orderkey,
         old_price, new_price
  FROM s_old FULL OUTER JOIN s_new ON s_old.o_orderkey = s_new.o_orderkey
)
SELECT CASE WHEN old_price IS NULL THEN 'inserted'
            WHEN new_price IS NULL THEN 'deleted'
            WHEN old_price <> new_price THEN 'changed'
            ELSE 'unchanged' END AS status,
       COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM j
GROUP BY 1
ORDER BY status
"""


K_ANON = 5  # minimum group size for the quasi-identifier combination


def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit — the privacy gate a training-data release runs
    before shipping user-derived tables: group by the quasi-identifier
    combination (nation, market segment), flag groups smaller than
    K_ANON whose members could be re-identified by those attributes
    alone. One hash aggregation at any scale; the violating-group list
    is by definition small (each group < k rows). Suppression/
    generalization is then ``join(violators, 'left_anti')`` or coarsening
    the identifier — this operator is the measurement step."""
    cust = load_table(spark, "customer", sf_dir)
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .withColumn("violates_k", (F.col("group_size") < K_ANON).cast("int"))
        .orderBy("c_nationkey", "c_mktsegment")
    )


K_ANONYMITY_SQL = f"""
SELECT c_nationkey, c_mktsegment,
       COUNT(*) AS group_size,
       CAST(COUNT(*) < {K_ANON} AS INT) AS violates_k
FROM customer
GROUP BY c_nationkey, c_mktsegment
ORDER BY c_nationkey, c_mktsegment
"""


def table_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column auto-profile — the df.describe()/summary() role as an
    oracled long-format query: per numeric column, null count, distinct
    count, min/max/mean. The plain aggregates (count/nulls/min/max/mean)
    ride ONE wide codegen aggregation; the four exact distinct counts
    are deliberately NOT in that agg — multiple COUNT(DISTINCT) on
    different columns force the multi-distinct ``Expand`` plan (5
    projections × every row through the first-stage aggregate, the
    agg_approx_distinct anti-pattern). Instead one posexplode turns each
    row into 4 skinny (col_id, value) pairs whose two-level dedup agg
    partial-aggregates duplicates map-side, and a tiny pivot re-attaches
    the counts (r13 interleaved A/B: min-of-5 1.82 → 1.41 s, identical
    rows; plan Expand 2 → 0). Means come from the plain agg, so the
    summation arithmetic is byte-unchanged. This is the table-health
    dashboard query a warehouse runs after every load."""
    li = load_table(spark, "lineitem", sf_dir)
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    plain = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            a
            for c in cols
            for a in (
                F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
                F.round(F.min(c), 4).alias(f"{c}__min"),
                F.round(F.max(c), 4).alias(f"{c}__max"),
                F.round(F.avg(c), 4).alias(f"{c}__mean"),
            )
        ],
    )
    long = li.select(
        F.posexplode(F.array(*[F.col(c) for c in cols])).alias("cid", "v")
    )
    dist = (
        long.filter(F.col("v").isNotNull())
        .groupBy("cid", "v")
        .agg(F.lit(1))
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    dmap = dist.groupBy().pivot("cid", list(range(len(cols)))).agg(F.first("nd"))
    agg = plain.crossJoin(F.broadcast(dmap))
    profiles = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            # coalesce: an all-NULL column has no (cid, v) rows at all,
            # where COUNT(DISTINCT) reports 0
            F.coalesce(F.col(f"{i}").cast("long"), F.lit(0)).alias("n_distinct"),
            F.col(f"{c}__min").alias("min_val"),
            F.col(f"{c}__max").alias("max_val"),
            F.col(f"{c}__mean").alias("mean_val"),
        )
        for i, c in enumerate(cols)
    ]
    return (
        agg.select(F.explode(F.array(*profiles)).alias("p"))
        .select("p.*")
        .orderBy("col_name")
    )


_PROFILE_COLS_SQL = " UNION ALL ".join(
    f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       ROUND(MIN({c}), 4) AS min_val, ROUND(MAX({c}), 4) AS max_val,
       ROUND(AVG({c}), 4) AS mean_val
FROM lineitem"""
    for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
)

TABLE_PROFILE_SQL = f"""
SELECT * FROM ({_PROFILE_COLS_SQL})
ORDER BY col_name
"""


def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    anomaly screen for fabricated numeric data: observed first-digit
    shares vs log10(1 + 1/d) expectations plus each digit's chi-squared
    contribution. One scan, 9-row output. (TPC-H-style uniform prices do
    NOT follow Benford — the non-conformance itself is the demo: the
    audit flags synthetic data as synthetic.)"""
    orders = load_table(spark, "orders", sf_dir)
    d = F.substring(F.col("o_totalprice").cast("string"), 1, 1).cast("int")
    total = orders.count()
    byd = (
        orders.select(d.alias("digit"))
        .filter(F.col("digit").between(1, 9))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expected = F.log10(1 + 1 / F.col("digit"))
    return (
        byd.withColumn("share", F.round(F.col("n") / F.lit(total), 6))
        .withColumn("benford_share", F.round(expected, 6))
        .withColumn(
            "chi2_term",
            F.round(
                F.pow(F.col("n") - F.lit(total) * expected, 2) / (F.lit(total) * expected), 4
            ),
        )
        .orderBy("digit")
    )


BENFORD_SQL = """
WITH t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM orders),
byd AS (
  SELECT CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1) AS INT) AS digit,
         COUNT(*) AS n
  FROM orders
  WHERE CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1) AS INT) BETWEEN 1 AND 9
  GROUP BY 1
)
SELECT digit, n,
       ROUND(n / total, 6) AS share,
       ROUND(log10(1 + 1.0 / digit), 6) AS benford_share,
       ROUND(POW(n - total * log10(1 + 1.0 / digit), 2)
             / (total * log10(1 + 1.0 / digit)), 4) AS chi2_term
FROM byd, t
ORDER BY digit
"""


PSI_BUCKETS = 10


def psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the early and late halves of the
    order history — the standard production drift alarm for a numeric
    feature (PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25 shifted): bucket
    both periods on the REFERENCE period's equi-width grid, compare share
    vectors with Σ (p_b − p_a)·ln(p_b / p_a). One scan builds both
    period×bucket counts (conditional aggregation); the grid bounds are
    a broadcast 1-row agg over the reference period. Output keeps the
    per-bucket contributions (the actionable part: WHICH range moved)
    plus the total. Laplace-smoothed shares keep ln() finite when a
    bucket empties — smoothing is part of the contract and mirrored in
    the oracle."""
    orders = load_table(spark, "orders", sf_dir)
    # epoch-day ints, not CAST(ts AS DOUBLE): that cast is illegal on
    # TIMESTAMP_NTZ and tz-dependent on TIMESTAMP (the round-2 lesson)
    days = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
    split = orders.agg(F.expr(
        "percentile(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01'), 0.5)"
    ).alias("mid"))
    tagged = orders.crossJoin(F.broadcast(split)).withColumn(
        "period", F.when(days <= F.col("mid"), "ref").otherwise("cur")
    )
    ref_bounds = tagged.filter(F.col("period") == "ref").agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / PSI_BUCKETS
    bucket = F.least(
        F.greatest(
            F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("int"), F.lit(0)
        ),
        F.lit(PSI_BUCKETS - 1),
    )
    counts = (
        tagged.crossJoin(F.broadcast(ref_bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.sum((F.col("period") == "ref").cast("long")).alias("n_ref"),
            F.sum((F.col("period") == "cur").cast("long")).alias("n_cur"),
        )
        # bucket-sized (PSI_BUCKETS rows) but referenced twice (totals +
        # final join) — cache so the 3-pass fact chain runs once
        .transform(scache)
    )
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_ref = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 0.5 * PSI_BUCKETS)
    p_cur = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 0.5 * PSI_BUCKETS)
    return (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("psi_term", F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6))
        .select("bucket", "n_ref", "n_cur", "psi_term")
        .orderBy("bucket")
    )


PSI_SQL = f"""
WITH s AS (SELECT quantile_cont(CAST(o_orderdate AS DATE) - DATE '1970-01-01', 0.5) AS mid FROM orders),
tagged AS (
  SELECT o_totalprice,
         CASE WHEN CAST(o_orderdate AS DATE) - DATE '1970-01-01' <= mid THEN 'ref' ELSE 'cur' END AS period
  FROM orders, s
),
rb AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
       FROM tagged WHERE period = 'ref'),
counts AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - lo) / ((hi - lo) / {PSI_BUCKETS})) AS INT), 0),
               {PSI_BUCKETS - 1}) AS bucket,
         CAST(SUM(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM tagged, rb
  GROUP BY 1
),
tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM counts)
SELECT bucket, n_ref, n_cur,
       ROUND(((n_cur + 0.5) / (t_cur + 0.5 * {PSI_BUCKETS})
              - (n_ref + 0.5) / (t_ref + 0.5 * {PSI_BUCKETS}))
             * ln(((n_cur + 0.5) / (t_cur + 0.5 * {PSI_BUCKETS}))
                  / ((n_ref + 0.5) / (t_ref + 0.5 * {PSI_BUCKETS}))), 6) AS psi_term
FROM counts, tot
ORDER BY bucket
"""


def observed_write(df, path: str, metric_cols: list[str]) -> dict:
    """Write ``df`` to Parquet while collecting in-flight quality metrics
    with ``DataFrame.observe`` — row count plus per-column null counts and
    min/max — in the SAME pass as the write (Spark's Observation API
    attaches accumulator-backed aggregates to the plan; no second scan).
    This is the cheap always-on monitoring hook a 100 TB pipeline wants on
    every sink: the write you were doing anyway doubles as the profiler.
    Returns the metrics dict."""
    from pyspark.sql import Observation

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in metric_cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls"))
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    obs = Observation("write_quality")
    df.observe(obs, *aggs).write.mode("overwrite").parquet(path)
    return obs.get


# ---------------------------------------------------------------------------
# Schema-wide referential-integrity audit

# every FK edge in the star schema: (edge label, child table, child key,
# parent table, parent key)
_FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
)


def referential_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan audit over every FK edge in the schema: child rows whose key
    has no parent (SQL-NULL child keys are skipped — a NULL FK is absent,
    not broken). One row per edge: child_rows, orphans, orphan_pct.

    Scale: each edge is one broadcast LEFT join of the child's key column
    against the DISTINCT parent keys (dimension-sized — the largest
    parent here is customer), folded to a single aggregate row, so every
    child table is scanned once per edge with no fact-sized shuffle. The
    eight per-edge aggregates union into an 8-row report. For a
    fact→fact edge you'd swap the broadcast for a shuffle join; the
    report shape is unchanged."""
    report = None
    for label, child_t, ckey, parent_t, pkey in _FK_EDGES:
        child = (
            load_table(spark, child_t, sf_dir)
            .select(F.col(ckey).alias("k"))
            .filter(F.col("k").isNotNull())
        )
        parent = (
            load_table(spark, parent_t, sf_dir)
            .select(F.col(pkey).alias("k"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        edge = (
            child.join(F.broadcast(parent), "k", "left")
            .agg(
                F.count(F.lit(1)).alias("child_rows"),
                F.sum(F.col("hit").isNull().cast("int")).alias("orphans"),
            )
            .select(
                F.lit(label).alias("fk_edge"),
                "child_rows",
                "orphans",
                F.round(F.col("orphans") / F.col("child_rows"), 4).alias("orphan_pct"),
            )
        )
        report = edge if report is None else report.unionByName(edge)
    return report.orderBy("fk_edge")


_RI_EDGE_SQL = """
SELECT '{label}' AS fk_edge,
       COUNT(*) AS child_rows,
       CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphans,
       ROUND(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
         AS orphan_pct
FROM (SELECT {ckey} AS k FROM {child} WHERE {ckey} IS NOT NULL) c
LEFT JOIN (SELECT DISTINCT {pkey} AS k FROM {parent}) p ON c.k = p.k
"""

REFERENTIAL_INTEGRITY_SQL = (
    "\nUNION ALL\n".join(
        _RI_EDGE_SQL.format(label=label, child=child, ckey=ckey, parent=parent, pkey=pkey)
        for label, child, ckey, parent, pkey in _FK_EDGES
    )
    + "\nORDER BY fk_edge"
)


# ---------------------------------------------------------------------------
# Cross-fact reconciliation (header totals vs detail sums)


def order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The financial-close audit: does each order header's
    ``o_totalprice`` reconcile with the sum of its line items
    (extendedprice·(1−discount)·(1+tax))? Emits a relative-difference
    histogram — exact-match / <1% / <5% / ≥5% / detail-missing — plus
    each bucket's order count and total header value at stake. On books
    that close, everything lands in the first bucket; the synthetic
    testdata deliberately doesn't, which is exactly what the report is
    for.

    Scale: ONE fact-fact shuffle join on the order key (both sides
    pre-aggregated or keyed on it), then a 5-row conditional aggregate.
    This is the reconciliation shape for any header/detail pair —
    invoices/payments, shipments/manifests, ledger/subledger."""
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    li = load_table(spark, "lineitem", sf_dir)
    detail = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).alias("detail_total")
    )
    j = orders.join(detail, orders.o_orderkey == detail.l_orderkey, "left")
    rel = F.abs(F.col("detail_total") - F.col("o_totalprice")) / F.col("o_totalprice")
    bucket = (
        F.when(F.col("detail_total").isNull(), "4_detail_missing")
        .when(rel < 1e-9, "0_exact")
        .when(rel < 0.01, "1_under_1pct")
        .when(rel < 0.05, "2_under_5pct")
        .otherwise("3_over_5pct")
    )
    return (
        j.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("header_value"),
        )
        .orderBy("bucket")
    )


ORDER_RECONCILIATION_SQL = """
WITH detail AS (
  SELECT l_orderkey,
         SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS detail_total
  FROM lineitem GROUP BY l_orderkey
), j AS (
  SELECT o_totalprice, detail_total,
         ABS(detail_total - o_totalprice) / o_totalprice AS rel
  FROM orders LEFT JOIN detail ON o_orderkey = l_orderkey
)
SELECT CASE WHEN detail_total IS NULL THEN '4_detail_missing'
            WHEN rel < 1e-9 THEN '0_exact'
            WHEN rel < 0.01 THEN '1_under_1pct'
            WHEN rel < 0.05 THEN '2_under_5pct'
            ELSE '3_over_5pct' END AS bucket,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS header_value
FROM j
GROUP BY 1
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Right-to-erasure cascade audit (GDPR delete scoping)

# conservative per-row bytes for a single-long key row in a broadcast hashed
# relation (8 data bytes + hashed-relation overhead), same model as
# graph._KCORE_ROW_BYTES
_ERASE_KEY_ROW_BYTES = 16


def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scope a right-to-erasure request BEFORE executing it: for a
    deterministic erase cohort (every 97th customer key), count the rows
    each table would lose, following the FK graph transitively —
    customer directly, orders via o_custkey, lineitem via its orders
    (two hops), events via user_id. One row per table with totals and
    the erased fraction; the delete itself is then anti-join writes of
    exactly these row sets.

    Scale: the cohort is customer-keyed and dimension-sized, so every
    single-hop count is a broadcast semi join folded into an aggregate.
    The two-hop lineitem count chains a broadcast semi join
    (orders→cohort) into a FACT-FACT semi join on l_orderkey — that one
    is the real shuffle, and it's the irreducible one: erasure cascades
    through fact-to-fact edges exactly once per hop. The order-key set
    feeding it is fact-derived, so its broadcast is size-gated on the
    measured key count vs the session broadcast threshold (same pattern
    as graph._semi_join_survivors); past the ceiling the join degrades
    to a shuffle instead of failing."""
    cohort = (
        load_table(spark, "customer", sf_dir)
        .filter(F.col("c_custkey") % 97 == 0)
        .select(F.col("c_custkey").alias("k"))
        .transform(scache)  # dimension-sized erase set, broadcast into 4 audits
    )

    def _audit(
        df: DataFrame,
        key: str,
        table: str,
        keys: DataFrame = None,
        hint_broadcast: bool = True,
    ) -> DataFrame:
        # ONE scan per table: broadcast LEFT join against the (unique-key)
        # erase set and fold total + erased into a single conditional
        # aggregate — the semi-join-then-rescan form cost two scans per
        # table (13 FileScans for the whole audit; this shape halves it).
        # hint_broadcast=False drops the hint for key sets whose size was
        # measured to exceed the session broadcast threshold; the left
        # join then shuffles on the key like any fact-fact semi join.
        ks = cohort if keys is None else keys
        kcol = ks.columns[0]
        side = F.broadcast(ks) if hint_broadcast else ks
        joined = df.join(side, F.col(key) == F.col(kcol), "left")
        return joined.agg(
            F.count(F.lit(1)).alias("rows_total"),
            F.count(kcol).alias("rows_erased"),
        ).select(
            F.lit(table).alias("table_name"),
            "rows_total",
            "rows_erased",
            F.round(F.col("rows_erased") / F.col("rows_total"), 4).alias("erased_pct"),
        )

    customer = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    events = load_table(spark, "events", sf_dir)

    # two-hop key set: o_orderkey (unique, orders pk) of erased orders —
    # FACT-derived (1/97 of orders), so the broadcast is size-GATED, not
    # assumed: materialize the key set once (cached — the count below and
    # the lineitem audit share it), measure its cardinality, and only
    # hint the broadcast while it fits under the session threshold. Past
    # that (100× scale, or broadcast disabled) the audit join degrades to
    # a shuffle on l_orderkey instead of failing on the broadcast ceiling.
    erased_order_keys = (
        orders.join(F.broadcast(cohort), orders.o_custkey == F.col("k"), "left_semi")
        .select("o_orderkey")
        .transform(scache)
    )
    n_keys = erased_order_keys.count()
    fits = fits_broadcast(spark, n_keys, _ERASE_KEY_ROW_BYTES)
    report = (
        _audit(customer, "c_custkey", "customer")
        .unionByName(_audit(orders, "o_custkey", "orders"))
        .unionByName(
            _audit(
                lineitem,
                "l_orderkey",
                "lineitem",
                keys=erased_order_keys,
                hint_broadcast=fits,
            )
        )
        .unionByName(_audit(events, "user_id", "events"))
    )
    return report.orderBy("table_name")


GDPR_ERASURE_SQL = """
WITH cohort AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0)
SELECT 'customer' AS table_name,
       (SELECT COUNT(*) FROM customer) AS rows_total,
       (SELECT COUNT(*) FROM customer WHERE c_custkey IN (SELECT k FROM cohort)) AS rows_erased,
       ROUND((SELECT COUNT(*) FROM customer WHERE c_custkey IN (SELECT k FROM cohort)) * 1.0
             / (SELECT COUNT(*) FROM customer), 4) AS erased_pct
UNION ALL
SELECT 'orders',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders WHERE o_custkey IN (SELECT k FROM cohort)),
       ROUND((SELECT COUNT(*) FROM orders WHERE o_custkey IN (SELECT k FROM cohort)) * 1.0
             / (SELECT COUNT(*) FROM orders), 4)
UNION ALL
SELECT 'lineitem',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IN
          (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM cohort))),
       ROUND((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IN
          (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM cohort))) * 1.0
             / (SELECT COUNT(*) FROM lineitem), 4)
UNION ALL
SELECT 'events',
       (SELECT COUNT(*) FROM events),
       (SELECT COUNT(*) FROM events WHERE user_id IN (SELECT k FROM cohort)),
       ROUND((SELECT COUNT(*) FROM events WHERE user_id IN (SELECT k FROM cohort)) * 1.0
             / (SELECT COUNT(*) FROM events), 4)
ORDER BY table_name
"""


QUERIES = {
    "data_quality_report": data_quality_report,
    "snapshot_diff": snapshot_diff,
    "k_anonymity_report": k_anonymity_report,
    "table_profile_lineitem": table_profile_lineitem,
    "benford_first_digit": benford_first_digit,
    "psi_price_drift": psi_price_drift,
    "referential_integrity_report": referential_integrity_report,
    "gdpr_erasure_audit": gdpr_erasure_audit,
    "order_total_reconciliation": order_total_reconciliation,
}

ORACLES = {
    "referential_integrity_report": REFERENTIAL_INTEGRITY_SQL,
    "gdpr_erasure_audit": GDPR_ERASURE_SQL,
    "order_total_reconciliation": ORDER_RECONCILIATION_SQL,
    "data_quality_report": DATA_QUALITY_SQL,
    "snapshot_diff": SNAPSHOT_DIFF_SQL,
    "k_anonymity_report": K_ANONYMITY_SQL,
    "table_profile_lineitem": TABLE_PROFILE_SQL,
    "benford_first_digit": BENFORD_SQL,
    "psi_price_drift": PSI_SQL,
}
