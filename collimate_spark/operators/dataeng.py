"""Warehouse-lifecycle operators: SCD Type-2 dimension build, CDC
merge-upsert, winsorized robust statistics, and the skyline (Pareto
frontier) query.

The reference converts raw files into columnar tables (index.js:552's
single-pass writer) and leaves table MAINTENANCE to the consumer
(SURVEY.md §2.2 "verified absent"); these are the canonical maintenance
operators a warehouse built on those tables needs, each expressed as
joins/windows so every step is shuffle-parallel.

Scale notes per operator are on the docstrings; the common rule: change
logs partition by their natural entity key (high cardinality, even),
metric tables reduce to one row per entity BEFORE any self-comparison,
and full-snapshot comparisons are single full-outer joins on the primary
key — never row loops, never driver state.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from collimate_spark.catalog import load_table
from collimate_spark.functions.quantiles import group_percentiles
from collimate_spark.scratch import scache
from collimate_spark.sources.storage import morton_interleave


def scd2_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build an SCD Type-2 dimension from a change log: each user's event
    stream is collapsed into runs of consecutive identical event types
    (gaps-and-islands), emitted as validity intervals with
    ``valid_from`` / ``valid_to`` / ``is_current``. Two window passes
    (lag → run-id cumsum) + one hash agg + one lead — all partitioned by
    user_id, so the plan reuses a single exchange. This is the exact
    shape of a production SCD2 build from CDC events at any scale."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn(
            "chg",
            F.when(
                F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")), 1
            ).otherwise(0),
        )
        .withColumn("run_id", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    seg = runs.groupBy("user_id", "run_id").agg(
        F.first("event_type").alias("segment"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return (
        seg.withColumn("valid_to", F.lead("valid_from").over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select("user_id", "segment", "valid_from", "valid_to", "n_events", "is_current")
        .orderBy("user_id", "valid_from")
    )


SCD2_SQL = """
WITH runs AS (
  SELECT user_id, event_type, ts,
         CASE WHEN LAG(event_type) OVER w IS NULL
                OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS run_id
  FROM runs
),
seg AS (
  SELECT user_id, run_id, MIN(event_type) AS segment,
         MIN(ts) AS valid_from, COUNT(*) AS n_events
  FROM islands GROUP BY user_id, run_id
)
SELECT user_id, segment, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
       n_events,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) IS NULL AS is_current
FROM seg
ORDER BY user_id, valid_from
"""


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE (upsert) expressed as a single full-outer join +
    coalesce — the engine-level shape of ``MERGE INTO`` without requiring
    a v2/ACID table format. Base snapshot = orders with key%100 < 90;
    delta = key%100 >= 80 with a 10%% price revision (so 80-89 exercise
    the UPDATE path and 90-99 the INSERT path). One shuffle on the
    primary key; the verification aggregate is a second tiny shuffle.
    At 100 TB this is exactly one co-partitioned join on the table's
    natural key — bucketing both snapshots by that key makes it
    shuffle-free. Money math is done in DECIMAL, not DOUBLE: a
    double-sum over the merged table differs across engines in the 2nd
    decimal purely from summation order; decimal sums are exact and
    order-free (and the final total, scale 2 and < 2^53 cents, casts
    back to double losslessly)."""
    orders = load_table(spark, "orders", sf_dir)
    price_dec = F.expr("CAST(o_totalprice AS DECIMAL(18,2))")
    base = orders.filter(F.col("o_orderkey") % 100 < 90).withColumn("o_totalprice", price_dec)
    delta = orders.filter(F.col("o_orderkey") % 100 >= 80).withColumn(
        "o_totalprice",
        F.round(price_dec * F.expr("CAST(1.1 AS DECIMAL(2,1))"), 2),
    )
    merged = (
        base.alias("b")
        .join(delta.alias("d"), on=F.col("b.o_orderkey") == F.col("d.o_orderkey"), how="full_outer")
        .select(
            F.coalesce("d.o_orderkey", "b.o_orderkey").alias("o_orderkey"),
            F.coalesce("d.o_orderstatus", "b.o_orderstatus").alias("o_orderstatus"),
            F.coalesce("d.o_totalprice", "b.o_totalprice").alias("o_totalprice"),
            F.col("d.o_orderkey").isNotNull().alias("from_delta"),
        )
    )
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("from_delta").cast("long")).alias("n_from_delta"),
            F.sum("o_totalprice").cast("double").alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


MERGE_UPSERT_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice
  FROM orders WHERE o_orderkey % 100 < 90
),
delta AS (
  SELECT o_orderkey, o_orderstatus,
         ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1)), 2)
           AS o_totalprice
  FROM orders WHERE o_orderkey % 100 >= 80
),
merged AS (
  SELECT COALESCE(d.o_orderkey, b.o_orderkey) AS o_orderkey,
         COALESCE(d.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
         COALESCE(d.o_totalprice, b.o_totalprice) AS o_totalprice,
         d.o_orderkey IS NOT NULL AS from_delta
  FROM base b FULL OUTER JOIN delta d ON b.o_orderkey = d.o_orderkey
)
SELECT o_orderstatus, COUNT(*) AS n_rows,
       CAST(SUM(CAST(from_delta AS BIGINT)) AS BIGINT) AS n_from_delta,
       CAST(SUM(o_totalprice) AS DOUBLE) AS sum_price
FROM merged
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (clamped to [p01, p99]) robust statistics of
    ``l_extendedprice`` per return flag. The exact percentile bounds are
    ONE tiny aggregate (two doubles) broadcast back over the fact table
    — the clamp itself is a narrow map, so the whole operator costs one
    full-table agg + one group agg regardless of scale. Exact
    ``percentile`` matches DuckDB's interpolating ``quantile_cont``."""
    li = load_table(spark, "lineitem", sf_dir)
    # sort-based exact bounds (functions/quantiles.py): bit-equal to
    # percentile(col, array(0.01, 0.99)) — the array-buffering
    # ObjectHashAggregate held every value in one final task
    # (r13 interleaved A/B: 2.98 s -> 2.22 s whole-query min-of-5,
    # every sample faster)
    bounds = group_percentiles(
        li.select("l_extendedprice"),
        [],
        "l_extendedprice",
        [(0.01, "p01"), (0.99, "p99")],
    )
    clamped = li.crossJoin(F.broadcast(bounds)).withColumn(
        "wins", F.least(F.greatest(F.col("l_extendedprice"), F.col("p01")), F.col("p99"))
    )
    return (
        clamped.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_raw"),
            F.round(F.avg("wins"), 4).alias("avg_wins"),
            F.round(F.min("wins"), 4).alias("min_wins"),
            F.round(F.max("wins"), 4).alias("max_wins"),
        )
        .orderBy("l_returnflag")
    )


WINSORIZE_SQL = """
WITH bounds AS (
  SELECT quantile_cont(l_extendedprice, 0.01) AS p01,
         quantile_cont(l_extendedprice, 0.99) AS p99
  FROM lineitem
)
SELECT l_returnflag, COUNT(*) AS n,
       ROUND(AVG(l_extendedprice), 4) AS avg_raw,
       ROUND(AVG(LEAST(GREATEST(l_extendedprice, p01), p99)), 4) AS avg_wins,
       ROUND(MIN(LEAST(GREATEST(l_extendedprice, p01), p99)), 4) AS min_wins,
       ROUND(MAX(LEAST(GREATEST(l_extendedprice, p01), p99)), 4) AS max_wins
FROM lineitem, bounds
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def skyline_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of suppliers on (revenue, n_orders):
    keep suppliers no other supplier dominates on both metrics. The fact
    table first reduces to ONE row per supplier (the only big shuffle);
    dominance is then a broadcast anti-join of the metric table against
    itself — |suppliers| is ~5 orders of magnitude below |lineitem|, so
    the quadratic comparison runs on the small reduced relation, the
    standard distributed-skyline shape (block-nested-loop over the
    reduced set)."""
    li = load_table(spark, "lineitem", sf_dir)
    metrics = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    ).transform(scache)  # both sides of the dominance join reuse one fact scan
    m, d = metrics.alias("m"), metrics.alias("d")
    dominated = (
        F.col("d.revenue") >= F.col("m.revenue")
    ) & (F.col("d.n_orders") >= F.col("m.n_orders")) & (
        (F.col("d.revenue") > F.col("m.revenue")) | (F.col("d.n_orders") > F.col("m.n_orders"))
    )
    return (
        m.join(F.broadcast(d), on=dominated, how="left_anti")
        .select(F.col("l_suppkey").alias("s_suppkey"), "revenue", "n_orders")
        .orderBy("s_suppkey")
    )


SKYLINE_SQL = """
WITH metrics AS (
  SELECT l_suppkey AS s_suppkey,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         COUNT(DISTINCT l_orderkey) AS n_orders
  FROM lineitem GROUP BY l_suppkey
)
SELECT m.s_suppkey, m.revenue, m.n_orders
FROM metrics m
WHERE NOT EXISTS (
  SELECT 1 FROM metrics d
  WHERE d.revenue >= m.revenue AND d.n_orders >= m.n_orders
    AND (d.revenue > m.revenue OR d.n_orders > m.n_orders)
)
ORDER BY m.s_suppkey
"""


def ivm_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a per-month order aggregate:
    instead of recomputing the view over the whole history when a delta
    batch arrives, combine the MATERIALIZED partial aggregate of the old
    data with the aggregate of just the delta (counts and decimal sums
    are commutative monoids, so partials merge exactly). The oracle is
    the DIRECT full aggregation — hash-equality proves the maintained
    view identical to recomputation. At 100 TB this is the difference
    between scanning a day and scanning a decade; the merge shuffles
    only |months| + |delta months| partial rows."""
    orders = load_table(spark, "orders", sf_dir).withColumn(
        "month", F.date_trunc("month", F.col("o_orderdate")).cast("date")
    ).withColumn("price", F.expr("CAST(o_totalprice AS DECIMAL(18,2))"))
    cutoff = "1997-01-01"
    partial_cols = [
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price").alias("sum_price"),
    ]
    base_agg = orders.filter(F.col("o_orderdate") < cutoff).groupBy("month").agg(*partial_cols)
    delta_agg = orders.filter(F.col("o_orderdate") >= cutoff).groupBy("month").agg(*partial_cols)
    return (
        base_agg.unionAll(delta_agg)
        .groupBy("month")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("sum_price").cast("double").alias("sum_price"),
        )
        .orderBy("month")
    )


IVM_SQL = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY 1
ORDER BY month
"""


PIT_SHIFT_MIN = 10  # probe instant = event ts + this many minutes


def pit_join_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: enrich a probe stream with the SCD2
    segment VALID AT each probe instant (probe = event ts shifted
    +PIT_SHIFT_MIN minutes — the late-arriving-fact shape, so probes
    genuinely cross segment boundaries instead of trivially landing in
    their own segment).

    Scale shape: the naive formulation is an interval join (equality on
    user + ``valid_from <= t < valid_to``), which blows up to
    |events|×|segments| per user before filtering. Here it's the union +
    ``last(ignorenulls)`` carry-forward window — segment starts and
    probes interleave on one per-user timeline, one shuffle, linear work
    (the same device as asof_join_events_orders). The DuckDB oracle runs
    the DIRECT interval join, so the window rewrite is cross-checked
    against the declarative semantics, boundary inclusivity included
    (``[valid_from, valid_to)``: a probe exactly on a boundary belongs to
    the NEWER segment — the ``is_seg`` sort key pins that).

    r14 (VERDICT r13 #3 — guide §2.4): both union arms now come from ONE
    events scan. A segment start is exactly a run-boundary row
    (``prev_type IS NULL OR prev_type <> event_type``): within a run the
    type is constant, so ``first(event_type)`` is the boundary row's
    type, and under the (ts, event_id) window order the boundary row's
    ts IS ``min(ts)`` of the run — i.e. scd2_user_segments' groupBy adds
    nothing the boundary row doesn't already carry. Each event therefore
    EXPLODES into its probe role (always) plus a segment-start role
    (boundary rows only) — the r13 blocked-pair one-explode device —
    producing the identical union multiset from one scan, and both
    windows share the same hashpartitioning(user_id) exchange. Plan:
    2 scans / 4 exchanges / 1 aggregate → 1 scan / 2 exchanges (the
    shared user_id hash exchange + the final orderBy's range exchange) /
    0 aggregates, pinned by test_plans.py's
    test_pit_join_scd2_single_scan_no_aggregate (before/after plans:
    ``git show c8a0ddf:plans/r14/pit_join_scd2_{before,after}.txt``). The SCD2
    dimension builder itself (scd2_user_segments) is untouched — this
    inlines only what the probe query needs."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tagged = (
        ev.select("user_id", "ts", "event_type", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn(
            "is_seg_start",
            F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")),
        )
    )
    roles = tagged.select(
        "user_id",
        "ts",
        "event_type",
        "event_id",
        F.explode(
            F.when(F.col("is_seg_start"), F.array(F.lit(0), F.lit(1))).otherwise(
                F.array(F.lit(0))
            )
        ).alias("is_seg"),
    )
    unioned = roles.select(
        "user_id",
        F.when(F.col("is_seg") == 1, F.col("ts"))
        .otherwise(F.expr(f"timestampadd(MINUTE, {PIT_SHIFT_MIN}, ts)"))
        .alias("t"),
        F.when(F.col("is_seg") == 1, F.col("event_type")).alias("segment"),
        "is_seg",
        F.when(F.col("is_seg") == 0, F.col("event_id")).alias("event_id"),
    )
    w2 = Window.partitionBy("user_id").orderBy(
        F.col("t").asc(), F.col("is_seg").desc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    return (
        unioned.withColumn("seg_at_t", F.last("segment", ignorenulls=True).over(w2))
        .filter(F.col("is_seg") == 0)
        .select("event_id", "user_id", F.col("t").alias("probe_ts"), F.col("seg_at_t").alias("segment"))
        .orderBy("event_id")
    )


PIT_JOIN_SQL = f"""
WITH runs AS (
  SELECT user_id, event_type, ts,
         CASE WHEN LAG(event_type) OVER w IS NULL
                OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS run_id
  FROM runs
),
seg AS (
  SELECT user_id, run_id, MIN(event_type) AS segment, MIN(ts) AS valid_from
  FROM islands GROUP BY user_id, run_id
),
dim AS (
  SELECT user_id, segment, valid_from,
         LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to
  FROM seg
),
probes AS (
  SELECT event_id, user_id, ts + INTERVAL {PIT_SHIFT_MIN} MINUTE AS probe_ts
  FROM events
)
SELECT p.event_id, p.user_id, p.probe_ts, d.segment
FROM probes p
JOIN dim d
  ON p.user_id = d.user_id
 AND p.probe_ts >= d.valid_from
 AND (d.valid_to IS NULL OR p.probe_ts < d.valid_to)
ORDER BY p.event_id
"""


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering for multi-dimensional data skipping

_Z_BITS = 10  # 10 bits per dimension → 20-bit z-values


def zorder_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-curve locality audit: z-order lineitem on
    (l_orderkey mod 1024, l_partkey mod 1024) and, per top-6-bit z range
    (64 contiguous curve segments — the would-be file boundaries of a
    z-clustered write), report row count and BOTH dimensions' min/max.
    The point of the numbers: every segment bounds every dimension to
    ~1/8 of its domain simultaneously — which is exactly why file-level
    min/max zone maps prune selective predicates on EITHER column after
    a z-ordered layout, where single-column sorting bounds only one.

    Scale: the z-value is 40 shift/mask expressions inside whole-stage
    codegen; the audit is one groupBy(64 keys). The companion write path
    (``repartitionByRange(z) + sortWithinPartitions(z)``, exercised in
    tests/test_zorder.py) is the standard two-shuffle layout job whose
    cost amortizes over every subsequent pruned scan."""
    li = load_table(spark, "lineitem", sf_dir)
    x = (F.col("l_orderkey") % 1024).cast("int")
    y = (F.col("l_partkey") % 1024).cast("int")
    seg = F.shiftright(morton_interleave([x, y], _Z_BITS), 2 * _Z_BITS - 6)
    return (
        li.select(x.alias("x"), y.alias("y"), seg.alias("z_segment"))
        .groupBy("z_segment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
        .orderBy("z_segment")
    )


def _z_sql_expr(x: str, y: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


ZORDER_STATS_SQL = f"""
WITH pts AS (
  SELECT CAST(l_orderkey % 1024 AS INT) AS x,
         CAST(l_partkey % 1024 AS INT) AS y
  FROM lineitem
), zed AS (
  SELECT x, y, ({_z_sql_expr("x", "y")}) >> {2 * _Z_BITS - 6} AS z_segment
  FROM pts
)
SELECT z_segment, COUNT(*) AS n_rows,
       MIN(x) AS min_x, MAX(x) AS max_x,
       MIN(y) AS min_y, MAX(y) AS max_y
FROM zed
GROUP BY z_segment
ORDER BY z_segment
"""


# ---------------------------------------------------------------------------
# Partition-layout advisor (prescriptive what-if over candidate keys)

# (label, grouping SQL expr) — candidates a warehouse would consider for
# write.partitionBy on orders
_PART_CANDIDATES = (
    ("month(o_orderdate)", "date_trunc('month', CAST(o_orderdate AS DATE))"),
    ("o_orderpriority", "o_orderpriority"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_custkey", "o_custkey"),
)
_PART_MIN_AVG_ROWS = 1_000  # below this, files are too small
_PART_MAX_PARTS = 10_000  # above this, metadata/listing cost dominates
_PART_MAX_SKEW = 10.0  # max/avg beyond this needs sub-bucketing


def partition_advisor_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What-if advisor for ``write.partitionBy`` on orders: for each
    candidate key, the partition count, avg/max rows per partition, the
    skew ratio, and a verdict — too_many_partitions (listing/metadata
    cost dominates), partitions_too_small (small-file problem),
    skewed (needs sub-bucketing/salting), or ok. The prescriptive twin
    of ``table_profile``/`join_skew_diagnostics`: it answers the layout
    question before any data is rewritten.

    Scale: one groupBy per candidate (each a single shuffle of partial
    counts), folded to one row each — the advisor costs seconds per
    candidate at any table size because only per-key COUNTS move. The
    thresholds are the knobs a real lakehouse advisor exposes."""
    orders = load_table(spark, "orders", sf_dir)
    orders.createOrReplaceTempView("orders_advisor_v")
    reports = []
    for label, expr in _PART_CANDIDATES:
        per_key = spark.sql(
            f"SELECT {expr} AS k, COUNT(*) AS n FROM orders_advisor_v GROUP BY 1"
        )
        agg = per_key.agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum("n").alias("total_rows"),
            F.round(F.avg("n"), 2).alias("avg_rows"),
            F.max("n").alias("max_rows"),
            F.round(F.max("n") / F.avg("n"), 2).alias("skew_ratio"),
        )
        verdict = (
            F.when(F.col("n_partitions") > _PART_MAX_PARTS, "too_many_partitions")
            .when(F.col("avg_rows") < _PART_MIN_AVG_ROWS, "partitions_too_small")
            .when(F.col("skew_ratio") > _PART_MAX_SKEW, "skewed")
            .otherwise("ok")
        )
        reports.append(
            agg.select(
                F.lit(label).alias("candidate"),
                "n_partitions",
                "total_rows",
                "avg_rows",
                "max_rows",
                verdict.alias("verdict"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("candidate")


_PART_ADVISOR_CASE = f"""
CASE WHEN n_partitions > {_PART_MAX_PARTS} THEN 'too_many_partitions'
     WHEN avg_rows < {_PART_MIN_AVG_ROWS} THEN 'partitions_too_small'
     WHEN skew_ratio > {_PART_MAX_SKEW} THEN 'skewed'
     ELSE 'ok' END"""

PARTITION_ADVISOR_SQL = "\nUNION ALL\n".join(
    f"""
SELECT '{label}' AS candidate, n_partitions, total_rows, avg_rows, max_rows,
       {_PART_ADVISOR_CASE} AS verdict
FROM (
  SELECT COUNT(*) AS n_partitions,
         CAST(SUM(n) AS BIGINT) AS total_rows,
         ROUND(AVG(n), 2) AS avg_rows,
         MAX(n) AS max_rows,
         ROUND(MAX(n) * 1.0 / AVG(n), 2) AS skew_ratio
  FROM (SELECT {expr} AS k, COUNT(*) AS n FROM orders GROUP BY 1)
)"""
    for label, expr in _PART_CANDIDATES
) + "\nORDER BY candidate"


# ---------------------------------------------------------------------------
# Column-encoding advisor (the prescriptive twin of the reference's
# dictionary/code-width selection — /root/reference/index.js k8/k16 rule)

# integer-valued lineitem columns the advisor scores (extendedprice as
# exact cents so delta-width math is integral)
_ENC_COLS = (
    ("l_orderkey", "l_orderkey"),
    ("l_partkey", "l_partkey"),
    ("l_suppkey", "l_suppkey"),
    ("l_linenumber", "CAST(l_linenumber AS BIGINT)"),
    ("l_extendedprice_cents", "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"),
)
_ENC_BLOCK = 4096  # run/delta stats computed within orderkey-blocks
_ENC_DICT_RATIO = 0.01  # distinct/n below this → dictionary
_ENC_RLE_RUN = 2.0  # avg run length at/above this → run-length
_ENC_DELTA_BITS = 16  # p95 |adjacent delta| fits → delta encoding


def encoding_advisor_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pick a physical encoding per column the way the reference picks
    dictionary code widths (index.js's k8/k16 rule), but from measured
    statistics: distinct ratio (→ dictionary), average run length in
    storage order (→ RLE), and the bit width of the 95th-percentile
    adjacent delta (→ delta encoding), else plain. On this schema the
    four recommendations all fire: orderkey runs (RLE), suppkey /
    linenumber low cardinality (dict), partkey narrow deltas (delta),
    extendedprice cents (plain) — the advisor's output is the encoding
    column of a real columnar writer's manifest.

    Scale: ONE pass computes every column's lag/run/delta flags inside
    windows partitioned by 4096-row orderkey BLOCKS (block-local runs
    differ from global runs by at most one per block — deterministic,
    and the window never needs a global sort), plus one wide aggregate
    with per-column exact distinct counts. Stacked long at the end.

    Caches the windowed fact stream and does not unpersist it (the
    returned lineage still reads it) — multi-query sessions should
    ``spark.catalog.clearCache()`` between queries; see the
    cache-lifetime contract in ``operators/__init__``."""
    li = load_table(spark, "lineitem", sf_dir)
    cols = {name: F.expr(sql) for name, sql in _ENC_COLS}
    base = li.select(
        F.expr(f"l_orderkey DIV {_ENC_BLOCK}").alias("blk"),
        F.col("l_orderkey").alias("ord_key"),
        F.col("l_linenumber").alias("ord_line"),
        *[c.alias(f"v_{n}") for n, c in cols.items()],
    )
    # (l_orderkey, l_linenumber) is NOT unique in the testdata; append
    # every value column so the storage order is total and run counts
    # are deterministic on both engines
    w = Window.partitionBy("blk").orderBy(
        "ord_key", "ord_line", *[f"v_{n}" for n, _ in _ENC_COLS]
    )
    flagged = base
    for n, _ in _ENC_COLS:
        prev = F.lag(f"v_{n}").over(w)
        flagged = flagged.withColumn(
            f"chg_{n}", (prev.isNull() | (F.col(f"v_{n}") != prev)).cast("long")
        ).withColumn(f"ad_{n}", F.abs(F.col(f"v_{n}") - prev))
    # five COUNT(DISTINCT) in one aggregate plan as an Expand that
    # replicates the WINDOWED stream 6× — so the stream is cached and
    # the distinct pass runs as its own agg beside the runs/percentile
    # agg (no expand there), 1-row results crossJoined back (measured
    # 4.1s → 2.8s at sf0.1). The exact p95 buffers every value; a
    # deterministic 1/16 orderkey-keyed sample is unbiased for the
    # delta distribution and shrinks the five ObjectHashAggregate
    # buffers 16× — both engines sample identically so parity is exact.
    flagged = flagged.transform(scache)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for n, _ in _ENC_COLS:
        aggs += [
            F.sum(f"chg_{n}").alias(f"runs_{n}"),
            F.expr(
                f"percentile(CASE WHEN ord_key % 16 = 0 THEN ad_{n} END, 0.95D)"
            ).alias(f"d95_{n}"),
        ]
    # r13: even alone, 5 COUNT(DISTINCT) on different columns plan as
    # the multi-distinct Expand — 6 projections of the cached stream
    # through the first-stage agg (the table_profile anti-pattern).
    # All five v_ columns are BIGINT, so one posexplode turns each row
    # into 5 skinny (cid, v) pairs whose two-level dedup agg collapses
    # duplicates map-side; a 1-row pivot re-attaches the counts.
    # coalesce(0) matches COUNT(DISTINCT) on an all-NULL column.
    long_vals = flagged.select(
        F.posexplode(
            F.array(*[F.col(f"v_{n}") for n, _ in _ENC_COLS])
        ).alias("cid", "v")
    )
    dist = (
        long_vals.filter(F.col("v").isNotNull())
        .groupBy("cid", "v")
        .agg(F.lit(1))
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    dmap = (
        dist.groupBy()
        .pivot("cid", list(range(len(_ENC_COLS))))
        .agg(F.first("nd"))
    )
    nd = dmap.select(
        *[
            F.coalesce(F.col(f"{i}").cast("long"), F.lit(0)).alias(f"nd_{n}")
            for i, (n, _) in enumerate(_ENC_COLS)
        ]
    )
    wide = flagged.agg(*aggs).crossJoin(F.broadcast(nd))
    stacked = wide.selectExpr(
        "n_rows",
        "stack({}, {}) AS (col_name, n_distinct, n_runs, d95)".format(
            len(_ENC_COLS),
            ", ".join(f"'{n}', nd_{n}, runs_{n}, d95_{n}" for n, _ in _ENC_COLS),
        ),
    )
    dr = F.col("n_distinct") / F.col("n_rows")
    avg_run = F.col("n_rows") / F.col("n_runs")
    bits = F.when(F.col("d95") < 1, F.lit(0)).otherwise(
        F.floor(F.log2(F.col("d95"))) + 1
    )
    rec = (
        F.when(dr < _ENC_DICT_RATIO, "dictionary")
        .when(avg_run >= _ENC_RLE_RUN, "rle")
        .when(bits <= _ENC_DELTA_BITS, "delta")
        .otherwise("plain")
    )
    return (
        stacked.select(
            "col_name",
            F.col("n_rows").cast("long").alias("n_rows"),
            "n_distinct",
            F.round(dr, 6).alias("distinct_ratio"),
            F.round(avg_run, 4).alias("avg_run_len"),
            bits.cast("long").alias("delta_p95_bits"),
            rec.alias("encoding"),
        )
        .orderBy("col_name")
    )


def _encoding_advisor_sql() -> str:
    lag_cols = ",\n         ".join(
        f"CASE WHEN LAG({sql}) OVER w IS NULL OR {sql} <> LAG({sql}) OVER w "
        f"THEN 1 ELSE 0 END AS chg_{n},\n         "
        f"ABS({sql} - LAG({sql}) OVER w) AS ad_{n}"
        for n, sql in _ENC_COLS
    )
    agg_cols = ",\n         ".join(
        f"COUNT(DISTINCT {sql}) AS nd_{n}, CAST(SUM(chg_{n}) AS BIGINT) AS runs_{n}, "
        f"quantile_cont(CASE WHEN l_orderkey % 16 = 0 THEN ad_{n} END, 0.95) AS d95_{n}"
        for n, sql in _ENC_COLS
    )
    stack_rows = "\n  UNION ALL ".join(
        f"SELECT n_rows, '{n}' AS col_name, nd_{n} AS n_distinct, runs_{n} AS n_runs, "
        f"d95_{n} AS d95 FROM wide"
        for n, _ in _ENC_COLS
    )
    order_cols = ", ".join(sql for _, sql in _ENC_COLS)
    return f"""
WITH flagged AS (
  SELECT l_orderkey // {_ENC_BLOCK} AS blk, *,
         {lag_cols}
  FROM lineitem
  WINDOW w AS (PARTITION BY l_orderkey // {_ENC_BLOCK}
               ORDER BY l_orderkey, l_linenumber,
                        {order_cols})
), wide AS (
  SELECT COUNT(*) AS n_rows, {agg_cols} FROM flagged
), stacked AS (
  {stack_rows}
)
SELECT col_name, n_rows, n_distinct,
       ROUND(n_distinct * 1.0 / n_rows, 6) AS distinct_ratio,
       ROUND(n_rows * 1.0 / n_runs, 4) AS avg_run_len,
       CAST(CASE WHEN d95 < 1 THEN 0 ELSE FLOOR(LOG2(d95)) + 1 END AS BIGINT)
         AS delta_p95_bits,
       CASE WHEN n_distinct * 1.0 / n_rows < {_ENC_DICT_RATIO} THEN 'dictionary'
            WHEN n_rows * 1.0 / n_runs >= {_ENC_RLE_RUN} THEN 'rle'
            WHEN (CASE WHEN d95 < 1 THEN 0 ELSE FLOOR(LOG2(d95)) + 1 END)
                 <= {_ENC_DELTA_BITS} THEN 'delta'
            ELSE 'plain' END AS encoding
FROM stacked
ORDER BY col_name
"""


# ---------------------------------------------------------------------------
# FIFO ledger allocation (inventory matching via the prefix-sum closed form)

_FIFO_STOCK = 500.0  # opening stock per part


def fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO inventory allocation: each part opens with 500 units; order
    lines consume it in (shipdate, orderkey, linenumber) arrival order.
    The naive formulation is a sequential scan of the ledger; the closed
    form is a prefix sum — a line's fill is
    ``clamp(stock - cum_demand_before, 0, qty)`` — so the whole
    allocation is ONE window pass partitioned by part, no iteration and
    no cross-row dependency beyond the cumulative sum. Per part:
    line counts by outcome (filled / short / refused) and total units
    allocated (exactly ≤ stock, pinned in tests).

    Scale: one hash shuffle on l_partkey, per-part windows sorted by the
    arrival key; partition width = lines-per-part, independent of table
    size. The same closed form prices FIFO cost-basis lots, matches
    payments to invoices, and drains any quota ledger."""
    li = load_table(spark, "lineitem", sf_dir)
    w = Window.partitionBy("l_partkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    cum_before = F.coalesce(
        F.sum("l_quantity").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0.0)
    )
    filled = F.greatest(
        F.lit(0.0), F.least(F.col("l_quantity"), F.lit(_FIFO_STOCK) - cum_before)
    )
    lines = li.select(
        "l_partkey",
        "l_quantity",
        filled.alias("filled"),
    )
    return (
        lines.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum((F.col("filled") >= F.col("l_quantity")).cast("int")).alias("n_filled"),
            F.sum(
                ((F.col("filled") > 0) & (F.col("filled") < F.col("l_quantity"))).cast("int")
            ).alias("n_short"),
            F.sum((F.col("filled") <= 0).cast("int")).alias("n_refused"),
            F.round(F.sum("filled"), 2).alias("units_allocated"),
        )
        .orderBy("l_partkey")
    )


FIFO_ALLOCATION_SQL = """
WITH lines AS (
  SELECT l_partkey, l_quantity,
         GREATEST(0.0, LEAST(l_quantity,
           500.0 - COALESCE(SUM(l_quantity) OVER (
             PARTITION BY l_partkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
         )) AS filled
  FROM lineitem
)
SELECT l_partkey,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN filled >= l_quantity THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
       CAST(SUM(CASE WHEN filled > 0 AND filled < l_quantity THEN 1 ELSE 0 END) AS BIGINT)
         AS n_short,
       CAST(SUM(CASE WHEN filled <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_refused,
       ROUND(SUM(filled), 2) AS units_allocated
FROM lines
GROUP BY l_partkey
ORDER BY l_partkey
"""


QUERIES = {
    "scd2_user_segments": scd2_user_segments,
    "merge_upsert_orders": merge_upsert_orders,
    "winsorize_stats": winsorize_stats,
    "skyline_suppliers": skyline_suppliers,
    "ivm_incremental_agg": ivm_incremental_agg,
    "pit_join_scd2": pit_join_scd2,
    "zorder_cluster_stats": zorder_cluster_stats,
    "fifo_allocation": fifo_allocation,
    "partition_advisor_orders": partition_advisor_orders,
    "encoding_advisor_lineitem": encoding_advisor_lineitem,
}

ORACLES = {
    "zorder_cluster_stats": ZORDER_STATS_SQL,
    "fifo_allocation": FIFO_ALLOCATION_SQL,
    "partition_advisor_orders": PARTITION_ADVISOR_SQL,
    "encoding_advisor_lineitem": _encoding_advisor_sql(),
    "scd2_user_segments": SCD2_SQL,
    "merge_upsert_orders": MERGE_UPSERT_SQL,
    "winsorize_stats": WINSORIZE_SQL,
    "skyline_suppliers": SKYLINE_SQL,
    "ivm_incremental_agg": IVM_SQL,
    "pit_join_scd2": PIT_JOIN_SQL,
}
