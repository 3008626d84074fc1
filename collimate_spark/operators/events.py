"""Event-stream analytics (batch form): JSON extraction, tumbling and
sliding event-time windows, gap-based sessionization, pivot.

These are the batch-semantics twins of the streaming pipeline in
``collimate_spark.streaming`` (the reference delegates streaming to its
un-vendored `beam` sibling — README.md:3 — so the semantics here define
what the stream must produce). Tumbling/sliding windows align to the Unix
epoch exactly like Spark Structured Streaming's ``window()``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession, Window

from collimate_spark.catalog import load_table
from collimate_spark.scratch import scache


def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON extraction from the ``props`` string column via
    ``from_json`` (JVM-side, no UDF), aggregated per event type."""
    ev = load_table(spark, "events", sf_dir)
    schema = T.StructType([T.StructField("k", T.LongType())])
    return (
        ev.withColumn("props_k", F.from_json("props", schema).getField("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("props_k").alias("sum_k"),
            F.min("props_k").alias("min_k"),
            F.max("props_k").alias("max_k"),
        )
        .orderBy("event_type")
    )


JSON_EXTRACT_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day tumbling event-time windows per event type — same operator
    Structured Streaming uses (``F.window``), run on the static table."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
        .orderBy("window_start", "event_type")
    )


TUMBLING_SQL = """
SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS window_start, event_type,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day windows sliding by 1 day: each event lands in 7 windows
    (Spark expands via the same Expand operator streaming uses)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "7 days", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
        .orderBy("window_start")
    )


SLIDING_SQL = """
SELECT DATE_TRUNC('day', ts) - INTERVAL (o) DAY AS window_start,
       COUNT(*) AS n_events
FROM events, UNNEST(ARRAY[0, 1, 2, 3, 4, 5, 6]) AS t(o)
GROUP BY 1
ORDER BY window_start
"""


def sessionization_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → new-session flag
    → cumulative-sum session id → per-user session stats. One shuffle on
    user_id; per-user state only — the batch twin of
    ``session_window(ts, '30 minutes')`` in streaming."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (
                F.col("prev_ts").isNull()
                # timestampdiff(MICROSECOND, ...) is sub-second exact (matches
                # the oracle's EPOCH() doubles) and timezone-independent: it
                # works identically on TIMESTAMP_NTZ and TIMESTAMP under ANY
                # caller session tz — no NTZ→LTZ cast, so no DST hazard.
                | (F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > 1800 * 1_000_000)
            ).cast("int"),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.count(F.lit(1)) / F.max("session_id"), 4).alias("avg_events_per_session"),
        )
        .orderBy("user_id")
    )


SESSIONIZATION_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events,
       ROUND(COUNT(*) * 1.0 / SUM(new_session), 4) AS avg_events_per_session
FROM flagged
GROUP BY user_id
ORDER BY user_id
"""


def date_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine pattern: explode a per-order 7-day sequence
    (F.sequence of dates) and count events of the same user-bucket on each
    spine day — the gap-filling scaffold every calendar report needs
    (zero-days survive the left join)."""
    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderkey") < 100)
    events = load_table(spark, "events", sf_dir)
    spine = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % 10).alias("bucket"),
        F.explode(
            F.sequence(
                F.col("o_orderdate").cast("date"),
                F.date_add(F.col("o_orderdate").cast("date"), 6),
            )
        ).alias("day"),
    )
    ev_days = events.select(
        (F.col("user_id") % 10).alias("bucket"), F.col("ts").cast("date").alias("day")
    ).groupBy("bucket", "day").agg(F.count(F.lit(1)).alias("n_ev"))
    return (
        spine.join(ev_days, ["bucket", "day"], "left")
        .select(
            "o_orderkey",
            "day",
            F.coalesce(F.col("n_ev"), F.lit(0)).alias("n_events"),
        )
        .orderBy("o_orderkey", "day")
    )


DATE_SPINE_SQL = """
WITH spine AS (
  SELECT o_orderkey, o_custkey % 10 AS bucket,
         CAST(UNNEST(generate_series(CAST(o_orderdate AS DATE),
                                     CAST(o_orderdate AS DATE) + INTERVAL 6 DAY,
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM orders WHERE o_orderkey < 100
),
ev AS (
  SELECT user_id % 10 AS bucket, CAST(ts AS DATE) AS day, COUNT(*) AS n_ev
  FROM events GROUP BY 1, 2
)
SELECT o_orderkey, spine.day AS day, COALESCE(n_ev, 0) AS n_events
FROM spine LEFT JOIN ev USING (bucket, day)
ORDER BY o_orderkey, day
"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (scalable: no extra pass to
    discover pivot values, single shuffle)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
        .orderBy("user_id")
    )


PIVOT_SQL = """
SELECT user_id,
       COUNT(*) FILTER (event_type = 'click') AS click,
       COUNT(*) FILTER (event_type = 'error') AS error,
       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (event_type = 'signup') AS signup,
       COUNT(*) FILTER (event_type = 'view') AS view
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered two-step funnel (click → purchase) per user-day: a user
    converts on a day iff some purchase follows their first click that
    day. Expressed as two conditional min-aggregations per (user, day) —
    one shuffle, no self-join, no window: the scalable funnel shape (for
    k-step funnels, chain conditional mins the same way)."""
    ev = load_table(spark, "events", sf_dir)
    per_day = (
        ev.groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("last_purchase"),
        )
        .filter(F.col("first_click").isNotNull())
        .withColumn(
            "converted",
            (
                F.col("last_purchase").isNotNull()
                & (F.col("last_purchase") > F.col("first_click"))
            ).cast("int"),
        )
    )
    return (
        per_day.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_clickers"),
            F.sum("converted").cast("bigint").alias("n_converted"),
            F.round(F.sum("converted") / F.count(F.lit(1)), 4).alias("conv_rate"),
        )
        .orderBy("day")
    )


FUNNEL_SQL = """
WITH per_day AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
         MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
  FROM events
  GROUP BY 1, 2
)
SELECT day,
       COUNT(*) AS n_clickers,
       CAST(SUM(CASE WHEN last_purchase IS NOT NULL AND last_purchase > first_click
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
       ROUND(SUM(CASE WHEN last_purchase IS NOT NULL AND last_purchase > first_click
                      THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS conv_rate
FROM per_day
WHERE first_click IS NOT NULL
GROUP BY day
ORDER BY day
"""


MASK_MOD = 5  # event_id % MASK_MOD == 0 -> treat value as missing


def interpolate_missing_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: linearly interpolate missing sensor values
    per user between the nearest non-null neighbors (by position), with
    forward/backward fill at the series edges. Missingness is simulated
    deterministically (event_id % MASK_MOD == 0) so both engines mask the
    same rows.

    One window partition per user (two ignore-nulls passes over the same
    sort) — a single shuffle on user_id; the interpolation arithmetic is
    written identically in both engines so doubles match bit-for-bit."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "ts", "value"
    )
    masked = ev.withColumn(
        "v",
        F.when(F.col("event_id") % MASK_MOD == 0, F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    masked = masked.withColumn("rn", F.row_number().over(order))
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nn_rn = F.when(F.col("v").isNotNull(), F.col("rn"))
    prev_v = F.last("v", ignorenulls=True).over(w_prev)
    next_v = F.first("v", ignorenulls=True).over(w_next)
    prev_rn = F.last(nn_rn, ignorenulls=True).over(w_prev)
    next_rn = F.first(nn_rn, ignorenulls=True).over(w_next)
    ratio = (F.col("rn") - F.col("prev_rn")).cast("double") / (
        F.col("next_rn") - F.col("prev_rn")
    )
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(
            F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * ratio
        )
    )
    return (
        masked.withColumn("prev_v", prev_v)
        .withColumn("next_v", next_v)
        .withColumn("prev_rn", prev_rn)
        .withColumn("next_rn", next_rn)
        .select(
            "event_id",
            "user_id",
            "rn",
            F.col("v").alias("value_masked"),
            filled.alias("value_filled"),
        )
        .orderBy("event_id")
    )


INTERPOLATE_SQL = f"""
WITH masked AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_id % {MASK_MOD} = 0 THEN NULL ELSE value END AS v
  FROM events
),
rn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM masked
),
ctx AS (
  SELECT event_id, user_id, rn, v,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY rn
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_v,
         first_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY rn
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_v,
         last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY rn
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_rn,
         first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY rn
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_rn
  FROM rn
)
SELECT event_id, user_id, rn,
       v AS value_masked,
       CASE WHEN v IS NOT NULL THEN v
            WHEN prev_v IS NULL THEN next_v
            WHEN next_v IS NULL THEN prev_v
            ELSE prev_v + (next_v - prev_v)
                 * (CAST(rn - prev_rn AS DOUBLE) / (next_rn - prev_rn))
       END AS value_filled
FROM ctx
ORDER BY event_id
"""


MAX_RETENTION_WEEKS = 8


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-active week
    (Monday-truncated), then for each week offset 0..MAX_RETENTION_WEEKS
    the distinct users still active, and the rate vs the cohort size.
    Plan shape: ONE scan of the fact table → distinct (user, week) →
    min-week window keyed on user_id → (cohort, offset) aggregate →
    cohort-size window over the tiny aggregate. Windows instead of
    self-joins deliberately: a join back to a derived first-activity
    table re-executes the scan subtree per branch (the naive form scans
    the fact table 4×; .explain-verified), while this plan touches the
    100 TB side exactly once."""
    ev = load_table(spark, "events", sf_dir)
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    per_user = active.withColumn(
        "cohort_week", F.min("week").over(Window.partitionBy("user_id"))
    )
    per_offset = (
        per_user.withColumn(
            "week_offset", (F.datediff("week", "cohort_week") / 7).cast("int")
        )
        .filter(F.col("week_offset") <= MAX_RETENTION_WEEKS)
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    sized = per_offset.withColumn(
        "cohort_size",
        F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(
            Window.partitionBy("cohort_week")
        ),
    )
    return sized.select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 4).alias("retention_rate"),
    ).orderBy("cohort_week", "week_offset")


COHORT_SQL = f"""
WITH active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
),
first AS (
  SELECT user_id, MIN(week) AS cohort_week FROM active GROUP BY user_id
),
per_offset AS (
  SELECT cohort_week,
         CAST(date_diff('day', cohort_week, week) / 7 AS INT) AS week_offset,
         COUNT(DISTINCT a.user_id) AS n_active
  FROM active a JOIN first f ON a.user_id = f.user_id
  WHERE date_diff('day', cohort_week, week) / 7 <= {MAX_RETENTION_WEEKS}
  GROUP BY 1, 2
)
SELECT p.cohort_week, p.week_offset, p.n_active, s.n_active AS cohort_size,
       ROUND(p.n_active * 1.0 / s.n_active, 4) AS retention_rate
FROM per_offset p
JOIN per_offset s ON p.cohort_week = s.cohort_week AND s.week_offset = 0
ORDER BY p.cohort_week, p.week_offset
"""


def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy rollup the way a hypertable/continuous-aggregate
    system does it: aggregate the fact table ONCE at the finest grain
    (day), then derive every coarser grain (week, month) by re-aggregating
    the day-level table — which is calendar-sized, not fact-sized. At
    100 TB the fact table is touched exactly once; sums and counts
    re-aggregate losslessly (avg is derived as sum/count at read time,
    never rolled up directly). Output: one row per (grain, bucket)."""
    ev = load_table(spark, "events", sf_dir)
    day = (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sv"),
        )
    )
    day = day.localCheckpoint(eager=True)  # week/month re-aggregate THIS, not the scan
    week = (
        day.groupBy(F.date_trunc("week", "bucket").cast("date").alias("bucket"))
        .agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))
    )
    month = (
        day.groupBy(F.date_trunc("month", "bucket").cast("date").alias("bucket"))
        .agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))
    )
    out = (
        day.select(F.lit("day").alias("grain"), "bucket", "n_events", "sv")
        .unionByName(week.select(F.lit("week").alias("grain"), "bucket", "n_events", "sv"))
        .unionByName(month.select(F.lit("month").alias("grain"), "bucket", "n_events", "sv"))
    )
    return out.select(
        "grain",
        "bucket",
        "n_events",
        F.round("sv", 2).alias("sum_value"),
        F.round(F.col("sv") / F.col("n_events"), 4).alias("avg_value"),
    ).orderBy("grain", "bucket")


HYPERTABLE_SQL = """
WITH day AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS bucket,
         COUNT(*) AS n_events, SUM(value) AS sv
  FROM events GROUP BY 1
),
wk AS (
  SELECT CAST(date_trunc('week', bucket) AS DATE) AS bucket,
         CAST(SUM(n_events) AS BIGINT) AS n_events, SUM(sv) AS sv
  FROM day GROUP BY 1
),
mo AS (
  SELECT CAST(date_trunc('month', bucket) AS DATE) AS bucket,
         CAST(SUM(n_events) AS BIGINT) AS n_events, SUM(sv) AS sv
  FROM day GROUP BY 1
),
u AS (
  SELECT 'day' AS grain, * FROM day
  UNION ALL SELECT 'week', * FROM wk
  UNION ALL SELECT 'month', * FROM mo
)
SELECT grain, bucket, n_events,
       ROUND(sv, 2) AS sum_value,
       ROUND(sv / n_events, 4) AS avg_value
FROM u
ORDER BY grain, bucket
"""


def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (the finance/hypertable bar query): per (user,
    day), open = value at min ts, close = value at max ts, plus high/low.
    min_by/max_by keep it ONE hash aggregation — no rank window, no
    self-join; the classic two-pass formulations shuffle twice for the
    same answer. Event timestamps are micro-precision uniques, so the
    argmin/argmax ordering key is unambiguous."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.round(F.min_by("value", "ts"), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", "ts"), 2).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "day")
    )


OHLC_SQL = """
SELECT user_id, CAST(ts AS DATE) AS day,
       ROUND(arg_min(value, ts), 2) AS open,
       ROUND(MAX(value), 2) AS high,
       ROUND(MIN(value), 2) AS low,
       ROUND(arg_max(value, ts), 2) AS close,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY user_id, day
"""


def time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user — the irregular-series statistic a
    plain AVG gets wrong: each value is weighted by how long it was
    current (gap to the next observation, last-observation-carried-
    forward). Gap arithmetic via timestampdiff(MICROSECOND, ...) — exact
    and timezone-independent on the catalog's TIMESTAMP_NTZ contract.
    One window (lead) + one aggregation, both keyed on user_id."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("next_ts", F.lead("ts").over(w))
        .filter(F.col("next_ts").isNotNull())
        .withColumn("dur_us", F.expr("timestampdiff(MICROSECOND, ts, next_ts)"))
    )
    # Sums run in DECIMAL: `value` is a 2dp quantity stored as double,
    # so casting to decimal(18,2) recovers it exactly and the weighted
    # sums become association-free — a double sum's partial order
    # differs between engines and flipped a 4dp rounding boundary at
    # sf0.1 (44.94875 straddle). The final division runs in double over
    # IDENTICAL exact operands (decimal->double casts are correctly
    # rounded IEEE on both engines), so the quotient is bit-identical —
    # and it is emitted UNROUNDED: with 2dp numerators and small
    # interval counts the true quotient lands exactly on 4dp half-
    # boundaries (e.g. 4005.54/80 = 50.06925), where Spark's ROUND
    # (HALF_UP on the shortest decimal repr) and DuckDB's (binary
    # scaling) legitimately disagree. No rounding, no boundary.
    vd = F.col("value").cast("decimal(18,2)")
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            (
                F.sum(vd * F.col("dur_us")).cast("double")
                / F.sum("dur_us").cast("double")
            ).alias("twa"),
            (F.sum(vd).cast("double") / F.count(F.lit(1))).alias("plain_avg"),
        )
        .orderBy("user_id")
    )


TWA_SQL = """
WITH gaps AS (
  SELECT user_id, value,
         date_diff('microsecond', ts,
                   LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS dur_us
  FROM events
)
SELECT user_id,
       COUNT(*) AS n_intervals,
       CAST(SUM(CAST(value AS DECIMAL(18,2)) * dur_us) AS DOUBLE)
         / CAST(SUM(dur_us) AS DOUBLE) AS twa,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         / COUNT(*) AS plain_avg
FROM gaps
WHERE dur_us IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""


def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining: sessionize (30-min gap), take each session's first 5
    event types in time order, and count the most common journeys — the
    clickstream analysis behind funnel discovery. Session assembly is one
    user_id window; a row_number over the SAME user partitioning (no
    second shuffle — hashpartitioning(user_id) co-locates every
    (user, session) group) keeps only each session's first 5 events
    BEFORE the collect, so the aggregation sorts ≤5-element arrays
    instead of whole sessions; the path table that reaches the final count is |sessions| rows of
    ≤5-type strings, and the top-k is a TakeOrdered, not a global sort."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (
                F.col("prev_ts").isNull()
                | (F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > 1800 * 1_000_000)
            ).cast("int"),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    paths = (
        sess.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= 5)
        .groupBy("user_id", "session_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                ">", F.expr("transform(evs, e -> e.event_type)")
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


TOP_PATHS_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
paths AS (
  SELECT array_to_string(
           list_slice(list(event_type ORDER BY ts, event_id), 1, 5), '>') AS path
  FROM sess
  GROUP BY user_id, session_id
)
SELECT path, COUNT(*) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
"""


def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via Spark's NATIVE ``session_window`` operator
    (the same physical operator Structured Streaming uses for stateful
    sessionization) — one aggregation, no manual lag/cumsum. Oracled by
    the equivalent gap-merge SQL: a session is a maximal run of events
    with < 30 minutes between consecutive ones, and its window end is
    last_event + 30 min (Spark's session_window contract). Per user:
    session count, mean session event count, mean session span."""
    ev = load_table(spark, "events", sf_dir)
    sess = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return (
        sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.round(
                F.avg(F.expr("timestampdiff(MICROSECOND, w.start, w.end)") / 1e6), 4
            ).alias("avg_session_secs"),
        )
        .orderBy("user_id")
    )


SESSION_WINDOW_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) >= 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         EPOCH(MAX(ts)) + 1800 - EPOCH(MIN(ts)) AS span_secs
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       ROUND(AVG(span_secs), 4) AS avg_session_secs
FROM per_session
GROUP BY user_id
ORDER BY user_id
"""


def session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap sessions: Spark's ``session_window(ts, gap_expr)``
    where the inactivity allowance depends on the event itself
    (purchases hold a session open 60 minutes, everything else 30) —
    the per-event-TTL semantics fixed-gap sessionization can't express.
    Spark's contract: each event extends its session to ``ts + its own
    gap``; sessions merge while the next event starts before the running
    maximum end. The oracle reproduces exactly that with a running-max
    prefix window — cross-checking the native operator against the
    declarative definition. Output: per user, sessions / events / mean
    session seconds."""
    ev = load_table(spark, "events", sf_dir)
    gap = F.when(F.col("event_type") == "purchase", F.lit("60 minutes")).otherwise(
        F.lit("30 minutes")
    )
    sess = ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.round(
                F.avg(F.expr("timestampdiff(MICROSECOND, w.start, w.end)") / 1e6), 4
            ).alias("avg_session_secs"),
        )
        .orderBy("user_id")
    )


SESSION_DYNAMIC_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 3600 ELSE 1800 END AS gap_s
  FROM events
),
ends AS (
  SELECT user_id, ts, gap_s,
         MAX(ts + to_seconds(gap_s)) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS running_end
  FROM g
),
flagged AS (
  SELECT user_id, ts, gap_s,
         CASE WHEN running_end IS NULL OR ts >= running_end THEN 1 ELSE 0 END AS new_session
  FROM ends
),
sess AS (
  SELECT user_id, ts, gap_s,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id,
         COUNT(*) AS n_events,
         EPOCH(MAX(ts + to_seconds(gap_s))) - EPOCH(MIN(ts)) AS span_s
  FROM sess
  GROUP BY user_id, session_id
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       ROUND(AVG(span_s), 4) AS avg_session_secs
FROM per_session
GROUP BY user_id
ORDER BY user_id
"""


def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    ``parse_json`` once into the binary variant encoding, then typed
    ``variant_get`` path extraction and ``schema_of_variant`` inference —
    the open-schema path for JSON columns whose shape drifts (vs the
    fixed-schema ``from_json`` in json_extract_events). Variant decode
    is JVM-side and columnar; at 100 TB you parse once at ingest, store
    the variant column, and every later path read skips re-parsing.
    Output aggregates per inferred shape so drift is observable."""
    ev = load_table(spark, "events", sf_dir)
    v = ev.select(
        "event_type",
        F.parse_json("props").alias("v"),
    ).select(
        "event_type",
        F.expr("variant_get(v, '$.k', 'bigint')").alias("k"),
        F.expr("schema_of_variant(v)").alias("shape"),
    )
    return (
        v.groupBy("event_type", "shape")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type", "shape")
    )


VARIANT_PROPS_SQL = """
SELECT event_type,
       'OBJECT<k: BIGINT>' AS shape,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type, shape
"""


def conversion_time_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for each user's click → NEXT
    purchase pair (the funnel edge), the delay in seconds, summarized as
    exact quantiles + count per user-decile bucket. Delay computation is
    the forward-as-of carry (one user-partitioned window over the merged
    stream — no self-join); quantiles are exact ``percentile``.
    Microsecond-exact and tz-independent (timestampdiff, NTZ-safe)."""
    ev = load_table(spark, "events", sf_dir)
    stream = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    nxt = stream.withColumn(
        "next_purchase_ts",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("ts")), ignorenulls=True
        ).over(w),
    )
    delays = (
        nxt.filter((F.col("event_type") == "click") & F.col("next_purchase_ts").isNotNull())
        .select(
            (F.col("user_id") % 5).alias("user_bucket"),
            (F.expr("timestampdiff(MICROSECOND, ts, next_purchase_ts)") / 1e6).alias("delay_s"),
        )
    )
    return (
        delays.groupBy("user_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.expr("percentile(delay_s, 0.5D)"), 2).alias("p50_s"),
            F.round(F.expr("percentile(delay_s, 0.9D)"), 2).alias("p90_s"),
            F.round(F.max("delay_s"), 2).alias("max_s"),
        )
        .orderBy("user_bucket")
    )


CONVERSION_TIME_SQL = """
WITH stream AS (
  SELECT user_id, ts, event_id, event_type
  FROM events WHERE event_type IN ('click', 'purchase')
),
nxt AS (
  SELECT user_id, ts, event_type,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_purchase_ts
  FROM stream
),
delays AS (
  SELECT user_id % 5 AS user_bucket,
         EPOCH(next_purchase_ts) - EPOCH(ts) AS delay_s
  FROM nxt
  WHERE event_type = 'click' AND next_purchase_ts IS NOT NULL
)
SELECT user_bucket,
       COUNT(*) AS n_conversions,
       ROUND(quantile_cont(delay_s, 0.5), 2) AS p50_s,
       ROUND(quantile_cont(delay_s, 0.9), 2) AS p90_s,
       ROUND(MAX(delay_s), 2) AS max_s
FROM delays
GROUP BY user_bucket
ORDER BY user_bucket
"""


SDU_WINDOW_DAYS = 7


def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day DISTINCT active users per day — the windowed
    COUNT(DISTINCT) neither Spark nor DuckDB supports as a window
    function (distinct state is not frame-shrinkable). The scalable
    rewrite: reduce to distinct (day, user) pairs FIRST (one dedup
    shuffle collapses the fact table to activity grain), then each pair
    covers the SDU_WINDOW_DAYS report days it contributes to via an
    explode(sequence) — a bounded ×7 fan-out of the small activity table,
    NOT of the fact table — and one count-distinct per report day
    finishes. At 100 TB the footprint is |active-pairs|·7, independent
    of event volume; the HLL variant (windowed sketch-merge) drops the
    ×7 to ×1 at 2% error and is the hll_sketch_partitioned composition.
    Report days clip to the observed [min_day, max_day] so ramp-up days
    count only real history (and the fan-out needs no post-filter)."""
    ev = load_table(spark, "events", sf_dir)
    pairs = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    bounds = pairs.agg(F.max("day").alias("max_day"))
    covered = (
        pairs.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.least(
                        F.date_add(F.col("day"), SDU_WINDOW_DAYS - 1), F.col("max_day")
                    ),
                )
            ).alias("report_day"),
        )
    )
    return (
        covered.groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("n_active_users"))
        .orderBy("report_day")
    )


SLIDING_DISTINCT_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
b AS (SELECT MAX(day) AS max_day FROM pairs),
offs AS (SELECT unnest(range(0, {SDU_WINDOW_DAYS})) AS o),
covered AS (
  SELECT p.user_id, p.day + CAST(offs.o AS INT) AS report_day, b.max_day
  FROM pairs p, offs, b
)
SELECT report_day,
       COUNT(DISTINCT user_id) AS n_active_users
FROM covered
WHERE report_day <= max_day
GROUP BY 1
ORDER BY report_day
"""


# ---------------------------------------------------------------------------
# Sweep-line interval concurrency (max concurrent sessions per day)


def concurrent_sessions_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day, where each event opens a 30-minute
    session interval [ts, ts+30m): the sweep-line rewrite — every
    interval becomes a +1 boundary at its start and a −1 at its end, and
    concurrency at any boundary is the running sum of deltas in time
    order (ends sort before starts at the same instant: half-open
    intervals hand off, not overlap).

    Scale: a GLOBAL running sum is the classic single-partition trap;
    this plan is two-level — within-day prefix sums partitioned by day
    (bounded by a day's volume), plus a carry-in per day from the
    calendar-sized per-day delta totals (one tiny window). carry + local
    prefix ≡ the global prefix, same identity as distributed scan-sum.
    The oracle mirrors the identical two-level construction.

    r13 (guide §2.4): the boundary stream is built by EXPLODING each
    event into its (+1 at ts, −1 at ts+30m) pair from ONE events scan
    instead of unioning two scans, and is scratch-cached because both
    the per-day carry aggregate and the within-day prefix window read
    it — the uncached union form cost four fact scans (2 per
    reference). Same boundary multiset, so identical output."""
    ev = load_table(spark, "events", sf_dir)
    b = (
        ev.select(
            F.explode(
                F.array(
                    F.struct(F.col("ts"), F.lit(1).alias("d")),
                    F.struct(
                        F.expr("timestampadd(MINUTE, 30, ts)").alias("ts"),
                        F.lit(-1).alias("d"),
                    ),
                )
            ).alias("e")
        )
        .select("e.ts", "e.d")
        .withColumn("day", F.col("ts").cast("date"))
        .transform(scache)
    )
    daily = b.groupBy("day").agg(F.sum("d").alias("day_delta"))
    wd = Window.orderBy("day")
    carry = daily.withColumn(
        "carry_in",
        F.coalesce(
            F.sum("day_delta").over(wd.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ),
    ).select("day", "carry_in")
    wrun = Window.partitionBy("day").orderBy("ts", "d")  # default RANGE frame: ties share
    run = b.withColumn("local_run", F.sum("d").over(wrun))
    return (
        run.join(F.broadcast(carry), "day")
        .withColumn("conc", F.col("carry_in") + F.col("local_run"))
        .groupBy("day")
        .agg(
            F.sum((F.col("d") == 1).cast("int")).alias("n_sessions"),
            F.max("conc").alias("max_concurrent"),
        )
        .orderBy("day")
    )


CONCURRENCY_SQL = """
WITH b AS (
  SELECT ts, 1 AS d, CAST(ts AS DATE) AS day FROM events
  UNION ALL
  SELECT ts + INTERVAL 30 MINUTE, -1, CAST(ts + INTERVAL 30 MINUTE AS DATE) FROM events
), daily AS (
  SELECT day, SUM(d) AS day_delta FROM b GROUP BY day
), carry AS (
  SELECT day,
         COALESCE(SUM(day_delta) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry_in
  FROM daily
), run AS (
  SELECT b.day, b.d,
         c.carry_in + SUM(b.d) OVER (PARTITION BY b.day ORDER BY b.ts, b.d) AS conc
  FROM b JOIN carry c USING (day)
)
SELECT day,
       CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       CAST(MAX(conc) AS BIGINT) AS max_concurrent
FROM run
GROUP BY day
ORDER BY day
"""


# ---------------------------------------------------------------------------
# New-vs-returning daily decomposition


def new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users decomposed into first-ever-seen vs returning —
    the growth-accounting report: per day, active users, how many were
    new that day (their global first event), and the returning
    remainder. A user's first day comes from one groupBy(user_id) min;
    the decomposition joins that per-user frame back onto the
    per-(day, user) activity grid. first_day is user-cardinality (fact
    derived), NOT a bounded dimension — no broadcast hint, so the join
    reuses the user_id shuffle both sides already have (sort-merge /
    shuffled-hash) and there is no driver/executor broadcast ceiling at
    the 100 TB scale.

    Scale: two fact-sized aggregations (first-seen per user, distinct
    user-days) sharing the user-key shuffle, then dimension-sized work;
    no windows over facts."""
    ev = load_table(spark, "events", sf_dir)
    user_days = ev.select(F.col("user_id"), F.col("ts").cast("date").alias("day")).distinct()
    first_day = user_days.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        user_days.join(first_day, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum((F.col("day") == F.col("first_day")).cast("int")).alias("new_users"),
            F.sum((F.col("day") != F.col("first_day")).cast("int")).alias("returning_users"),
        )
        .orderBy("day")
    )


NEW_RETURNING_SQL = """
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), first_day AS (
  SELECT user_id, MIN(day) AS first_day FROM user_days GROUP BY user_id
)
SELECT day,
       COUNT(*) AS active_users,
       CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       CAST(SUM(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
FROM user_days JOIN first_day USING (user_id)
GROUP BY day
ORDER BY day
"""


# ---------------------------------------------------------------------------
# Longest activity streak (gaps-and-islands on the day grid)


def longest_daily_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user longest run of consecutive active days — the classic
    gaps-and-islands identity: among a user's distinct active days
    ordered ascending, ``day - row_number()`` is constant exactly within
    a consecutive run, so one window plus two groupBys yields every
    streak with no self-join and no iteration. Emits active-day count,
    streak count, and the longest streak per user.

    Scale: the fact table collapses to (user, day) distinct first (the
    only fact-sized shuffle); the window and both aggregations run on
    the per-user day grid (≤ calendar length each), all partitioned by
    the same user key — AQE coalesces the pipeline into back-to-back
    stages with no re-shuffle."""
    ev = load_table(spark, "events", sf_dir)
    days = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn("grp", F.date_sub("day", F.row_number().over(w)))
    streaks = islands.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.sum("len").alias("n_active_days"),
            F.count(F.lit(1)).alias("n_streaks"),
            F.max("len").alias("longest_streak"),
        )
        .orderBy("user_id")
    )


LONGEST_STREAK_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), islands AS (
  SELECT user_id,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS grp
  FROM days
), streaks AS (
  SELECT user_id, grp, COUNT(*) AS len FROM islands GROUP BY 1, 2
)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       COUNT(*) AS n_streaks,
       MAX(len) AS longest_streak
FROM streaks
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Multi-touch marketing attribution


def attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue attribution across the three classic models at once: each
    ``purchase`` event is a conversion worth its ``value``; the same
    user's non-purchase events in the preceding 24 hours are its
    touchpoints; each touch event_type then gets the conversion value
    under first-touch, last-touch, and linear (1/n per touch) credit.
    Conversions with no touches contribute nothing, and the three models
    each distribute exactly the same total (conservation, pinned in
    tests).

    Scale: touch assembly is an EQUI hash join on the user key with the
    24-hour window as a post-join filter — never a nested loop — and the
    per-conversion first/last/n ranks run on a window partitioned by the
    conversion id (high cardinality, bounded rows ≈ events/day/user).
    At 100 TB you'd pre-bucket both sides on the user key so the join
    and the window share one shuffle."""
    ev = load_table(spark, "events", sf_dir)
    touches_side = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", "event_id", "event_type"
    )
    convs = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("conv_ts"),
        F.col("value").alias("revenue"),
    )
    touches = touches_side.join(
        convs,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("ts") <= F.col("conv_ts"))
        & (F.col("ts") > F.expr("timestampadd(HOUR, -24, conv_ts)")),
    )
    w = Window.partitionBy("conv_id")
    asc = w.orderBy("ts", "event_id")
    desc = w.orderBy(F.col("ts").desc(), F.col("event_id").desc())
    ranked = (
        touches.withColumn("n_touch", F.count(F.lit(1)).over(w))
        .withColumn("rk_first", F.row_number().over(asc))
        .withColumn("rk_last", F.row_number().over(desc))
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(
                F.sum(F.when(F.col("rk_first") == 1, F.col("revenue")).otherwise(0.0)), 2
            ).alias("rev_first_touch"),
            F.round(
                F.sum(F.when(F.col("rk_last") == 1, F.col("revenue")).otherwise(0.0)), 2
            ).alias("rev_last_touch"),
            F.round(F.sum(F.col("revenue") / F.col("n_touch")), 2).alias("rev_linear"),
        )
        .orderBy("event_type")
    )


ATTRIBUTION_SQL = """
WITH convs AS (
  SELECT user_id AS c_user, event_id AS conv_id, ts AS conv_ts, value AS revenue
  FROM events WHERE event_type = 'purchase'
), touches AS (
  SELECT e.event_type, c.conv_id, c.revenue,
         COUNT(*) OVER (PARTITION BY c.conv_id) AS n_touch,
         ROW_NUMBER() OVER (PARTITION BY c.conv_id ORDER BY e.ts, e.event_id) AS rk_first,
         ROW_NUMBER() OVER (PARTITION BY c.conv_id ORDER BY e.ts DESC, e.event_id DESC) AS rk_last
  FROM events e
  JOIN convs c
    ON e.user_id = c.c_user
   AND e.ts <= c.conv_ts
   AND e.ts > c.conv_ts - INTERVAL 24 HOUR
  WHERE e.event_type <> 'purchase'
)
SELECT event_type,
       COUNT(*) AS n_touches,
       ROUND(SUM(CASE WHEN rk_first = 1 THEN revenue ELSE 0.0 END), 2) AS rev_first_touch,
       ROUND(SUM(CASE WHEN rk_last = 1 THEN revenue ELSE 0.0 END), 2) AS rev_last_touch,
       ROUND(SUM(revenue / n_touch), 2) AS rev_linear
FROM touches
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = {
    "json_extract_events": json_extract_events,
    "tumbling_window_agg": tumbling_window_agg,
    "sliding_window_agg": sliding_window_agg,
    "sessionization_gap": sessionization_gap,
    "pivot_event_counts": pivot_event_counts,
    "date_spine_fill": date_spine_fill,
    "funnel_conversion": funnel_conversion,
    "interpolate_missing_values": interpolate_missing_values,
    "cohort_retention": cohort_retention,
    "hypertable_rollup": hypertable_rollup,
    "ohlc_bars": ohlc_bars,
    "time_weighted_average": time_weighted_average,
    "top_event_paths": top_event_paths,
    "session_window_agg": session_window_agg,
    "sliding_distinct_users": sliding_distinct_users,
    "variant_props_stats": variant_props_stats,
    "conversion_time_quantiles": conversion_time_quantiles,
    "session_window_dynamic_gap": session_window_dynamic_gap,
    "attribution_multitouch": attribution_multitouch,
    "longest_daily_streak": longest_daily_streak,
    "concurrent_sessions_timeline": concurrent_sessions_timeline,
    "new_vs_returning_daily": new_vs_returning_daily,
}

ORACLES = {
    "concurrent_sessions_timeline": CONCURRENCY_SQL,
    "new_vs_returning_daily": NEW_RETURNING_SQL,
    "attribution_multitouch": ATTRIBUTION_SQL,
    "longest_daily_streak": LONGEST_STREAK_SQL,
    "ohlc_bars": OHLC_SQL,
    "top_event_paths": TOP_PATHS_SQL,
    "session_window_agg": SESSION_WINDOW_SQL,
    "time_weighted_average": TWA_SQL,
    "cohort_retention": COHORT_SQL,
    "hypertable_rollup": HYPERTABLE_SQL,
    "funnel_conversion": FUNNEL_SQL,
    "json_extract_events": JSON_EXTRACT_SQL,
    "tumbling_window_agg": TUMBLING_SQL,
    "sliding_window_agg": SLIDING_SQL,
    "sessionization_gap": SESSIONIZATION_SQL,
    "pivot_event_counts": PIVOT_SQL,
    "date_spine_fill": DATE_SPINE_SQL,
    "interpolate_missing_values": INTERPOLATE_SQL,
    "sliding_distinct_users": SLIDING_DISTINCT_SQL,
    "variant_props_stats": VARIANT_PROPS_SQL,
    "conversion_time_quantiles": CONVERSION_TIME_SQL,
    "session_window_dynamic_gap": SESSION_DYNAMIC_SQL,
}
