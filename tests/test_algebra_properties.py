"""Hypothesis properties for the algebraic identities the continuation
operators rely on: two-stage salted bottom-k ≡ global bottom-k, the
two-level sweep-line carry ≡ brute-force interval concurrency, and the
Morton interleave against a bit-twiddling reference. Each property runs
the REAL Spark expressions on generated data — the identity is what
makes the distributed plan exact, so it gets its own direct check."""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window

SLOW = settings(
    max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)

ids = st.lists(
    st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60, unique=True
)


@given(ids)
@SLOW
def test_two_stage_bottomk_equals_global(spark, doc_ids):
    """slice(sort(collect over salt)) merged again == global bottom-k for
    ANY id set: bottom-k by a fixed priority is a decomposable aggregate."""
    k = 5
    df = spark.createDataFrame([(i,) for i in doc_ids], "doc_id: long")
    pri = F.md5(F.col("doc_id").cast("string"))
    pick = F.struct(pri.alias("pri"), F.col("doc_id").alias("doc_id"))

    local = (
        df.groupBy(F.pmod(F.xxhash64("doc_id"), F.lit(8)).alias("salt"))
        .agg(F.slice(F.sort_array(F.collect_list(pick)), 1, k).alias("cand"))
        .select(F.explode("cand").alias("c"))
        .agg(F.slice(F.sort_array(F.collect_list("c")), 1, k).alias("picks"))
        .collect()[0]["picks"]
    )
    twostage = [r["doc_id"] for r in local]

    import hashlib

    expected = [
        d
        for _, d in sorted(
            (hashlib.md5(str(d).encode()).hexdigest(), d) for d in doc_ids
        )[:k]
    ]
    assert twostage == expected


intervals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=500),  # start minute
        st.integers(min_value=1, max_value=120),  # duration minutes
    ),
    min_size=1,
    max_size=40,
)


@given(intervals)
@SLOW
def test_sweepline_carry_equals_bruteforce_peak(spark, ivs):
    """Two-level (per-day prefix + day carry) peak concurrency == the
    brute-force max over boundary evaluations, for intervals that freely
    cross the day boundary (day = 240-minute blocks here)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for s, d in ivs:
        rows.append((base + dt.timedelta(minutes=s), 1))
        rows.append((base + dt.timedelta(minutes=s + d), -1))
    b = spark.createDataFrame(rows, "ts: timestamp_ntz, d: int").withColumn(
        "day", F.expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) / 60000000 AS LONG) DIV 240")
    )
    daily = b.groupBy("day").agg(F.sum("d").alias("dd"))
    wd = Window.orderBy("day")
    carry = daily.withColumn(
        "carry_in",
        F.coalesce(F.sum("dd").over(wd.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)),
    ).select("day", "carry_in")
    wrun = Window.partitionBy("day").orderBy("ts", "d")
    got = (
        b.withColumn("run", F.sum("d").over(wrun))
        .join(carry, "day")
        .agg(F.max(F.col("carry_in") + F.col("run")))
        .collect()[0][0]
    )

    # brute force: evaluate concurrency after processing each boundary in
    # (time, delta) order — ends (-1) before starts at the same instant
    bounds = sorted(
        [(s, 1) for s, _ in ivs] + [(s + d, -1) for s, d in ivs],
        key=lambda t: (t[0], t[1]),
    )
    peak, cur = 0, 0
    for _, delta in bounds:
        cur += delta
        peak = max(peak, cur)
    assert got == peak


@given(
    st.integers(min_value=0, max_value=65535), st.integers(min_value=0, max_value=65535)
)
@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_morton_interleave_matches_reference(spark, x, y):
    """The shared builder at 10 bits on ints (``zorder_cluster_stats``)
    and at 16 bits on longs (``storage.zorder_value``): bit b of input i
    lands at 2b + i."""
    from collimate_spark.sources.storage import ZORDER_BITS, morton_interleave

    for bits, dtype in ((10, "int"), (ZORDER_BITS, "bigint")):
        z = morton_interleave([F.lit(x).cast(dtype), F.lit(y).cast(dtype)], bits)
        df = spark.range(1).select(z.alias("z"))
        assert df.dtypes == [("z", dtype)]
        got = df.collect()[0]["z"]
        ref = 0
        for b in range(bits):
            ref |= ((x >> b) & 1) << (2 * b)
            ref |= ((y >> b) & 1) << (2 * b + 1)
        assert got == ref, (bits, x, y)


def test_range_frame_two_level_equals_single_level(spark, monkeypatch):
    """The (status, price-bucket) two-level prefix-sum mode of
    window_range_frame must be EXACTLY the single-level prefix-difference
    result — same rows, same doubles, same counts — at two SFs. The
    identity: prefix(<=x) = exclusive-cum(bucket totals < bucket(x)) +
    within-bucket-prefix(<=x), exact because every sum is DECIMAL
    (association-free recomposition). Both SFs sit under the two-level
    gate, so the gate constants are moved to take the two-level path."""
    from collimate_spark.operators import windows as W
    from collimate_spark.plans import plan_features

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        single = W.window_range_frame(spark, sf).collect()
        with monkeypatch.context() as m:
            m.setattr(W, "_TWO_LEVEL_MIN_BYTES", 1)
            m.setattr(W, "_TWO_LEVEL_ROWS_PER_PARTITION", 10)
            two_df = W.window_range_frame(spark, sf)
            assert single == two_df.collect()
            assert not plan_features(two_df)["has_cartesian"]


starts_strategy = st.lists(
    st.integers(min_value=0, max_value=400), min_size=1, max_size=40, unique=True
)


@given(starts_strategy)
@SLOW
def test_fixed_length_interval_union_formula(spark, starts):
    """dup_span_coverage's coverage identity: for fixed window length L,
    sum over SORTED starts of min(L, next−cur) (last start contributes L)
    equals |union of [s, s+L−1]| — checked with the REAL Spark window
    expression against a brute-force position set."""
    import pyspark.sql.functions as F

    L = 16
    brute = len({p for s in starts for p in range(s, s + L)})
    df = spark.createDataFrame([(s,) for s in starts], "pos: long")
    w = Window.partitionBy(F.lit(1)).orderBy("pos")
    got = (
        df.withColumn("nxt", F.lead("pos").over(w))
        .select(
            F.when(F.col("nxt").isNull(), F.lit(L))
            .otherwise(F.least(F.lit(L), F.col("nxt") - F.col("pos")))
            .alias("contrib")
        )
        .agg(F.sum("contrib"))
        .first()[0]
    )
    assert got == brute


corpus_strategy = st.lists(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=12),
    min_size=2,
    max_size=10,
)


@given(corpus_strategy)
@SLOW
def test_containment_prune_bounds_are_lossless(spark, raw_sets):
    """dedup_containment's three candidate prunes, verified jointly on
    random corpora (pure math — the plan itself is oracle-tested): for
    EVERY ordered pair with C(A→B) ≥ τ there must exist a shared element
    s with rank_A(s) ≤ |A|−⌈τ|A|⌉+1 (src prefix), rank_B(s) ≤
    |B|−⌈τ|A|⌉+1 (dst rank bound), and |B| ≥ ⌈τ|A|⌉ (size bound) — so
    the pruned candidate join cannot drop a true pair."""
    import math
    from collections import Counter

    tau = 0.6
    sets = [frozenset(x) for x in raw_sets]
    freq = Counter(e for s in sets for e in set(s))
    order = lambda e: (freq[e], e)  # noqa: E731 — the global total order
    for ia, A in enumerate(sets):
        for ib, B in enumerate(sets):
            if ia == ib:
                continue
            inter = A & B
            need = math.ceil(tau * len(A))
            if len(inter) < need or len(inter) / len(A) < tau:
                continue  # not a true pair
            assert len(B) >= need  # size bound can't reject it
            ranked_a = sorted(A, key=order)
            ranked_b = sorted(B, key=order)
            ok = any(
                ranked_a.index(s) + 1 <= len(A) - need + 1
                and ranked_b.index(s) + 1 <= len(B) - need + 1
                for s in inter
            )
            assert ok, (sorted(A), sorted(B))
