"""Skew-handling invariants: salted_join must agree with a plain join
under a heavily skewed key distribution; the pairs.py chunk grid must emit
the exact pair set of a plain self-join while bounding per-task candidate
volume for oversized groups (hot LSH bands, oversized embedding
clusters); fits_broadcast must read every form of the broadcast
threshold."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from collimate_spark.functions.pairs import _chunk_groups, bucket_pairs
from collimate_spark.functions.skew import fits_broadcast, salted_join


def _skewed_frames(spark):
    # 90% of left rows share key 0 — the power-law hot key
    left = spark.range(0, 10000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("left_val"),
    )
    right = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("right_val")
    )
    return left, right


def test_salted_join_matches_plain_inner(spark):
    left, right = _skewed_frames(spark)
    plain = left.join(right, "k").groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("right_val").alias("s")
    )
    salted = salted_join(left, right, "k").groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("right_val").alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_outer(spark):
    left, right = _skewed_frames(spark)
    # left-outer keeps unmatched left rows exactly once
    right_sub = right.filter(F.col("k") < 50)
    plain = left.join(right_sub, "k", "left")
    salted = salted_join(left, right_sub, "k", how="left")
    assert plain.count() == salted.count()
    assert (
        salted.filter(F.col("right_val").isNull()).count()
        == plain.filter(F.col("right_val").isNull()).count()
    )


def test_bounded_pairs_task_volume_capped(spark):
    """No (bucket, chunk-pair) task generates more than ~cap² candidates —
    the property that kills the single quadratic straggler — and an
    under-cap bucket stays one (0,0) task (no replication)."""
    # bucket 0 has 600 members (oversized vs cap=100), bucket 1 has 40
    banded = (
        spark.range(0, 600)
        .select(F.col("id").alias("doc_id"), F.lit(0).alias("band_hash"))
        .unionByName(
            spark.range(1000, 1040).select(
                F.col("id").alias("doc_id"), F.lit(1).alias("band_hash")
            )
        )
        .withColumn("band", F.lit(0))
    )
    cap = 100
    n_a = F.size(F.filter("ms", lambda m: m["side"] == 0))
    n_b = F.size(F.filter("ms", lambda m: m["side"] == 1))
    per_task = (
        _chunk_groups(banded, ["band", "band_hash"], cap)
        .select(
            "band_hash",
            "ci",
            "cj",
            F.when(F.col("ci") == F.col("cj"), n_a * (n_a - 1) / 2)
            .otherwise(n_a * n_b)
            .alias("n"),
        )
        .collect()
    )
    # the groups are exactly what bucket_pairs expands: one band, so no
    # pair is emitted twice and the task volumes sum to its output
    assert sum(r.n for r in per_task) == bucket_pairs(
        banded, "band", "band_hash", cap=cap
    ).count() == 600 * 599 // 2 + 40 * 39 // 2
    hot_tasks = [r for r in per_task if r.band_hash == 0]
    assert len(hot_tasks) > 1, "oversized bucket was not chunked"
    # chunks are hash-balanced, not exact — allow 2× slack over cap² per
    # task; the point is no task holds anything near the unchunked
    # 600·599/2 ≈ 180k pairs
    assert all(r.n <= 2 * cap * cap for r in per_task)
    assert max(r.n for r in hot_tasks) < 0.2 * (600 * 599 / 2)
    cold_tasks = [(r.ci, r.cj) for r in per_task if r.band_hash == 1]
    assert cold_tasks == [(0, 0)]


def test_hot_lsh_band_bounded_and_green(spark, tmp_path):
    """Adversarial hot band: many identical docs share every MinHash band
    bucket. The capped bucket_pairs must route the oversized buckets
    through the chunked path and still emit the exact candidate set."""
    n_hot = 120
    rows = [(i, 77) for i in range(n_hot)] + [(1000 + i, 900 + i) for i in range(30)]
    banded = spark.createDataFrame(rows, "doc_id: long, band_hash: long").withColumn(
        "band", F.lit(0)
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in bucket_pairs(banded, "band", "band_hash", cap=50).collect()
    }
    want = {(i, j) for i in range(n_hot) for j in range(i + 1, n_hot)}
    assert got == want


def test_bucket_pairs_property(spark):
    """Property: bucket_pairs equals the brute-force per-bucket pair set
    for arbitrary bucket sizes straddling the cap — guards both emit
    paths (the literal (0,0) fast path for under-cap buckets and the
    chunk-replica path), including buckets shared across bands."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        sizes=st.lists(st.integers(min_value=1, max_value=30), min_size=1, max_size=3),
        cap=st.integers(min_value=2, max_value=12),
    )
    def check(sizes, cap):
        rows = []
        base = 0
        for bi, s in enumerate(sizes):
            rows += [(base + k, bi) for k in range(s)]
            base += 1000
        banded = spark.createDataFrame(rows, "doc_id: long, band_hash: long").withColumn(
            "band", F.lit(0)
        )
        got = {
            (r.doc_a, r.doc_b)
            for r in bucket_pairs(banded, "band", "band_hash", cap=cap).collect()
        }
        want = set()
        base = 0
        for bi, s in enumerate(sizes):
            ids = [base + k for k in range(s)]
            want |= {(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]}
            base += 1000
        assert got == want

    check()


def test_salt_actually_spreads(spark):
    left, right = _skewed_frames(spark)
    salt = F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(8))
    dist = (
        left.withColumn("__salt", salt)
        .filter(F.col("k") == 0)
        .groupBy("__salt")
        .count()
        .collect()
    )
    assert len(dist) == 8  # the hot key's rows land in every salt bucket
    counts = [r["count"] for r in dist]
    assert max(counts) < sum(counts)  # not all in one bucket


def test_blocked_pair_cosines_matches_hof(spark):
    """The Gram-kernel pair cosines must be BIT-identical to the
    zip_with+aggregate left-fold form over the plain self-join pair set — chunked (size > cap) and unchunked groups alike. This is
    the contract that let dedup_embedding_cosine drop the pair-exploding
    payload join (r13)."""
    import math
    import random

    from collimate_spark.functions import vectors as V
    from collimate_spark.functions.pairs import blocked_pair_cosines

    rng = random.Random(13)
    rows = []
    # group 0: 25 members with cap=10 -> 3 chunks (cross-chunk blocks);
    # group 1: 7 members, single chunk
    for g, n in ((0, 25), (1, 7)):
        for i in range(n):
            rows.append((g, g * 1000 + i, [rng.uniform(-1, 1) for _ in range(5)]))
    df = spark.createDataFrame(rows, "label: int, vec_id: long, embedding: array<double>")
    got = {
        (r.label, r.id_a, r.id_b): r.cos_raw
        for r in blocked_pair_cosines(df, ["label"], "vec_id", "embedding", cap=10).collect()
    }
    a = df.select("label", F.col("vec_id").alias("id_a"), F.col("embedding").alias("embedding_a"))
    b = df.select("label", F.col("vec_id").alias("id_b"), F.col("embedding").alias("embedding_b"))
    pairs = a.join(b, "label").filter(F.col("id_a") < F.col("id_b"))
    want = {
        (r.label, r.id_a, r.id_b): r.cos_raw
        for r in pairs.withColumn(
            "cos_raw",
            V.dot(F.col("embedding_a"), F.col("embedding_b"))
            / (V.norm(F.col("embedding_a")) * V.norm(F.col("embedding_b"))),
        ).collect()
    }
    assert set(got) == set(want)
    assert len(got) == 25 * 24 // 2 + 7 * 6 // 2
    for k, v in want.items():
        assert math.isclose(got[k], v, rel_tol=0.0, abs_tol=0.0), (k, got[k], v)


@pytest.mark.parametrize(
    "conf, threshold",
    [("-1", 0), ("10MB", 10 << 20), ("10485760", 10 << 20), ("1g", 1 << 30)],
)
def test_fits_broadcast_reads_every_threshold_form(spark, conf, threshold):
    """The gate reads Spark's parsed threshold: unit suffixes and plain
    digits alike, and -1 (broadcast disabled) admits only an empty side."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, conf)
    try:
        assert fits_broadcast(spark, threshold // 16, 16)
        assert not fits_broadcast(spark, threshold // 16 + 1, 16)
        assert fits_broadcast(spark, 0, 48)
    finally:
        spark.conf.set(key, prev)
