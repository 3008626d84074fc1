"""Mergeable quantile summary: error bound vs exact percentile, summary
size bound, and determinism for a fixed partition layout."""

from __future__ import annotations

import pyspark.sql.functions as F

from collimate_spark.catalog import load_table
from collimate_spark.operators.stats import QS_K, QS_TARGETS, quantile_sketch_value


def test_quantile_sketch_error_bound(spark, sf_dir):
    """The audited output: every within_pXX bit is 1 (the sketch pick's
    exact rank inside the 3·N/K + 2 envelope), exact percentiles match a
    directly-computed exact aggregate, and n_total is the row count."""
    est = quantile_sketch_value(spark, sf_dir).collect()[0]
    ev = load_table(spark, "events", sf_dir)
    assert est.n_total == ev.count()
    exact = ev.agg(
        *[
            F.expr(f"percentile(value, {p})").alias(f"p{int(p*100):02d}")
            for p in QS_TARGETS
        ]
    ).collect()[0]
    for p in QS_TARGETS:
        k = f"p{int(p*100):02d}"
        assert est[f"within_{k}"] == 1, (k, est)
        assert abs(est[f"exact_{k}"] - exact[k]) <= 5e-4, (k, est[f"exact_{k}"], exact[k])


def test_quantile_sketch_deterministic(spark, sf_dir):
    a = quantile_sketch_value(spark, sf_dir).collect()
    b = quantile_sketch_value(spark, sf_dir).collect()
    assert a == b


def test_countmin_guarantees(spark, sf_dir):
    """CM invariants on real data: estimates NEVER undercount (the
    structural guarantee — holds for EVERY word under ANY hash), and the
    probabilistic ε-bound holds in aggregate: P[overcount > e·N/W] ≤
    e^-D per word, so with D=4 at most a small fraction of the
    vocabulary may exceed e·N/W (the earlier all-words-within-4·N/W
    assertion was hash-lottery, not a CM property — it broke the moment
    the hash changed). Plus determinism across runs (the sketch is
    linear, so the merged matrix is partition-grid-independent)."""
    import math

    from collimate_spark.operators.stats import CM_W, countmin_word_frequencies

    rows = countmin_word_frequencies(spark, sf_dir).collect()
    assert rows
    n_total = sum(r.freq for r in rows)
    eps_bound = math.e * n_total / CM_W
    over_eps = 0
    for r in rows:
        assert r.overcount >= 0, (r.word, r.freq, r.cm_est)
        # hard sanity ceiling: no estimate can exceed the corpus size
        assert r.cm_est <= n_total, (r.word, r.cm_est)
        if r.overcount > eps_bound:
            over_eps += 1
    # e^-4 ≈ 1.8% per word; allow up to 10% of the vocab as slack
    assert over_eps <= max(1, len(rows) // 10), (over_eps, len(rows))
    a = [tuple(x) for x in countmin_word_frequencies(spark, sf_dir).collect()]
    assert a == [tuple(x) for x in rows]  # deterministic


def test_cm_kernel_buffer_matches_cols():
    """The vectorized kernel path (joined digest buffer → big-endian
    uint32 words) must stay byte-identical to _cm_cols's hexdigest
    slicing — which is what the DuckDB oracle replays as
    ('0x'||substr(md5(word), 1+8r, 8))::BIGINT % W. Hex octet r of a
    digest IS digest word r rendered big-endian; this test pins the
    equivalence so neither path can drift."""
    from hashlib import md5

    import numpy as np

    from collimate_spark.operators.stats import CM_D, CM_W, _cm_cols

    words = [f"tok{i}'s-Ünïcode_{i % 13}" for i in range(1000)] + ["", "a"]
    buf = b"".join(md5(w.encode()).digest() for w in words)
    cols = (
        np.frombuffer(buf, dtype=">u4").reshape(len(words), CM_D).astype(np.int64)
        % CM_W
    )
    ref = np.array([_cm_cols(w) for w in words], dtype=np.int64)
    assert (cols == ref).all()


def test_hll_native_relative_error(spark, sf_dir):
    """Native DataSketches HLL audited output: exact_distinct matches a
    directly-computed exact per group (and globally for <all>), and
    every est_within_4rse audit bit is 1."""
    import pyspark.sql.functions as FF

    from collimate_spark.catalog import load_table
    from collimate_spark.operators.udx import hll_native_distinct

    rows = {r.o_orderpriority: r for r in hll_native_distinct(spark, sf_dir).collect()}
    orders = load_table(spark, "orders", sf_dir)
    exact = {
        r.o_orderpriority: r.d
        for r in orders.groupBy("o_orderpriority")
        .agg(FF.countDistinct("o_custkey").alias("d"))
        .collect()
    }
    exact["<all>"] = orders.select("o_custkey").distinct().count()
    assert set(rows) == set(exact)
    for k, e in exact.items():
        assert rows[k].exact_distinct == e, (k, rows[k], e)
        assert rows[k].est_within_4rse == 1, (k, rows[k])


def test_approx_percentile_rank_error_bound(spark, sf_dir):
    """The GK guarantee behind approx_percentile_error: the approx
    quantile is an actual data element whose RANK is within
    max(1, n/accuracy) of the target rank — verified here directly on
    collected data (the query's audit bits are a distributed version of
    this same check, so also assert every bit is 1)."""
    import bisect

    import pyspark.sql.functions as FF

    from collimate_spark.catalog import load_table
    from collimate_spark.operators.stats import _APPROX_ACC, approx_percentile_error

    rep = {r["event_type"]: r for r in approx_percentile_error(spark, sf_dir).collect()}
    for et, row in rep.items():
        assert row["p50_within_gk_bound"] == 1, (et, row)
        assert row["p95_within_gk_bound"] == 1, (et, row)
    evdf = load_table(spark, "events", sf_dir)
    approx = {
        r["event_type"]: r
        for r in evdf.groupBy("event_type")
        .agg(
            FF.expr(f"approx_percentile(value, 0.5D, {_APPROX_ACC})").alias("a50"),
            FF.expr(f"approx_percentile(value, 0.95D, {_APPROX_ACC})").alias("a95"),
        )
        .collect()
    }
    ev = evdf.select("event_type", "value").collect()
    by_type: dict[str, list[float]] = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append(r.value)
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        tol_rank = max(1.0, n / _APPROX_ACC)
        for q, col in ((0.5, "a50"), (0.95, "a95")):
            x = approx[et][col]
            i = bisect.bisect_left(vals, x)
            j = bisect.bisect_right(vals, x)
            assert j > i, f"{et} {col}={x} is not a data element"
            target = q * (n - 1)
            assert i - tol_rank - 1 <= target <= j + tol_rank, (
                f"{et} {col} rank window [{i},{j}] vs target {target}"
            )


def test_hll_intersection_error_bound(spark, sf_dir):
    """Derived HLL intersection (inclusion-exclusion) must land within a
    union-scaled error envelope of the exact overlap: each of the three
    estimates carries ~1.6% HLL error at default lgK, so the derived
    intersection's absolute error is bounded by ~3 × 2% of the UNION
    size (generous envelope; the point is it scales with |A∪B|, not
    |A∩B|). The query audits exactly this — assert the bit plus the
    inclusion-exclusion identity on the exact columns."""
    from collimate_spark.operators.udx import hll_intersection_users

    r = hll_intersection_users(spark, sf_dir).collect()[0]
    assert r.intersection_within_envelope == 1, r
    assert (
        r.exact_intersection
        == r.exact_clickers + r.exact_purchasers - r.exact_union
    ), r


def test_group_percentiles_bitwise_matches_spark(spark):
    """Fuzz pin for the sort-based exact percentile kernel
    (functions/quantiles.py): group_percentiles must reproduce Spark's
    value-buffering `percentile` BIT-FOR-BIT — mixed continuous/heavy-
    dup/negative/NULL data, an all-NULL group (NULL result, group
    preserved), a single-value group, and small evenly spaced and
    duplicated groups — across q = 0, interior, and 1."""
    import random

    from collimate_spark.functions.quantiles import group_percentiles

    random.seed(13)
    rows = []
    for g in range(5):
        n = random.choice([1, 2, 3, 17, 200])
        for _ in range(n):
            r = random.random()
            if r < 0.15:
                v = None
            elif r < 0.5:
                v = float(random.randint(-3, 3))  # heavy duplicates
            else:
                v = random.uniform(-100, 100)
            rows.append((g, v))
    rows += [(97, None), (97, None), (98, 42.0)]
    rows += [(99, v) for v in (1.0, 2.0, 3.0, 4.0)]
    rows += [(100, v) for v in (1.0, 1.0, 2.0, 2.0)]
    df = spark.createDataFrame(rows, "grp int, v double")
    qs = [0.0, 0.01, 0.25, 0.5, 0.66, 0.75, 0.9, 0.99, 1.0]
    specs = [(q, f"p{int(q * 100)}") for q in qs]

    ref_cont = df.groupBy("grp").agg(
        *[F.expr(f"percentile(v, {q}D)").alias(f"p{int(q * 100)}") for q in qs]
    )
    new_cont = group_percentiles(df, ["grp"], "v", specs)
    assert ref_cont.exceptAll(new_cont).count() == 0
    assert new_cont.exceptAll(ref_cont).count() == 0
