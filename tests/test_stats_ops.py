"""Targeted invariants for the stats/dataeng additions that parity alone
under-specifies: the PIT-join boundary rule on crafted data, and the
Misra-Gries superset guarantee under adversarial skew."""

from __future__ import annotations

import os
from datetime import datetime

import pyspark.sql.functions as F


def _write_events(spark, d, rows):
    rows = [
        (eid, datetime.fromisoformat(ts), uid, et, v, p)
        for eid, ts, uid, et, v, p in rows
    ]
    spark.createDataFrame(
        rows,
        "event_id: long, ts: timestamp_ntz, user_id: long, "
        "event_type: string, value: double, props: string",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    return d


def test_pit_join_boundary_belongs_to_newer_segment(spark, tmp_path):
    """A probe landing EXACTLY on a segment's valid_from must resolve to
    that (newer) segment — the [valid_from, valid_to) rule. Events at
    :00 and :20; with the +10-minute probe shift, event 1's probe lands
    exactly on the second segment's start."""
    from collimate_spark.operators.dataeng import pit_join_scd2

    d = _write_events(
        spark,
        str(tmp_path),
        [
            (1, "2024-01-01 00:00:00", 7, "A", 1.0, "{}"),
            (2, "2024-01-01 00:10:00", 7, "B", 1.0, "{}"),
            (3, "2024-01-01 00:30:00", 7, "B", 1.0, "{}"),
        ],
    )
    got = {r.event_id: r.segment for r in pit_join_scd2(spark, d).collect()}
    # probe(1) = 00:10 == segment B's valid_from -> newer segment B
    assert got[1] == "B"
    # probe(2) = 00:20, inside B's interval
    assert got[2] == "B"
    # probe(3) = 00:40, B is current (open-ended)
    assert got[3] == "B"


def test_pit_join_probe_before_later_segment_keeps_older(spark, tmp_path):
    """A probe strictly inside the FIRST segment stays with it even when
    a later segment exists."""
    from collimate_spark.operators.dataeng import pit_join_scd2

    d = _write_events(
        spark,
        str(tmp_path),
        [
            (1, "2024-01-01 00:00:00", 3, "A", 1.0, "{}"),
            (2, "2024-01-01 00:25:00", 3, "C", 1.0, "{}"),
        ],
    )
    got = {r.event_id: r.segment for r in pit_join_scd2(spark, d).collect()}
    assert got[1] == "A"  # probe 00:10 < 00:25 -> still A
    assert got[2] == "C"


def test_misra_gries_superset_under_skew(spark, tmp_path):
    """Adversarial skew: one token occupies ~50% of a corpus with a long
    uniform tail wider than MG_COUNTERS. The sketch+verify pipeline must
    return EXACTLY the true phi-heavy-hitters (superset property of MG
    candidates makes the verified output exact)."""
    from collimate_spark.operators.stats import HH_PHI, heavy_hitters_words

    docs = []
    # 500 docs of pure 'hot' (each 10 tokens) -> 5000 hot tokens
    for i in range(500):
        docs.append((i, "hot " * 10, "xx", "s", 40))
    # 5000 docs each with a unique tail token -> 5000 singleton tokens
    for i in range(5000):
        docs.append((500 + i, f"tail{i}", "xx", "s", 8))
    d = str(tmp_path / "skewed")
    spark.createDataFrame(
        docs, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = heavy_hitters_words(spark, d).collect()
    n_total = 5000 + 5000
    assert [r.word for r in got] == ["hot"]
    assert got[0].freq == 5000
    assert got[0].freq > HH_PHI * n_total


def test_asof_nearest_dominates_both_directions(spark):
    """Cross-variant invariant: for every click, the nearest-match gap is
    ≤ the backward gap and ≤ the forward gap (when those exist) — the
    defining property tying the three as-of directions together, checked
    on the driver events table."""
    from collimate_spark.operators.joins import asof_join_nearest

    d = "/root/testdata/sf0.001"
    nearest = {r.event_id: r for r in asof_join_nearest(spark, d).collect()}
    ev = spark.read.parquet(f"{d}/events.parquet")
    rows = ev.filter(F.col("event_type").isin("click", "purchase")).collect()
    import bisect

    purchases_by_user = {}
    for r in sorted(rows, key=lambda r: r.ts):
        if r.event_type == "purchase":
            purchases_by_user.setdefault(r.user_id, []).append(r.ts)
    checked = 0
    for r in rows:
        if r.event_type != "click" or r.event_id not in nearest:
            continue
        ps = purchases_by_user.get(r.user_id, [])
        if not ps:
            continue
        i = bisect.bisect_left(ps, r.ts)
        cands = []
        if i > 0:
            cands.append(abs((r.ts - ps[i - 1]).total_seconds()))
        if i < len(ps):
            cands.append(abs((ps[i] - r.ts).total_seconds()))
        got = nearest[r.event_id].gap_s
        assert abs(got - round(min(cands), 2)) < 0.02, (r.event_id, got, min(cands))
        checked += 1
    assert checked > 50


def test_fifo_allocation_conserves_stock(spark, sf_dir):
    """Structural FIFO invariants the oracle equality can't prove alone:
    per part, units allocated never exceed opening stock; outcome counts
    partition the lines; and once a part is exhausted every later line
    is refused (n_short ≤ 1 per part under FIFO with a single lot)."""
    from collimate_spark.operators.dataeng import _FIFO_STOCK, fifo_allocation

    rows = fifo_allocation(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.units_allocated <= _FIFO_STOCK + 1e-6
        assert r.n_filled + r.n_short + r.n_refused == r.n_lines
        assert r.n_short <= 1, "FIFO with one lot can split at most one line"


def test_kaplan_meier_crafted_curve(spark, tmp_path):
    """Hand-computed KM curve on crafted lifetimes, covering the edge
    the real data may miss: censored-only durations, where the risk set
    shrinks but the survival curve must stay flat. Corpus max = day 40,
    so churn cutoff is last-event < day 33: durations 10, 10, 20 are
    churn events; 35 and 40 are right-censored."""
    import datetime as dt
    import math

    from collimate_spark.operators.stats import kaplan_meier_retention

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def user(uid, first_day, last_day):
        nonlocal eid
        for d in (first_day, last_day):
            rows.append((eid, base + dt.timedelta(days=d), uid, "view", 1.0, "{}"))
            eid += 1

    # corpus max = day 40 (user 9); churn cutoff: last < day 33
    user(1, 0, 10)   # churned, duration 10
    user(2, 0, 10)   # churned, duration 10
    user(3, 0, 20)   # churned, duration 20
    user(4, 0, 35)   # censored, duration 35
    user(5, 0, 40)   # censored, duration 40
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id: long, ts: timestamp_ntz, user_id: long, "
        "event_type: string, value: double, props: string",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))

    got = {r.duration_days: r for r in kaplan_meier_retention(spark, d).collect()}
    # t=10: n_risk=5, d=2 -> S=0.6; t=20: n_risk=3, d=1 -> S=0.4
    # t=35: n_risk=2, c=1 -> S flat 0.4; t=40: n_risk=1, c=1 -> flat
    assert got[10].n_risk == 5 and got[10].n_events == 2
    assert math.isclose(got[10].survival, 0.6)
    assert got[20].n_risk == 3 and got[20].n_events == 1
    assert math.isclose(got[20].survival, 0.4)
    assert got[35].n_events == 0 and got[35].n_censored == 1
    assert math.isclose(got[35].survival, 0.4)  # censoring never drops S
    assert math.isclose(got[40].survival, 0.4)


def test_kaplan_meier_terminal_death_hits_zero(spark, tmp_path):
    """When the largest duration's subjects all churn, 1 - d/n = 0 and
    the survival curve must end at exactly 0.0 (the LN(0) guard)."""
    import datetime as dt

    from collimate_spark.operators.stats import kaplan_meier_retention

    base = dt.datetime(2024, 1, 1)
    rows = []
    for uid, dur in ((1, 5), (2, 10)):
        rows.append((uid * 10, base, uid, "view", 1.0, "{}"))
        rows.append((uid * 10 + 1, base + dt.timedelta(days=dur), uid, "view", 1.0, "{}"))
    # corpus max must exceed both lasts by >7d so both are churn events
    rows.append((99, base + dt.timedelta(days=30), 3, "view", 1.0, "{}"))
    rows.append((100, base + dt.timedelta(days=30), 3, "view", 1.0, "{}"))
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id: long, ts: timestamp_ntz, user_id: long, "
        "event_type: string, value: double, props: string",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))

    curve = {r.duration_days: r.survival for r in kaplan_meier_retention(spark, d).collect()}
    # durations: 5 (churn), 10 (churn), 0 (user 3, censored at corpus max)
    assert curve[10] == 0.0


def test_approx_top_k_words_never_undercounts_and_exact_here(spark, sf_dir):
    """Property test for the native approx_top_k aggregate (VERDICT r6
    directive #4): (a) every estimated count is >= the true count —
    frequency-sketch top-k never undercounts a reported item; (b) on
    this corpus's ~31-word vocabulary the sketch's internal map never
    evicts, so the estimates are EXACT and the reported set is exactly
    the true top-10 (same tie order: est desc, word asc)."""
    import pyspark.sql.functions as F

    from collimate_spark.catalog import load_table
    from collimate_spark.operators.udx import approx_top_k_words

    got = approx_top_k_words(spark, sf_dir).collect()
    assert len(got) == 10

    words = (
        load_table(spark, "documents", sf_dir)
        .select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
    )
    exact = {r.word: r.cnt for r in words.groupBy("word").agg(F.count("*").alias("cnt")).collect()}
    top10 = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10]

    # the hashed output is the EXACT top-10 (audit-bits contract, r11)
    assert [(r.word, r.cnt) for r in got] == top10
    # both audit bits hold on this vocabulary (sketch never evicts;
    # boundary ties are exempted inside the operator)
    for r in got:
        assert r.in_sketch_topk == 1 and r.est_within_envelope == 1, r

    # property (a) on the raw sketch: a frequency sketch never
    # undercounts a reported item
    sketch = (
        words.agg(F.expr("approx_top_k(word, 10)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("word"), F.col("e.count").alias("est"))
        .collect()
    )
    for r in sketch:
        assert r.word in exact
        assert r.est >= exact[r.word], (r.word, r.est, exact[r.word])
