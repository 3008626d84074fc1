"""Plan-regression tests: assert the physical plans Catalyst produces are
the ones a 100 TB deployment needs — filters pushed to the Parquet scan,
column pruning in ReadSchema, broadcast joins for dims, TakeOrderedAndProject
for global top-k (no full sort). A passing correctness suite with a
regressed plan is still a failure at scale; these tests pin the plans."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from collimate_spark.catalog import load_table
from collimate_spark.plans import executed_plan, formatted_plan, plan_features
from collimate_spark.operators.relational import (
    q1_pricing_summary,
    q3_shipping_priority,
    q5_local_supplier_volume,
    sort_topk,
)


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    plan = formatted_plan(q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 7 needed columns reach the scan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema and "l_returnflag" in read_schema


def test_q1_wholestage_codegen(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    df.collect()  # AQE reveals the final plan (and codegen spans) post-run
    plan = executed_plan(df)
    assert "isFinalPlan=true" in plan
    # "*(n)" prefixes mark WholeStageCodegen spans in the compact plan form
    assert "*(" in plan  # agg pipeline stays JVM-compiled


def test_q3_broadcasts_dimension(spark, sf_dir):
    plan = executed_plan(q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q5_star_join_broadcasts(spark, sf_dir):
    ops = plan_features(q5_local_supplier_volume(spark, sf_dir))["ops"]
    # every dim join (customer/supplier/nation/region) is broadcast; the
    # only shuffle exchanges are for the fact-fact join + final agg/sort
    assert ops["BroadcastHashJoin"] >= 4


def test_sort_topk_avoids_global_sort(spark, sf_dir):
    plan = executed_plan(sort_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # per-partition heap, not full sort


def test_q8_star_join_all_broadcast(spark, sf_dir):
    """Q8's six dim joins must all be broadcast hash joins — a single
    sort-merge join in a star pattern is a plan regression."""
    from collimate_spark.operators.tpch_ext import q8_market_share

    ops = plan_features(q8_market_share(spark, sf_dir))["ops"]
    assert ops["BroadcastHashJoin"] >= 5
    assert "SortMergeJoin" not in ops


def test_asof_join_partitions_on_composite_key(spark, sf_dir, monkeypatch):
    """The as-of window must shuffle on (bucket, gkey) — a bucket-only
    key caps parallelism at 10 and lets partitions grow unboundedly with
    data volume. Day grain (the gate moved to zero) is the 100 TB shape
    (month collapsed this dataset's one-month event stream to 10
    partitions — the r8 sweep's 5.5× slope); hashpartitioning on both
    columns is the scale contract in EITHER grain."""
    from collimate_spark.operators import joins as J

    for day in (False, True):
        if day:
            monkeypatch.setattr(J, "_ASOF_DAY_MIN_BYTES", 0)
            monkeypatch.setattr(J, "_ASOF_ROWS_PER_KEY", 0)
        plan = executed_plan(J.asof_join_events_orders(spark, sf_dir))
        assert "hashpartitioning(bucket" in plan and "gkey" in plan.split("hashpartitioning(bucket", 1)[1][:80]


def test_asof_join_grain_gate_and_equivalence(spark, sf_dir, monkeypatch):
    """The month-vs-day granularity gate (VERDICT r9 #1): bench-scale
    inputs sit under the ``_ASOF_DAY_MIN_BYTES`` (8 MiB) bytes floor so
    the gate picks MONTH with zero jobs, and the two grains are
    result-identical — the gate may only ever trade time, never
    answers."""
    from collimate_spark.catalog import load_table
    from collimate_spark.operators import joins as J

    events = load_table(spark, "events", sf_dir)
    assert J._auto_asof_day_grain(events) is False
    month = J.asof_join_events_orders(spark, sf_dir).collect()
    monkeypatch.setattr(J, "_ASOF_DAY_MIN_BYTES", 0)
    monkeypatch.setattr(J, "_ASOF_ROWS_PER_KEY", 0)
    assert J._auto_asof_day_grain(events) is True
    day = J.asof_join_events_orders(spark, sf_dir).collect()
    assert month == day and len(month) > 0


def test_range_join_partitions_on_composite_key(spark, sf_dir):
    """The range join must hash on (bucket, week) so fan-out per join key
    is bounded by one week of one bucket — as either a composite-key
    shuffle or (small inputs) a composite-key broadcast hash join; never
    an equi-join on bucket alone."""
    from collimate_spark.operators.joins import range_join_events_orders

    plan = executed_plan(range_join_events_orders(spark, sf_dir))
    join_lines = [l for l in plan.splitlines() if "HashJoin" in l]
    assert join_lines, "range join lost its hash-join shape"
    assert any("bucket" in l and "week" in l for l in join_lines), join_lines


def test_bm25_topk_avoids_global_sort(spark, sf_dir):
    """BM25's top-k must be TakeOrderedAndProject over the scored docs —
    a global row_number window would funnel the corpus through one
    partition."""
    from collimate_spark.operators.textstats import bm25_search

    plan = executed_plan(bm25_search(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # df/avgdl scalars ride as broadcasts, never shuffle the scored side
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_quality_filter_is_mapper_only(spark, sf_dir):
    """The keep/drop gate must stay a mapper-only pass: no Exchange before
    the final presentation sort."""
    from collimate_spark.operators.textstats import quality_filter_pipeline

    plan = executed_plan(quality_filter_pipeline(spark, sf_dir))
    # the ONLY exchange is the presentation sort's range partitioning —
    # no hash shuffle (no aggregation/join) anywhere in the gate
    assert plan.count("Exchange") == plan.count("Exchange rangepartitioning"), plan
    assert "hashpartitioning" not in plan, plan


def test_cohort_retention_single_fact_scan(spark, sf_dir):
    """Cohort retention must touch the events table exactly once — the
    join-back formulation re-executes the scan subtree per branch."""
    from collimate_spark.operators.events import cohort_retention

    assert plan_features(cohort_retention(spark, sf_dir))["n_scans"] == 1


def test_q21_single_fact_execution(spark, sf_dir):
    """q21's window form must execute the lineitem+orders subtree once:
    3 tables -> exactly 3 scans."""
    from collimate_spark.operators.tpch_ext import q21_waiting_suppliers

    assert plan_features(q21_waiting_suppliers(spark, sf_dir))["n_scans"] == 3


def test_projection_prunes_payload_column(spark, sf_dir):
    """Multimodal pattern: metadata-only queries must not read the payload
    bytes — selecting two scalar columns prunes `text` from ReadSchema."""
    docs = load_table(spark, "documents", sf_dir)
    plan = formatted_plan(docs.select("doc_id", "lang").filter(F.col("lang") == "en"))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_timeseries_windows_share_one_exchange(spark, sf_dir):
    """rolling median / EWMA / zscore each use ONE user_id window pass:
    exactly one hashpartitioning(user_id) exchange in the plan."""
    from collimate_spark.operators.timeseries import anomaly_zscore, rolling_median_value

    for q in (rolling_median_value, anomaly_zscore):
        plan = executed_plan(q(spark, sf_dir))
        assert plan.count("Exchange hashpartitioning(user_id") == 1, q.__name__


def test_skyline_reduces_before_dominance_join(spark, sf_dir):
    """The dominance self-join must run on the reduced per-supplier
    metric table (broadcast NLJ), never on the fact table."""
    from collimate_spark.operators.dataeng import skyline_suppliers

    plan = executed_plan(skyline_suppliers(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan and "LeftAnti" in plan
    # the join's streamed child is the reduced metric table (an aggregate
    # or its cached form), never the raw lineitem FileScan
    join_child = plan.split("BroadcastNestedLoopJoin", 1)[1].splitlines()[1]
    assert "FileScan" not in join_child


def test_winsorize_broadcasts_bounds(spark, sf_dir):
    from collimate_spark.operators.dataeng import winsorize_stats

    plan = executed_plan(winsorize_stats(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bounds crossJoin


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """Top-k by sample key must be TakeOrderedAndProject (per-partition
    local top-k + driver merge), never a global sort."""
    from collimate_spark.operators.curation import weighted_sample_documents

    plan = executed_plan(weighted_sample_documents(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_copurchase_edges_broadcast_part_dims(spark, sf_dir):
    from collimate_spark.operators.graph import _copurchase_edges

    ops = plan_features(_copurchase_edges(spark, sf_dir))["ops"]
    # both part-dim joins broadcast; the self-join co-partitions on order key
    assert ops["BroadcastHashJoin"] >= 2


def test_aqe_coalesces_shuffle_partitions(spark, sf_dir):
    """AQE must be on and actively coalescing small shuffle partitions
    (AQEShuffleRead coalesced) — the runtime re-plan the engine relies on
    for skew and small-partition handling at scale."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = (
        load_table(spark, "lineitem", sf_dir)
        .groupBy("l_returnflag", "l_linestatus")
        .count()
    )
    df.collect()
    plan = executed_plan(df)
    assert "isFinalPlan=true" in plan
    assert "AQEShuffleRead coalesced" in plan
    # dedup_simhash's residual hot-bucket bound (a large exact-dup
    # cluster collides on one 32-bit block-pair key) relies on AQE's
    # skew-join split to keep that bucket off a single straggler task —
    # pin the default so a config regression is loud, not a silent
    # single-task stall at scale.
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_heavy_hitters_broadcasts_candidates(spark, sf_dir):
    """The exact-verify pass must join the corpus against a BROADCAST
    candidate set (<= 30 x #partitions rows) — a shuffle join here would
    shuffle the full exploded token stream at 100 TB."""
    from collimate_spark.operators.stats import heavy_hitters_words

    plan = executed_plan(heavy_hitters_words(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_rfm_single_fact_scan_and_broadcast_max(spark, sf_dir):
    """RFM scans orders exactly ONCE: the per-customer aggregate is
    scratch-cached and the global max date folds from it (max of the
    per-customer maxes), entering as a broadcast 1-row join — never an
    un-partitioned window over fact rows, never a second fact scan."""
    from collimate_spark.operators.stats import rfm_segmentation

    f = plan_features(rfm_segmentation(spark, sf_dir))
    assert f["n_broadcasts"] >= 1 or f["has_bnl_join"]
    # the global max must read the cache, not parquet
    assert f["n_scans"] == 1, f["n_scans"]
    assert f["ops"]["InMemoryTableScan"] >= 1


def test_chunk_documents_no_shuffle(spark, sf_dir):
    """Chunking is row-local: scan -> generate -> project, zero Exchange."""
    from collimate_spark.operators.curation import chunk_documents

    plan = executed_plan(chunk_documents(spark, sf_dir).drop("chunk_idx"))
    # the orderBy is presentation-only; strip it the same way the noop
    # sink would and assert the transform itself has no exchange
    from collimate_spark.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    import pyspark.sql.functions as FF
    from collimate_spark.functions import text as X
    from collimate_spark.operators.curation import CHUNK_STRIDE, CHUNK_TOKENS

    toks = X.tokens(FF.col("text"))
    starts = FF.sequence(FF.lit(0), FF.greatest(FF.size(toks) - 1, FF.lit(0)), FF.lit(CHUNK_STRIDE))
    core = docs.select("doc_id", toks.alias("toks"), FF.posexplode(starts).alias("chunk_idx", "start"))
    assert "Exchange" not in executed_plan(core)


def test_domain_mix_broadcasts_rates(spark, sf_dir):
    """The per-source keep-rates (|sources| rows) broadcast back onto the
    corpus scan; the corpus itself is never shuffled before the final agg."""
    from collimate_spark.operators.curation import domain_mix_temperature

    plan = executed_plan(domain_mix_temperature(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_cusum_windows_share_one_exchange(spark, sf_dir):
    """All four window passes (mean/std/prefix-sum/running-min) partition
    by user_id — Catalyst must reuse ONE hashpartitioning exchange."""
    from collimate_spark.operators.stats import cusum_changepoints

    plan = executed_plan(cusum_changepoints(spark, sf_dir))
    n_user_exchanges = sum(
        1 for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "user_id" in line
    )
    assert n_user_exchanges == 1, f"expected 1 user_id exchange, saw {n_user_exchanges}"


def test_inverted_index_collapses_postings_map_side(spark, sf_dir):
    """r13 shape: the raw posting stream must NOT cross an exchange as
    individual rows — a partial (term, doc_id) aggregate collapses each
    doc's positions BEFORE the first shuffle, the ranking window sorts
    one row per (term, doc) rather than per posting, and df/tf are plain
    count/sum (no two-phase countDistinct partial over posting rows)."""
    from collimate_spark.operators.textstats import inverted_index_postings

    plan = executed_plan(inverted_index_postings(spark, sf_dir))
    header = plan.split("\n\n")[0].splitlines()
    # the tree header prints root first, leaves last: the bottom-most
    # Exchange is the FIRST executed, and the map-side partial aggregate
    # must sit BELOW it (between it and the Generate/Scan leaves)
    deepest_exchange = max(i for i, l in enumerate(header) if "Exchange" in l)
    below = "\n".join(header[deepest_exchange + 1 :])
    assert "Generate" in below, f"Generate not below the first Exchange:\n{plan}"
    assert "HashAggregate" in below, (
        f"expected a map-side partial aggregate before the first Exchange:\n{plan}"
    )
    assert "count(distinct" not in plan.lower(), "df must be a plain count now"


def test_pit_join_single_user_exchange(spark, sf_dir):
    """The PIT join is a carry-forward window over ONE per-user timeline;
    its plan must not contain an interval join (no BroadcastNestedLoop /
    cartesian) — that is the whole point of the rewrite."""
    from collimate_spark.operators.dataeng import pit_join_scd2

    plan = executed_plan(pit_join_scd2(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_set_overlap_broadcasts_frequency_table(spark, sf_dir):
    """The vocabulary-sized token-frequency table must broadcast onto the
    exploded token stream (a shuffle join there would shuffle the corpus
    to join 31 rows)."""
    from collimate_spark.operators.dedup import set_overlap_join_prefix

    plan = executed_plan(set_overlap_join_prefix(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_price_histogram_broadcasts_bounds(spark, sf_dir):
    """The min/max bounds row joins via broadcast; only the final
    20-row aggregation shuffles."""
    from collimate_spark.operators.stats import price_histogram

    f = plan_features(price_histogram(spark, sf_dir))
    assert f["n_broadcasts"] >= 1 or f["has_bnl_join"]
    assert f["n_scans"] == 2  # bounds agg + bucketing pass


def test_plan_features_helper(spark, sf_dir):
    """plans.plan_features distills the counts the other tests read;
    sanity-check it against a known query shape (q1: one scan, one agg
    shuffle, pushed shipdate filter, codegen spans present)."""
    from collimate_spark.plans import assert_scalable

    f = plan_features(q1_pricing_summary(spark, sf_dir))
    assert f["n_scans"] == 1
    assert f["n_exchanges"] >= 1
    assert any("l_shipdate" in p for p in f["pushed_filters"])
    assert not f["has_cartesian"]
    assert_scalable(
        q1_pricing_summary(spark, sf_dir),
        max_exchanges=2,
        allow_bnl=False,
        require_pushdown=True,
    )


def test_assert_scalable_catches_cartesian(spark, sf_dir):
    import pytest

    from collimate_spark.catalog import load_table
    from collimate_spark.plans import assert_scalable

    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    bad = n.crossJoin(r)
    with pytest.raises(AssertionError, match="Cartesian|BroadcastNestedLoop"):
        # crossJoin plans as BNL when one side broadcasts; forbid both
        assert_scalable(bad, allow_bnl=False)


def test_cached_frame_reuses_inmemory_scan(spark, sf_dir):
    """df.persist(): downstream consumers must read InMemoryTableScan,
    not re-scan parquet — the iterative-workload lever the CC / PageRank
    loops rely on (they use localCheckpoint, the stronger cousin)."""
    from collimate_spark.catalog import load_table

    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_quantity") > 10).cache()
    try:
        li.count()  # materialize
        agg = li.groupBy("l_returnflag").count()
        assert plan_features(agg)["ops"]["InMemoryTableScan"] == 1
        # parquet scan happens once (inside the cached relation), not per query
        assert plan_features(li.select("l_partkey"))["n_scans"] <= 1
    finally:
        li.unpersist()


# Queries whose construction EXECUTES Spark jobs (iterative label
# propagation, quantizer training, driver-side LUT building) — building
# their plan is not "free", so the blanket sweep skips them; each has its
# own dedicated plan/behavior tests elsewhere.
_SWEEP_SKIP = {
    "dedup_connected_components",
    "dedup_survivor_best_quality",
    "curate_corpus",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "kmeans_lloyd_clusters",
    "pagerank_copurchase",
    "bfs_distances",
    "entity_resolution_customers",
    "merge_upsert_orders",  # builds two filtered snapshots eagerly? cheap but join-heavy
    "winsorize_stats",
}

# The one sanctioned cartesian/BNL-between-real-tables: region × nation,
# both broadcast-sized by construction.
_CARTESIAN_OK = {"join_cross"}


def test_no_cartesian_products_anywhere(spark, sf_dir):
    """Blanket 100×-scale-up guard: build the physical plan of EVERY
    registered query and reject CartesianProduct outright (except the
    documented tiny join_cross). BroadcastNestedLoop joins are allowed
    only when one side is a 1-row bound/stat frame — approximated here by
    allowing BNL but never Cartesian; the per-operator tests pin the
    stricter shapes."""
    import __spark_entry__ as entrymod

    offenders = []
    for name, fn in entrymod.queries().items():
        if name in _SWEEP_SKIP or name in _CARTESIAN_OK:
            continue
        f = plan_features(fn(spark, sf_dir))
        if f["has_cartesian"]:
            offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"


def test_dynamic_session_single_user_exchange(spark, sf_dir):
    """session_window(ts, gap_expr) + the per-user re-aggregation must
    share one hashpartitioning(user_id) exchange chain — the native
    session operator sorts within the same shuffle, no second scan."""
    from collimate_spark.operators.events import session_window_dynamic_gap

    assert plan_features(session_window_dynamic_gap(spark, sf_dir))["n_scans"] == 1


def test_bitmap_distinct_two_level_agg(spark, sf_dir):
    """Bitmap distinct: (priority, bucket) bitmap build then per-priority
    reduce — exactly one fact scan and no expensive expand (unlike
    COUNT(DISTINCT) rewrites, which add an Expand node per distinct)."""
    from collimate_spark.operators.udx import bitmap_distinct_counts

    f = plan_features(bitmap_distinct_counts(spark, sf_dir))
    assert f["n_scans"] == 1
    assert "Expand" not in f["ops"]


def test_conversion_quantiles_no_self_join(spark, sf_dir):
    """Time-to-convert uses the forward-carry window, never an events
    self-join: exactly one scan of the fact table."""
    from collimate_spark.operators.events import conversion_time_quantiles

    f = plan_features(conversion_time_quantiles(spark, sf_dir))
    assert f["n_scans"] == 1
    assert not any("Join" in op for op in f["ops"])


def test_bootstrap_single_scan_no_explode(spark, sf_dir):
    """The Poisson bootstrap's whole point: all 50 replicates ride ONE
    fact scan as conditional aggregates — no Generate (explode) of the
    fact rows, no join. The only row multiplication is the B-row stack
    over the already-aggregated grid."""
    from collimate_spark.operators.stats import bootstrap_mean_ci

    f = plan_features(bootstrap_mean_ci(spark, sf_dir))
    assert f["n_scans"] == 1
    assert not any("Join" in op for op in f["ops"])


def test_pipeline_funnel_single_scan(spark, sf_dir):
    """quality → dedup → split composed as one plan must still read the
    corpus once: flags are narrow expressions, the dedup window is the
    only shuffle, the funnel is one aggregate."""
    from collimate_spark.operators.curation import corpus_pipeline_funnel

    assert plan_features(corpus_pipeline_funnel(spark, sf_dir))["n_scans"] == 1


def test_join_skew_diagnostics_never_materializes_join(spark, sf_dir):
    """The diagnostics join runs on per-key COUNT frames (key-cardinality
    sized), never on the fact rows: two scans (one per side), and the
    only joins sit above aggregates."""
    from collimate_spark.operators.joins import join_skew_diagnostics

    f = plan_features(join_skew_diagnostics(spark, sf_dir))
    assert f["n_scans"] == 2
    assert not f["has_cartesian"]


def test_bpe_pairs_single_scan_tiny_shuffle(spark, sf_dir):
    """BPE pair counting: one documents scan, one alphabet²-bounded
    groupBy — the two Generates (words, pairs) are row-local."""
    from collimate_spark.operators.textstats import bpe_merge_candidates

    f = plan_features(bpe_merge_candidates(spark, sf_dir))
    assert f["n_scans"] == 1
    assert not any("Join" in op for op in f["ops"])


SCAN_CEILINGS = {
    # cache/pass-reduction wins of round 4 — a regression that reintroduces
    # branch recompute shows up here as an extra unique FileScan
    "dedup_containment": 1,
    "dedup_ngram_jaccard": 1,
    "set_overlap_join_prefix": 1,
    "degree_assortativity": 4,
    "kaplan_meier_retention": 1,  # events once; corpus max from the cache
    "mad_outliers": 3,
    "chi2_event_value": 1,
    "heavy_hitters_words": 2,  # MG sketch pass + exact-verify pass
    "gdpr_erasure_audit": 6,
    "domain_mix_temperature": 2,
    "tfidf_top_terms": 2,
    "psi_price_drift": 4,
    # round-5 single-scan rewrites: basket-set pair generation, first-5
    # session pre-filter, hashed-block cache — one FileScan each
    "market_basket_rules": 1,
    "top_event_paths": 1,
    "block_dedup_stats": 1,
    # round-8 additions: one embeddings scan (cached frame feeds centroid
    # agg, both pair sides, and the member re-join); one documents scan
    # (aliased token frame feeds windows and the n_tokens join-back)
    "semdedup_prune": 1,
    "dup_span_coverage": 1,
    # dimension-sized intermediates referenced twice, scanned once per pass
    "q15_top_supplier": 2,  # lineitem once + supplier
    "quantile_sketch_value": 2,  # sketch pass + exact-audit pass
}


@pytest.mark.parametrize(
    "name,executed",
    [pytest.param(n, False, id=n) for n in sorted(SCAN_CEILINGS)]
    + [pytest.param(n, True, id=f"{n}-executed") for n in sorted(SCAN_CEILINGS)],
)
def test_scan_ceiling_holds(spark, sf_dir, name, executed):
    """File-scan ceilings for the operators whose fact re-scans were
    eliminated by caching tiny multiply-referenced frames or folding
    passes — on the built plan, and again after a noop write has run it
    (its cached builds then hold their final adaptive plans)."""
    import __spark_entry__ as entrymod

    # a cache left by an earlier test turns a build subtree into an
    # InMemoryTableScan — clear for a deterministic count
    spark.catalog.clearCache()
    df = entrymod.queries()[name](spark, sf_dir)
    if executed:
        df.write.format("noop").mode("overwrite").save()
    n = plan_features(df)["n_scans"]
    assert n <= SCAN_CEILINGS[name], f"{name}: {n} scans > ceiling {SCAN_CEILINGS[name]}"


def test_kcore_matches_python_peeling(spark, sf_dir):
    """The Spark fixpoint peeling must equal pure-Python peeling on the
    collected edge list — every survivor, with its exact within-core
    degree, and the 3-core property itself (all degrees ≥ 3)."""
    from collections import defaultdict

    from collimate_spark.operators.graph import (
        KCORE_K,
        _copurchase_edges,
        kcore_membership,
    )

    got = {r.node: r.core_degree for r in kcore_membership(spark, sf_dir).collect()}

    edges = {(r.x, r.y) for r in _copurchase_edges(spark, sf_dir).collect()}
    adj = defaultdict(set)
    for x, y in edges:
        adj[x].add(y)
        adj[y].add(x)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < KCORE_K:
                for u in adj.pop(v):
                    adj[u].discard(v)
                changed = True
    expected = {v: len(ns) for v, ns in adj.items() if ns}
    assert got == expected
    assert all(d >= KCORE_K for d in got.values())


def test_kcore_shuffle_fallback_identical(spark, sf_dir):
    """Force the size-gated fallback (broadcast disabled → threshold 0,
    so every survivor set exceeds it): the shuffle left-semi-join path
    must produce EXACTLY the broadcast path's 3-core."""
    from collimate_spark.operators.graph import kcore_membership

    baseline = {r.node: r.core_degree for r in kcore_membership(spark, sf_dir).collect()}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fallback = {
            r.node: r.core_degree for r in kcore_membership(spark, sf_dir).collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert fallback == baseline


def test_kcore_warns_when_round_cap_hit(spark):
    """A chain longer than KCORE_MAX_ROUNDS peels one end per round for
    k=2... but our k=3 peels a pure chain entirely in ~2 rounds, so to
    hit the cap we patch KCORE_MAX_ROUNDS to 0 iterations equivalent:
    set it to 1 on a graph needing ≥2 rounds, and require the
    RuntimeWarning fires."""
    import warnings as _w

    import collimate_spark.operators.graph as g

    # triangle core + a tail vertex: round 1 peels the tail (degree 1),
    # round 2 confirms fixpoint — with MAX_ROUNDS=1 the loop exits
    # unconverged and must warn
    rows = [(1, 2), (2, 3), (1, 3), (1, 4), (2, 4), (3, 4), (4, 5)]
    edges = spark.createDataFrame(rows, "x long, y long")
    orig_loader, orig_rounds = g._copurchase_edges, g.KCORE_MAX_ROUNDS
    g._copurchase_edges = lambda _spark, _sf: edges
    g.KCORE_MAX_ROUNDS = 1
    try:
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            g.kcore_membership(spark, "unused").collect()
        assert any(
            issubclass(w.category, RuntimeWarning) and "fixpoint" in str(w.message)
            for w in caught
        )
    finally:
        g._copurchase_edges = orig_loader
        g.KCORE_MAX_ROUNDS = orig_rounds


def test_gdpr_shuffle_fallback_identical(spark, sf_dir):
    """Force gdpr_erasure_audit's size-gated fallback (broadcast disabled
    → threshold 0, so the fact-derived order-key set never fits): the
    shuffle-join path must produce EXACTLY the broadcast path's report."""
    from collimate_spark.operators.quality import gdpr_erasure_audit

    spark.catalog.clearCache()
    baseline = sorted(map(tuple, gdpr_erasure_audit(spark, sf_dir).collect()))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.catalog.clearCache()
    try:
        fallback = sorted(map(tuple, gdpr_erasure_audit(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert fallback == baseline


@pytest.mark.parametrize(
    "name",
    [
        "asof_join_forward",
        "lm_perplexity_score",
        "set_overlap_join_prefix",
        "market_basket_rules",
    ],
)
def test_size_gated_broadcast_fallback_identical(spark, sf_dir, name):
    """Size gates over fact-/vocab-/catalog-proportional frames: force
    the shuffle fallback (broadcast disabled → threshold 0) and require
    the output to match the broadcast path — same contract as kcore's
    and gdpr's gates. Float columns compare within 1e-9, not bit-exact:
    broadcast vs shuffle joins can sum partials in a different order, so
    an avg-of-logs double may legitimately move ~1 ulp and flip a 4dp
    rounding boundary — that is summation-order noise, not a fallback
    semantics difference."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()[name]

    def stable_sorted(rows):
        # Sort key rounds floats to the comparison tolerance's scale:
        # sorting on raw floats would let a ~1-ulp summation-order
        # difference reorder tied rows between the two runs and zip
        # misaligned pairs — exactly the flake the pytest.approx
        # compare below was added to avoid (ADVICE r6).
        def key(row):
            out = []
            for v in row:
                if v is None:
                    out.append((0, "", ""))
                elif isinstance(v, float):
                    # `or 0.0` collapses -0.0 → +0.0 before formatting
                    out.append((1, "f", f"{(round(v, 6) or 0.0):+.6f}"))
                else:
                    out.append((1, type(v).__name__, str(v)))
            return tuple(out)

        return sorted(map(tuple, rows), key=key)

    spark.catalog.clearCache()
    baseline = stable_sorted(q(spark, sf_dir).collect())
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.catalog.clearCache()
    try:
        fallback = stable_sorted(q(spark, sf_dir).collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert len(fallback) == len(baseline)
    for got, want in zip(fallback, baseline):
        assert len(got) == len(want)
        for g, w in zip(got, want):
            if isinstance(g, float) and isinstance(w, float):
                assert g == pytest.approx(w, rel=1e-9, abs=1e-9), name
            else:
                assert g == w, name


def test_plan_features_counts_nodes_that_run(spark, sf_dir):
    """plan_features counts each node that executes, once: an uncached
    subtree read by two branches runs twice; a cached one is built once
    however many branches read it; an executed adaptive plan contributes
    its final plan only, never a node its initial plan replaced."""
    from collimate_spark.operators.textstats import lm_perplexity_score

    x = load_table(spark, "nation", sf_dir)
    assert plan_features(x.unionByName(x))["n_scans"] == 2
    cached = x.filter(F.col("n_regionkey") > 0).cache()
    try:
        f = plan_features(cached.unionByName(cached))
        assert f["n_scans"] == 1 and f["ops"]["InMemoryTableScan"] == 2
    finally:
        cached.unpersist()

    # no static broadcast: the initial plan sort-merge joins, and AQE
    # turns it into a broadcast join once the aggregates have run
    li = load_table(spark, "lineitem", sf_dir).groupBy("l_orderkey").count()
    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderkey") < 100)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
    try:
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        assert "SortMergeJoin" in plan_features(joined)["ops"]
        joined.collect()
        assert "SortMergeJoin" in executed_plan(joined)  # the Initial Plan section
        ops = plan_features(joined)["ops"]
        assert "SortMergeJoin" not in ops and ops["BroadcastHashJoin"] == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    # the scoring pass scans documents; both n-gram count caches share
    # one more scan
    spark.catalog.clearCache()
    assert plan_features(lm_perplexity_score(spark, sf_dir))["n_scans"] == 2


def test_window_range_frame_uses_incremental_frames(spark, sf_dir):
    """window_range_frame must stay in the prefix-difference form: every
    RangeFrame in the plan is UnboundedPreceding-lower-bounded (the one
    shape Spark's WindowExec maintains incrementally). A sliding
    [-5000, 5000] RangeFrame re-aggregates the whole frame per row —
    O(rows x frame_size), the 14.1s -> 1.1s round-7 find — so its
    reappearance is a quadratic-at-scale regression."""
    from collimate_spark.operators.windows import window_range_frame

    plan = executed_plan(window_range_frame(spark, sf_dir))
    frames = re.findall(r"specifiedwindowframe\(RangeFrame, ([a-z$()]+)", plan)
    assert frames, "no RangeFrame found — operator shape changed?"
    assert all(f.startswith("unboundedpreceding") for f in frames), frames


def test_window_range_frame_auto_gate(spark, sf_dir, monkeypatch):
    """The two-level auto-select (VERDICT r8 directive #4): at bench scale
    the gate must short-circuit on file-size metadata (single-level, no
    extra job); with the thresholds forced down, the SAME call must take
    the two-level path and produce the identical result."""
    from collimate_spark.operators import windows as W

    # bench-scale auto = single-level: no two-level union in the plan
    single = W.window_range_frame(spark, sf_dir)
    assert "Union" not in single._jdf.queryExecution().analyzed().toString()

    monkeypatch.setattr(W, "_TWO_LEVEL_MIN_BYTES", 1)
    monkeypatch.setattr(W, "_TWO_LEVEL_ROWS_PER_PARTITION", 10)
    forced = W.window_range_frame(spark, sf_dir)
    assert "Union" in forced._jdf.queryExecution().analyzed().toString()
    assert forced.collect() == single.collect()


def _parquet_bytes_per_row(path: str) -> float:
    import os

    import pyarrow.parquet as pq

    return os.path.getsize(path) / pq.ParquetFile(path).metadata.num_rows


def _csv_bytes_per_row(parquet_path: str, tmpdir: str) -> float:
    """Measured bytes/row of the CSV text layout the ingest gate actually
    sizes (its floor compares RAW SOURCE bytes, not parquet)."""
    import os

    import pyarrow.parquet as pq

    tbl = pq.read_table(parquet_path)
    out = os.path.join(tmpdir, "layout_probe.csv")
    tbl.to_pandas().head(5000).to_csv(out, index=False)
    return os.path.getsize(out) / min(5000, tbl.num_rows)


def _size_gate_specs():
    """Every bytes-floor size gate in the engine, with its crossover
    contract — ADD NEW GATES HERE (VERDICT r10 #6: a gate cannot ship
    without a measured-layout calibration row). Fields: gate name,
    floor bytes, crossover rows, measured-layout bytes/row source,
    direction ('max': worst-case rows at the floor must sit UNDER the
    crossover, i.e. the cheap path is still safe at the floor; 'min':
    rows at the floor must sit OVER the crossover, i.e. the expensive
    path only engages where it pays)."""
    from collimate_spark.ingest import (
        AUTO_SAMPLE_MIN_BYTES,
        MIN_SCAN_COUNT,
        PROFILE_SAMPLE_FRACTION,
    )
    from collimate_spark.operators.joins import _ASOF_DAY_MIN_BYTES, _ASOF_ROWS_PER_KEY
    from collimate_spark.operators.windows import (
        _TWO_LEVEL_MIN_BYTES,
        _TWO_LEVEL_ROWS_PER_PARTITION,
    )

    return [
        # VERDICT r9 #7: the 64 MiB two-level floor encodes a MEASURED
        # ~15 B/row orders layout; worst case = every row in one status
        # partition. A codec/schema change that shrinks bytes/row must
        # fail HERE, not silently stay single-level at two-level scale
        # (the 256 MiB guess lesson).
        (
            "two_level_window",
            _TWO_LEVEL_MIN_BYTES,
            _TWO_LEVEL_ROWS_PER_PARTITION,
            ("parquet", "/root/testdata/sf0.1/orders.parquet"),
            "max",
        ),
        # As-of grain gate: worst case = every event in one (bucket,
        # month) key at the measured events bytes/row.
        (
            "asof_day_grain",
            _ASOF_DAY_MIN_BYTES,
            _ASOF_ROWS_PER_KEY,
            ("parquet", "/root/testdata/sf0.1/events.parquet"),
            "max",
        ),
        # Ingest auto-sample floor: the SMALLEST input that triggers
        # sampling must still hand the profiler >= MIN_SCAN_COUNT rows
        # after the 0.3 fraction (the reference's max(1000, 0.3N)
        # budget floor, index.js:220-221) — a text-layout change that
        # fattens rows must fail HERE, not silently sample a
        # few-hundred-row file.
        (
            "ingest_auto_sample",
            AUTO_SAMPLE_MIN_BYTES,
            MIN_SCAN_COUNT / PROFILE_SAMPLE_FRACTION,
            ("csv", "/root/testdata/sf0.1/orders.parquet"),
            "min",
        ),
    ]


@pytest.mark.parametrize(
    "gate,floor_bytes,crossover_rows,layout,direction",
    _size_gate_specs(),
    ids=[s[0] for s in _size_gate_specs()],
)
def test_size_gate_floor_calibrated_for_measured_layout(
    gate, floor_bytes, crossover_rows, layout, direction, tmp_path
):
    """Shared calibration contract for EVERY bytes-floor size gate
    (VERDICT r10 #6): floors encode measured layouts, so each gate's
    floor is re-checked against a freshly measured bytes/row every run.
    New size gates must register in _size_gate_specs()."""
    kind, path = layout
    bpr = (
        _parquet_bytes_per_row(path)
        if kind == "parquet"
        else _csv_bytes_per_row(path, str(tmp_path))
    )
    rows_at_floor = floor_bytes / bpr
    if direction == "max":
        assert rows_at_floor <= crossover_rows, (
            f"{gate}: floor {floor_bytes >> 20} MiB at measured {bpr:.1f} B/row "
            f"admits {int(rows_at_floor)} rows — above the {crossover_rows:.0f} "
            f"crossover; recalibrate the floor"
        )
    else:
        assert rows_at_floor >= crossover_rows, (
            f"{gate}: floor {floor_bytes >> 20} MiB at measured {bpr:.1f} B/row "
            f"admits only {int(rows_at_floor)} rows — below the "
            f"{crossover_rows:.0f} minimum; recalibrate the floor"
        )


# r13 structural pins: kernels and dimension-sized aggregates must execute
# once per query, not once per reference.


def test_multimodal_pair_kernels_run_once(spark, sf_dir):
    """The banded self-joins must read ONE cached hash relation — uncached,
    the synthesize->decode->hash Python chain ran once per join side."""
    from collimate_spark.operators.multimodal import (
        multimodal_audio_fingerprint_pairs,
        multimodal_image_dhash_pairs,
    )

    for fn in (multimodal_image_dhash_pairs, multimodal_audio_fingerprint_pairs):
        ops = plan_features(fn(spark, sf_dir))["ops"]
        # exactly one synth + one hash kernel node; both join sides read
        # the InMemoryRelation (>= 2 cache reads)
        assert ops["MapInPandas"] == 2, fn.__name__
        assert ops["InMemoryTableScan"] >= 2, fn.__name__


def test_pit_join_scd2_single_scan_no_aggregate(spark, sf_dir):
    """r14: the point-in-time probe derives BOTH union arms (segment
    starts + probes) from one events scan via the explode-roles device —
    the plan must show exactly one parquet scan, no aggregate (the old
    groupBy run-collapse is subsumed by the boundary-row identity), and
    both windows sharing one user_id exchange (1 hash exchange + the
    final orderBy's range exchange)."""
    from collimate_spark.operators.dataeng import pit_join_scd2

    f = plan_features(pit_join_scd2(spark, sf_dir))
    assert f["n_scans"] == 1
    assert "HashAggregate" not in f["ops"]
    assert f["ops"]["Exchange"] == 2
