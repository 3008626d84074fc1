"""Operator modules. Each module exposes

- ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]``
- ``ORACLES: dict[str, str]`` — DuckDB-runnable SQL, same column names

``all_queries()`` / ``all_oracles()`` merge every module for the driver
entry point (``__spark_entry__.py``).

Registration order is load-bearing: the driver's CORRECTNESS gate checks
the FIRST 50 entries of the merged dict. ``DRIVER_PRIORITY`` pins which 50
land in that window — the training-data-pipeline operators (dedup /
similarity / textstats / multimodal / udx) first, then the most
informative one-per-operator relational / join / window / event queries.
Everything else registers after slot 50, in module order, and stays
covered by tests/test_oracle_parity.py. Nothing else lists the queries:
bench.py derives its ``--wide`` set from ``all_queries()``, and the
queries outside the window are its complement.

CACHE-LIFETIME CONTRACT (covers every caching operator — the dedup
family, market_basket_rules, encoding_advisor_lineitem, asof_join
carry frames, kcore/graph edge lists, gdpr/ppjoin gated key sets, and
any other operator caching ``.cache()``-style internally): operators
cache per-query scratch frames and deliberately do NOT unpersist them,
because the returned DataFrame's lineage still references the cached
frame — an eager unpersist would silently recompute it on collect.
Every such frame is registered via ``collimate_spark.scratch.scache``
(``df.transform(scache)``), so callers running MANY queries in one
session (the driver's verify loop, bench.py, notebooks) release them
between queries with ``collimate_spark.scratch.clear_scratch()`` — or
wrap each query in ``with scratch_caches():`` — WITHOUT touching their
own cached frames. ``spark.catalog.clearCache()`` remains a valid
blunt superset. bench.py calls ``clear_scratch()`` between queries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The 50 queries the driver verifies, in order. Keep this list at exactly
# 50 entries; tests/test_registration.py enforces the invariant.
#
# Round-14 window (VERDICT r13 directive #4): drain the freshness
# rotation — ALL 25 queries whose last driver contact is r09 (the
# remainder of the r09-vintage tranche, including its 4 no-oracle
# multimodal feature extractors: multimodal_{audio,image,video}_features
# and multimodal_features, which the driver checks rows-only), then the
# 25 alphabetically-first ORACLED queries of the 47-query r10-vintage
# tranche (the 6 no-oracle r10 rows — ann_pq_topk and the multimodal
# pair/resize/frame/scene queries — are deferred so the window spends
# its slots on hash-checkable queries; they remain bench-covered and
# parity-style tested). After this window lands, no registered query's
# last driver contact is older than r10. Window composition: 46 oracled
# + 4 no-oracle (declared up front, VERDICT r13 #5).
# pit_join_scd2 takes the last r10 slot so the driver hash-checks its
# one-scan rewrite (VERDICT r14 #7).
DRIVER_PRIORITY: tuple[str, ...] = (
    "embedding_jl_projection",
    "geo_radius_join_grid",
    "grouped_agg_gini",
    "grouped_arrow_profile",
    "join_null_safe",
    "join_skew_diagnostics",
    "k_anonymity_report",
    "lang_id_confusion",
    "multimodal_audio_features",
    "multimodal_features",
    "multimodal_image_features",
    "multimodal_video_features",
    "pareto_revenue_share",
    "price_histogram",
    "regr_price_trend",
    "semdedup_prune",
    "sessionization_gap",
    "set_ops_all",
    "sliding_distinct_users",
    "table_profile_lineitem",
    "train_val_test_split",
    "triangle_participation",
    "udtf_parse_props",
    "window_range_frame",
    "zorder_cluster_stats",
    "agg_approx_distinct",
    "approx_percentile_error",
    "asof_join_events_orders",
    "collocation_pmi",
    "conversion_time_quantiles",
    "corr_matrix_lineitem",
    "degree_assortativity",
    "dow_seasonality",
    "embedding_cluster_cohesion",
    "embedding_dim_stats",
    "encoding_advisor_lineitem",
    "ewma_value",
    "hll_intersection_users",
    "hll_native_distinct",
    "hll_sketch_partitioned",
    "ingest_typed_profile",
    "kmeans_lloyd_clusters",
    "listagg_supplier_names",
    "lm_perplexity_score",
    "longest_daily_streak",
    "mad_outliers",
    "markov_transitions",
    "mutual_information_value",
    "new_vs_returning_daily",
    "pit_join_scd2",
)


def _modules():
    from collimate_spark.operators import (
        relational,
        tpch_ext,
        windows,
        joins,
        events,
        grouped,
        udx,
        dedup,
        similarity,
        textstats,
        multimodal,
        curation,
        quality,
        timeseries,
        dataeng,
        graph,
        stats,
    )
    from collimate_spark import ingest

    return (
        ingest,
        relational,
        tpch_ext,
        windows,
        joins,
        events,
        grouped,
        udx,
        dedup,
        similarity,
        textstats,
        multimodal,
        curation,
        quality,
        timeseries,
        dataeng,
        graph,
        stats,
    )


def _ordered(merged: dict) -> dict:
    missing = [n for n in DRIVER_PRIORITY if n not in merged]
    if missing:
        raise ValueError(f"DRIVER_PRIORITY names not registered: {missing}")
    out = {n: merged[n] for n in DRIVER_PRIORITY}
    out.update({n: v for n, v in merged.items() if n not in out})
    return out


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _modules():
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(mod.QUERIES)
    return _ordered(merged)


def all_oracles() -> dict[str, str]:
    merged: dict[str, str] = {}
    for mod in _modules():
        merged.update(mod.ORACLES)
    # oracles are keyed lookups (order-insensitive), but keep the same
    # order as all_queries() for readability of driver artifacts
    out = {n: merged[n] for n in DRIVER_PRIORITY if n in merged}
    out.update({n: v for n, v in merged.items() if n not in out})
    return out
