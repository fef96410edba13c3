"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Queries live in ``stac_geoparquet_spark.operators.*``; this module just
merges their registries.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _registries():
    from stac_geoparquet_spark.operators import (
        audit,
        bucketing,
        curation,
        dedup,
        funnel,
        graph,
        layout,
        mining,
        multimodal,
        pipeline,
        quality,
        relational,
        relational_ext,
        relational_ext3,
        relational_tpch2,
        retrieval,
        scan_opt,
        similarity,
        skew,
        spatial,
        stac_query,
        stats,
        text,
        timeseries,
        url,
    )
    from stac_geoparquet_spark.streaming import decontam as streaming_decontam
    from stac_geoparquet_spark.streaming import (
        histogram as streaming_histogram,
    )
    from stac_geoparquet_spark.streaming import (
        controlchart as streaming_controlchart,
    )
    from stac_geoparquet_spark.streaming import dedup as streaming_dedup
    from stac_geoparquet_spark.streaming import novelty as streaming_novelty
    from stac_geoparquet_spark.streaming import quota as streaming_quota
    from stac_geoparquet_spark.streaming import rollup as streaming_rollup
    from stac_geoparquet_spark.streaming import semdedup as streaming_semdedup

    # Every query, window or not, registers in its module's QUERIES /
    # ORACLE; the generated WINDOW list (below) decides which 50 lead
    # the registry, since each CORRECTNESS file records exactly the
    # first 50 entries.
    modules = [
        stac_query,
        audit,
        timeseries,
        url,
        dedup,
        similarity,
        text,
        pipeline,
        multimodal,
        stats,
        spatial,
        funnel,
        mining,
        streaming_dedup,
        streaming_rollup,
        scan_opt,
        graph,
        skew,
        quality,
        layout,
        bucketing,
        relational,
        relational_ext,
        relational_ext3,
        relational_tpch2,
        retrieval,
        curation,
        streaming_decontam,
        streaming_semdedup,
        streaming_quota,
        streaming_novelty,
        streaming_histogram,
        streaming_controlchart,
    ]
    pool: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    pool_oracle: dict[str, str] = {}
    for m in modules:
        pool.update(m.QUERIES)
        pool_oracle.update(m.ORACLE)

    # The 50-entry driver window is GENERATED — run
    # ``python tools/gen_ledger.py --emit-window`` at round start
    # (after the previous round's CORRECTNESS file lands) and after
    # registering new operators.  Rule, in order: (1) queries with NO
    # driver row yet (newly registered ops land here automatically),
    # (2) CHURNED_THIS_ROUND (hand-declared read-path churn on
    # otherwise-green rows), (3) everything else by ascending
    # latest-green driver round (oldest signal first), name-tiebreak;
    # first 50.  The r07 near-miss — a hand-pinned window built on a
    # wrong assumption about whether the r07 eval landed — is the
    # exact class this generation eliminates (r07 verdict task #2).
    window = [n for n in WINDOW if n in pool][:50]
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracle: dict[str, str] = {}
    for name in window:
        queries[name] = pool[name]
        if name in pool_oracle:
            oracle[name] = pool_oracle[name]
    queries.update(pool)
    oracle.update(pool_oracle)
    return queries, oracle


# Green-row queries whose READ PATH changed since their latest driver
# row (code churn the CORRECTNESS files cannot see).  Hand-declared
# with the reason; gen_ledger slots them right after the never-row
# group.  Clear entries once they re-earn a green row.
CHURNED_THIS_ROUND: list[str] = [
    # Every entry of the previous list earned a green r11 row and is
    # cleared.  These two were rewritten in r11 to rely on AQE exchange
    # reuse, and neither has a CORRECTNESS row on its rewritten shape.
    "pca_power_projection",
    "matryoshka_recall_report",
]

# WINDOW:BEGIN (generated by tools/gen_ledger.py --emit-window)
# 0 never-row + 2 churned + 48 oldest-green-first (driver rounds seen: r01, r02, r03, r04, r05, r06, r07, r08, r09, r10, r11)
WINDOW: list[str] = [
    # churned read path (CHURNED_THIS_ROUND)
    "pca_power_projection",
    "matryoshka_recall_report",
    # oldest green row first
    "q14_promo_effect",
    "q15_top_supplier",
    "q16_supplier_diversity",
    "q17_small_qty_revenue",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "q20_excess_suppliers",
    "q22_idle_customers",
    "q4_priority_late_orders",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "quality_classifier_trained",
    "quality_winsorize",
    "rollup_customers",
    "scd2_customer_segments",
    "semdedup_incremental",
    "sketch_hll_distinct",
    "sketch_hll_incremental",
    "sketch_kmv_distinct",
    "text_lang_id",
    "text_pii_scrub",
    "agg_pushdown_stats",
    "ann_ivf_probe",
    "ann_lsh_bucketed",
    "ann_pq_adc",
    "approx_distinct_parts",
    "approx_percentile_prices",
    "asof_last_click_before_purchase",
    "chunk_documents",
    "cql2_flagship_query",
    "cql2_orders_filter",
    "cql2_text_lineitem_filter",
    "dedup_lines_across_docs",
    "dedup_rate_by_source",
    "dpp_orders_by_year",
    "events_markov_transitions",
    "events_rfm_segments",
    "funnel_latency_quantiles",
    "graph_degree_distribution",
    "ivf_cell_assignment",
    "minhash_signature_source_sim",
    "mm_frame_sample",
    "mm_media_manifest",
    "outliers_iqr_price",
    "pq_encode_codes",
    "q1_pricing_summary",
    "q3_shipping_priority",
]
# WINDOW:END


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from stac_geoparquet_spark.operators.relational import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _registries()[0]


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query (tables
    region nation customer supplier part orders lineitem events
    documents embeddings are pre-registered views)."""
    return _registries()[1]
