"""Central registry mapping SURVEY.md §2 operator IDs to
(PySpark implementation, DuckDB oracle SQL) pairs.

Each module that implements operators exposes ``QUERIES`` — a dict of
``name -> (callable(spark, sf_dir) -> DataFrame, oracle_sql | None)``.
This module merges them. Names are stable keys the driver records in
CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_MODULES = (
    "alma_publish_to_marc_spark.plans.flagship_queries",
    "alma_publish_to_marc_spark.operators.relational_queries",
    "alma_publish_to_marc_spark.functions.scalar_queries",
    "alma_publish_to_marc_spark.operators.dedup_queries",
    "alma_publish_to_marc_spark.operators.upsert_queries",
    "alma_publish_to_marc_spark.operators.similarity_queries",
    "alma_publish_to_marc_spark.operators.embedding_queries",
    "alma_publish_to_marc_spark.functions.text_queries",
    "alma_publish_to_marc_spark.functions.hash_embedding",
    "alma_publish_to_marc_spark.plans.domain_queries",
    "alma_publish_to_marc_spark.plans.extraction_queries",
    "alma_publish_to_marc_spark.plans.analytics_queries",
    "alma_publish_to_marc_spark.plans.corpus_queries",
    "alma_publish_to_marc_spark.plans.lm_queries",
    "alma_publish_to_marc_spark.plans.behavior_queries",
    "alma_publish_to_marc_spark.plans.preference_queries",
    "alma_publish_to_marc_spark.plans.migrations",
    "alma_publish_to_marc_spark.plans.warehouse_bench",
    "alma_publish_to_marc_spark.plans.tpch_queries",
    "alma_publish_to_marc_spark.plans.timeseries_queries",
    "alma_publish_to_marc_spark.plans.eval_queries",
    "alma_publish_to_marc_spark.plans.ir_queries",
    "alma_publish_to_marc_spark.plans.inference_queries",
    "alma_publish_to_marc_spark.plans.storage_queries",
    "alma_publish_to_marc_spark.plans.optimizer_queries",
    "alma_publish_to_marc_spark.plans.governance_queries",
    "alma_publish_to_marc_spark.plans.decision_queries",
    "alma_publish_to_marc_spark.plans.process_queries",
    "alma_publish_to_marc_spark.plans.bi_queries",
    "alma_publish_to_marc_spark.operators.recsys_queries",
    "alma_publish_to_marc_spark.plans.dq_queries",
    "alma_publish_to_marc_spark.operators.graph_queries",
    "alma_publish_to_marc_spark.operators.clustering",
    "alma_publish_to_marc_spark.operators.learning",
    "alma_publish_to_marc_spark.operators.sketches",
    "alma_publish_to_marc_spark.functions.python_udf_queries",
    "alma_publish_to_marc_spark.plans.spatial_queries",
    "alma_publish_to_marc_spark.plans.rank_queries",
    "alma_publish_to_marc_spark.sources.source_queries",
    "alma_publish_to_marc_spark.streaming.streaming_queries",
    "alma_publish_to_marc_spark.multimodal.multimodal_queries",
    "alma_publish_to_marc_spark.plans.posttrain_queries",
    "alma_publish_to_marc_spark.plans.weighting_queries",
)


# Driver-sample pinning. Round-11 policy (VERDICT r10 "Next round" #3):
# no re-pins are owed — every round-10 addition is already
# driver-confirmed green (CORRECTNESS_r10 50/50) — so all 50 slots
# continue the rotation over never-driver-sampled keys in natural
# module order (union of CORRECTNESS_r01..r10 = 326 driver-green; 242
# of 568 keys remained unsampled entering round 11; this pin set was
# checked programmatically disjoint from that union). New round-11
# queries are PREPENDED as they land (fresh code gets driver
# confirmation first). Keys are byte-stable; members are only removed
# or rotated, never renamed.
_SAMPLE_FIRST = (
    # --- round-11-NEW queries (code newer than any driver row) ---
    "suffix_span_removal",
    "bpe_domain_compression",
    "watermark_greenlist_detect",
    "parallelism_plan_budget",
    "doremi_mixture_reweight",
    "data_epoch_allocation",
    "privacy_composition_budget",
    "dawid_skene_label_model",
    "distinct_ngram_diversity",
    "continuous_batching_replay",
    "lsm_compaction_replay",
    "preemption_loss_replay",
    "compute_optimal_frontier",
    "gradient_noise_scale_proxy",
    # --- rotation: next never-driver-sampled keys (TPC-H analog
    # --- family, then the time-series family, then behavioral),
    # --- trimmed to 36 so pins total exactly the driver's 50 ---
    "forecast_revenue_change",
    "volume_shipping",
    "promo_revenue_effect",
    "national_market_share",
    "product_type_profit",
    "important_part_value",
    "shipmode_priority",
    "customer_distribution",
    "min_cost_supplier",
    "top_supplier_revenue",
    "parts_supplier_relationship",
    "small_quantity_revenue",
    "large_volume_customer",
    "discounted_revenue",
    "potential_promotion",
    "waiting_orders_supplier",
    "global_sales_opportunity",
    "acf_daily_events",
    "crosscorr_event_types",
    "holt_linear_forecast",
    "theil_sen_trend",
    "max_drawdown_curve",
    "rolling_ols_slope",
    "xmr_control_chart",
    "dow_seasonality_strength",
    "forecast_backtest_mase",
    "timeseries_motif_discovery",
    "binseg_changepoint",
    "dtw_series_distance",
    "slo_burn_rate_alerts",
    "overdispersion_check",
    "seasonal_decomposition",
    "time_weighted_average",
    "jackknife_block_variance",
    "croston_forecast",
    "mann_kendall_trend",
)


def _collect() -> dict[str, tuple[QueryFn, str | None]]:
    import importlib

    merged: dict[str, tuple[QueryFn, str | None]] = {}
    for mod_name in _MODULES:
        mod = importlib.import_module(mod_name)
        for name, pair in getattr(mod, "QUERIES", {}).items():
            if name in merged:
                raise ValueError(f"duplicate query name {name!r} in {mod_name}")
            merged[name] = pair
    front = {k: merged[k] for k in _SAMPLE_FIRST if k in merged}
    front.update((k, v) for k, v in merged.items() if k not in front)
    return front


def queries() -> dict[str, QueryFn]:
    from alma_publish_to_marc_spark.session import tune

    def wrap(fn: QueryFn) -> QueryFn:
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)  # pin session TZ etc. even on a driver-built session
            return fn(spark, sf_dir)
        return run

    return {name: wrap(fn) for name, (fn, _) in _collect().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _collect().items() if sql is not None}

