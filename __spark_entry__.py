"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Query implementations live in ``culvert_spark`` — this module only
assembles the registries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Import order is registration order: most of these modules add their
# queries to queries.QUERIES / ORACLE through queries.register.
from culvert_spark import queries as _q
from culvert_spark import textops
from culvert_spark import multimodal
from culvert_spark import vectorops
from culvert_spark import pipelineops
from culvert_spark import analyticsops
from culvert_spark import sqlrunner
from culvert_spark import trainprep
from culvert_spark import corpusops
from culvert_spark import streaming
from culvert_spark import hivebucket
from culvert_spark import skew
from culvert_spark import pydatasource
from culvert_spark import imagesim
from culvert_spark import videoshots
from culvert_spark import audiosim
from culvert_spark import pdfops
from culvert_spark import htmlops
from culvert_spark import warcops

#: Each module's QUERIES / ORACLE maps, in registration order.
_REGISTRIES = [
    _q, textops, multimodal, vectorops, pipelineops, analyticsops,
    sqlrunner, trainprep, corpusops, streaming, hivebucket, skew,
    pydatasource, imagesim, videoshots, audiosim, pdfops, htmlops, warcops,
]


#: Registry order puts these names first. The driver's correctness check
#: covers the first 50 registered queries, so this list is that 50-query
#: window: the queries registered or changed most recently, then the ones
#: whose last driver row is oldest. Every query whose implementation or
#: oracle changes gets a slot in the next window. Names missing from the
#: registries are ignored; registered names missing from this list keep
#: their module registration order after it. CORRECTNESS_r*.json records
#: which rows each round's window covered; the rotation notes that chose
#: each window, including the ROUND-13 note this list cites, are in the
#: git history of this file.
_PRIORITY = [
    # ===== ROUND-13 ROTATION (exactly the 50-slot window) =====
    # (a) registered in round 13 (2 rows, the pre-committed spare-slot
    # candidates — see the ROUND-13 ROTATION note above):
    "st_pdf_layout_dedup_replay", "w_warc_doc_stats",
    # (b) freshness: the 48 round-8-vintage rows, exactly the list
    # pre-computed in round 12.
    "q_basket_part_pairs", "q_cohort_retention", "q_data_quality_audit",
    "q_dau_wau_mau", "q_equidepth_approx", "q_equidepth_histogram",
    "q_event_transitions", "q_ewma_user_daily", "q_full_outer_join",
    "q_funnel_steps", "q_fuzzy_name_match", "q_incremental_agg_refresh",
    "q_interval_bucket_join", "q_lateral_topk_per_nation",
    "q_merge_upsert", "q_nullsafe_join", "q_ohlc_downsample",
    "q_pattern_match_sequences", "q_runtime_filter_prefilter_join",
    "q_scd2_intervals", "q_sessionize_auto", "q_sessionize_events",
    "q_skew_report", "q_sliding_distinct_users", "q_snapshot_diff",
    "q_spatial_grid_nn", "q_sql_text_interface", "q_string_agg_names",
    "q_timeseries_gapfill", "q_variant_props",
    "s_embedding_quantize_int8", "st_state_metadata",
    "st_statestore_totals", "t_contamination_check", "t_dedup_clusters",
    "t_doc_chunks", "t_exact_substring_spans", "t_hash_sample_rate",
    "t_pii_redaction", "t_repetition_metrics", "t_stratified_sample",
    "t_text_normalize", "t_token_budget_mixture", "t_unigram_lm_score",
    "t_weighted_sample", "v_arrow_vector_norms", "v_grouped_agg_median",
    "y_generator_uuid_parity",
    # ===== past the 50-row window: ROUND-14 ROTATION starts here =====
    # (the 47 r9-vintage rows become the oldest block; they keep module
    # registration order until round 14 promotes them)
]



def _ordered(maps: list[dict]) -> dict:
    merged: dict = {}
    for m in maps:
        merged.update(m)
    out = {k: merged[k] for k in _PRIORITY if k in merged}
    out.update(merged)  # remaining names keep module registration order
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    return _q.q01_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered([mod.QUERIES for mod in _REGISTRIES])


def oracle_sql() -> dict[str, str]:
    return _ordered([mod.ORACLE for mod in _REGISTRIES])
