"""Timezone independence: the external driver's session timezone is
unknown, so every date-touching query must value-match the oracle
under a non-UTC session. Spark's date_trunc / dayofweek family
silently routes NTZ values through the session zone (this caught a
real cohort-week bug), so the probe flips the runtime tz conf to a
+05:45 zone — misaligned with every hour AND half-hour boundary —
and re-runs the oracle gate on the calendar-heavy keys. The
full-registry sweep is ``python scripts/sweep.py tz``, in the same
zone (``sweep.TZ``); this keeps the fast core of it in CI."""

from __future__ import annotations

import pytest

from scripts.sweep import TZ
from streamz_postgres_spark.oracle import check_query
from streamz_postgres_spark.registry import REGISTRY, _load_all
from tests.conftest import SF_DIR

_load_all()

KEYS = (
    "q_cohort_retention",
    "q_seasonality",
    "q_tumbling",
    "q_session",
    "q_funnel",
    "q_date_funcs",
    "q_resample_locf",
    "q_gaps_islands",
    "q_range_frame",
    # round-5 calendar-touching additions
    "q_rollup_cascade",
    "q_lateness_audit",
    "q_tpch_q7",
    "q_tpch_q8",
    "q_tpch_q12",
    "q_cooccurrence_lift",
    # round-6 calendar-touching additions
    "q_stream_percentile_windowed",
    "q_decay_score",
    # round-7 calendar-touching additions
    "q_sample_by_sql",
    "q_interval_overlap",
    # round-8 calendar-touching additions (fast core; the rest of
    # the 41 r8 keys are in R8_KEYS below, slow-marked)
    "q_twap",
    "q_ohlc_bars",
    "q_dau_mau",
    "q_sequence_match",
    "q_seasonal_naive_eval",
    "q_anomaly_seasonal",
    "q_cdc_time_travel",
    # round-9 calendar-touching additions
    "q_stream_dau_mau",
    "q_pattern_sql",
    # round-10 calendar-touching additions (q_pattern_measures reads
    # FIRST/LAST(ts) back out — the classic tz-shift victim)
    "q_pattern_bounds",
    "q_pattern_measures",
    "q_asof_forward_sql",
    # round-11 calendar-touching additions (overlap/all-rows read
    # ts measures back out; GROUP BY ALL groups on month(ts))
    "q_pattern_overlap",
    "q_pattern_all_rows",
    "q_stream_pattern_overlap",
    "q_group_by_all",
    # round-11 LATE additions (per-symbol measures read FIRST(V.ts)
    # back out — batch and live; permute/recursive are not
    # calendar-touching but ride the cohort like the r8 set does)
    "q_pattern_permute",
    "q_pattern_symbol_measures",
    "q_stream_pattern_symbol_measures",
    "q_recursive_cte",
    "q_pattern_prev",
    "q_pattern_agg_measures",
)

#: the remaining round-8/9 additions (r8 verdict Next-round #8: the
#: whole r8 cohort joins the named-key matrix). Slow-marked: they are
#: not calendar-heavy, but the sweep pins them against tz-sensitivity
#: regressions (e.g. an epoch helper change) between the full
#: end-of-round hostile-zone sweeps.
R8_KEYS = (
    "q_dedup_substring_clusters",
    "q_concurrency_profile",
    "q_qualify_sql",
    "q_dedup_minhash_clusters",
    "q_ngram_novelty",
    "q_l_diversity",
    "q_sim_ann_ivf_int8",
    "q_stream_concurrency",
    "q_lsh_band_sweep",
    "q_referential_integrity",
    "q_embed_pq",
    "q_sim_ann_adc",
    "q_columns_sql",
    "q_sim_ann_ivfpq",
    "q_corr_matrix",
    "q_exclude_sql",
    "q_t_closeness",
    "q_text_readability",
    "q_graph_assortativity",
    "q_window_cume_dist",
    "q_vocab_growth",
    "q_stream_vocab_novelty",
    "q_bloom_filter_audit",
    "q_doc_perplexity_kn",
    "q_stream_bloom_ingest",
    "q_embed_matryoshka",
    "q_replace_sql",
    "q_stream_twap",
    "q_stream_ohlc",
    "q_rfm_segmentation",
    "q_column_entropy_profile",
    "q_gini_concentration",
    "q_stats_histogram",
    "q_stream_sequence_match",
    # round-9 non-calendar additions
    "q_rfm_boundaries",
    "q_stats_histogram_approx",
    "q_tpch_q17",
)


def _check_under_tz(spark, duck, key):
    tz_key = "spark.sql.session.timeZone"
    before = spark.conf.get(tz_key)
    spark.conf.set(tz_key, TZ)
    try:
        ok, msg = check_query(spark, duck, REGISTRY[key], SF_DIR)
    finally:
        spark.conf.set(tz_key, before)
    assert ok, f"{key} under {TZ}: {msg}"


@pytest.mark.parametrize("key", KEYS)
def test_value_match_under_nonutc_session(spark, duck, key):
    _check_under_tz(spark, duck, key)


@pytest.mark.slow
@pytest.mark.parametrize("key", R8_KEYS)
def test_r8_cohort_under_nonutc_session(spark, duck, key):
    _check_under_tz(spark, duck, key)
