"""Hostile-fixture parity pins (r12): the oracle gate re-run on a
mutated sf0.001 containing the edge classes the shipped fixtures
never exercise — NULL event values/props, (user_id, ts) ties,
empty/whitespace/NULL document texts, and (v2) negative/zero/x1e3/
repeating-decimal values, pre-epoch timestamps, unicode and
8x-repeated documents, zero-vector and NULL embeddings.

The full-registry sweep is ``python scripts/sweep.py hostile`` (round
gate); this module pins every key that FAILED a sweep so each fix
stays fixed.

First sweep (NULL/tie classes), nine keys:

- q_ewma / q_weighted_sample: ANSI DIVIDE_BY_ZERO on an all-NULL
  frame / zero weight (now NULL, matching DuckDB's x/0.0),
- q_asof_nearest: the ORACLE desynchronized candidate ts and value
  under per-column IGNORE NULLS (now one struct per direction),
- q_kll_quantile (+ streaming twin's shared readout): NaNs entered
  the then hand-written sketch and COUNT(*)-vs-collect_list index
  desync,
- q_multimodal / _frames / _dedup, q_udtf_explode: pandas UDFs
  crashed on NULL payloads,
- q_text_fingerprint: DuckDB's list_prepend(0, NULL) = [0] folded a
  NULL document to the EMPTY document's fingerprint.

v2 sweep (value/time/unicode/embedding classes), 28 keys in four
families:

- ZERO-VECTOR cosine (22 similarity/dedup/knn/graph keys): every
  plain ``dot/(nrm*nrm')`` division ERRORED under ANSI where
  DuckDB's x/0.0 is NULL — all cosine divisions now F.try_divide,
- NULL-embedding fold resurrection (q_array_funcs,
  q_embed_quantize + the sql_dot/sql_l2_norm/sql_int_dot/sql_dist2
  mirrors): DuckDB's list_prepend(seed, NULL) = [seed] folds a NULL
  array to the seed where Spark's aggregate(NULL) is NULL — mirrors
  and inline oracle folds now NULL-guard explicitly,
- micro6 floor-bound overflow (q_trend_ols): pre-epoch x times a
  x1e3 value pushed |x*value| past numeric.py's documented per-row
  bound on the Spark side only — sxy now pre-scales by 2^16 (exact
  exponent shift) like sxx always did,
- byte-vs-codepoint levenshtein (q_str_funcs2): DuckDB's
  levenshtein counts BYTES; the input is now ASCII-folded on both
  sides.

v3 sweep (the TPC-H half — orphan FKs, NULL group keys, negative/
zero/repeating-decimal monies, unicode names, (o_custkey,
o_orderdate) tie-duplicates, pre-epoch dates), six keys:

- q_cast: double->decimal rounding is engine-divergent on halves
  (Spark rounds the SHORTEST DECIMAL REPR via BigDecimal.valueOf,
  DuckDB rounds the BINARY value) — the cast scale now covers the
  data's true decimal precision (3), where both are exact,
- q_project: concat_ws SKIPS null args where SQL ``||`` propagates
  NULL — now F.concat,
- q_hll_partial: the rollup-vs-exact self-join on l_returnflag
  dropped the NULL group (NULL = NULL is not true) — now eqNullSafe,
- q_math_funcs: DuckDB HARD-ERRORS on sqrt/ln of a negative where
  Spark returns NaN/NULL — ABS domain guards on both sides,
- q_fuzzy_link: byte-vs-codepoint levenshtein again (unicode
  p_name) — ASCII-folded on both sides like q_str_funcs2,
- q_t_closeness: a NULL sensitive value minted a NULL bucket whose
  placement under the cumulative window sort is engine-divergent
  (and which the grid equi-join can't reach) — NULL sensitive rows
  are excluded from the audit distribution on both sides.

v4 sweep (the JSON surface of events.props — malformed documents,
empty objects, nested arrays, string-typed numbers, wrong-case
keys), three keys:

- q_variant: parse_json HARD-ERRORS on a malformed document (and
  DuckDB's json functions do too) — now try_parse_json, with
  json_valid + TRY_CAST guards in the oracle; variant_get COERCES
  a string-typed number, which TRY_CAST(json_extract_string)
  mirrors,
- q_map_json_funcs: from_json with a declared schema is STRICT (no
  string->int coercion, non-scalars are NULL) — the oracle casts
  only when the extracted json_type is integral,
- q_cdc_diff: ANSI CAST throws on a non-scalar extract ('[1,2,3]')
  and DuckDB errors on malformed JSON — key extraction try-casts
  on both sides so a broken payload keys as NULL instead of
  killing the CDC loop.

v5 sweep (the last unmutated columns — NULL user_id, NULL/empty/
unicode event_type, NULL lang/source/label, dim mutations), twelve
keys in six root causes:

- asof_join (q_asof_join/_forward/_sql twins, q_click_attribution,
  and the nearest oracle): the union+window implementation happily
  co-partitioned NULL-keyed rows from both sides where SQL ASOF
  equality never matches a NULL key — NULL-keyed right rows are now
  dropped (left rows emit unmatched), and the nearest oracle adopts
  the same equality contract,
- SUM over (event_type = 'x')::int NULL-poisons all-NULL frames
  (q_funnel, q_user_features + the streaming funnel twin) — now
  CASE WHEN ... ELSE 0 like the oracles,
- pandas groupby drops a None group key by default
  (q_kll_quantile's former pandas partial stage, since replaced by
  Spark's native sketch aggregate) — the calibration re-join is
  eqNullSafe,
- signature training on a NULL class (q_text_langid): a NULL lang
  is not a language and ties engine-divergently (Spark NULLS FIRST
  asc vs DuckDB NULLS LAST) — signatures train on labeled docs
  only, unlabeled docs still scored,
- entity-set semantics with NULL ids (q_bitmap_overlap,
  q_cooccurrence_lift): audience/session membership requires an
  identity — NULL user_id rows excluded on both sides; the session
  UNIVERSE also counts typeless sessions, which the exploded form
  dropped (totals now computed before the explode),
- a USING(user_id) read-back join dropped the NULL
  MATCH_RECOGNIZE partition (q_pattern_skip_to's oracle) — now
  IS NOT DISTINCT FROM,
- concat_ws skipped a NULL event_type in q_event_paths' trigram
  where the oracle's || yields a NULL path (found by the first full
  run of the merged sweep) — now F.concat, with the path tie-break
  NULLS LAST on both sides.

v5 sweep, streaming half (16 keys, six root causes): a NULL
bigint grouping key arrives in the Python state folds as float NaN
— int(key[0]) crashed five folds (now nullable Int64 emission);
oracle equi-joins/recursions on user_id stranded the NULL group
(ewma recursion, zip_seq pair join, vocab_novelty source join —
now IS NOT DISTINCT FROM); `event_type <> 'signup'` silently
dropped NULL-typed facts (enrich_asof — now IS DISTINCT FROM) and
str(None) minted a phantom 'None' type; the transform-timers flush
filter `user_id >= 0` dropped the NULL-user group; latest-value
keys pin DuckDB's arg_max NULL-skipping (the last KNOWN reading),
and sequence_match's seq_len is a row COUNTER in state, not
len(string), since NULL initials don't enter the string. Plus:
transform_map's string MapState key encodes the NULL type behind a
bijective prefix (str(None) minted 'None' and sorted() can't
compare None); transform_init's snapshot-∪-live anti join is
eqNullSafe; stream_topk's rank tie pins NULLS LAST on both engines.

One ENGINE BOUNDARY was documented rather than fixed: pyspark's
transformWithStateInPandas key grouping is partition-layout-
dependent for a NULL grouping key (with 8 shuffle partitions the
NULL-user rows merge into a co-partitioned user's group; with 32
they group alone) — unlike applyInPandasWithState, which groups
NULL keys correctly. All six tws queries therefore exclude NULL
grouping keys on both sides (the _TWS_ORACLE note in
streaming/stateful.py).
"""

from __future__ import annotations

import shutil

import pytest

from streamz_postgres_spark.oracle import check_query, duckdb_connection
from streamz_postgres_spark.registry import REGISTRY, _load_all, is_live
from tests.conftest import SF_DIR

_load_all()

PINNED = [
    "q_asof_nearest",
    "q_ewma",
    "q_kll_quantile",
    "q_multimodal",
    "q_multimodal_dedup",
    "q_multimodal_frames",
    "q_text_fingerprint",
    "q_udtf_explode",
    "q_weighted_sample",
    # -- v2 sweep pins --------------------------------------------------
    "q_abtest_welch",
    "q_ann_recall",
    "q_array_funcs",
    "q_autocorr",
    "q_dedup_cluster_stats",
    "q_dedup_clusters",
    "q_dedup_embed",
    "q_dedup_semantic",
    "q_doc_outliers",
    "q_embed_matryoshka",
    "q_embed_quantize",
    "q_kmeans_lloyd",
    "q_knn_batch",
    "q_knn_graph",
    "q_knn_hubness",
    "q_knn_ivf_batch",
    "q_retrieval_prf",
    "q_sim_ann_ivf",
    "q_sim_ann_ivf_int8",
    "q_sim_ann_ivfpq",
    "q_sim_ann_lsh",
    "q_sim_ann_multiprobe",
    "q_sim_cosine",
    "q_sim_pairs",
    "q_sim_threshold_sweep",
    "q_str_funcs2",
    "q_trend_ols",
    "q_triangle_count",
    # -- v3 sweep pins (TPC-H mutation classes) -------------------------
    "q_cast",
    "q_fuzzy_link",
    "q_hll_partial",
    "q_math_funcs",
    "q_project",
    "q_t_closeness",
    # -- v4 sweep pins (JSON mutation classes) --------------------------
    "q_variant",
    "q_map_json_funcs",
    # -- v5 sweep pins (NULL-key mutation classes) ----------------------
    "q_asof_forward",
    "q_asof_forward_sql",
    "q_asof_join",
    "q_asof_nearest",
    "q_asof_sql",
    "q_bitmap_overlap",
    "q_click_attribution",
    "q_cooccurrence_lift",
    "q_event_paths",
    "q_funnel",
    "q_kll_quantile",
    "q_latest_per_key",
    "q_pattern_skip_to",
    "q_text_langid",
    "q_user_features",
]


#: Streaming-twin pins, v2 sweep (run on the UNSHIFTED profile —
#: Spark's event-time watermark initializes to the 1970 epoch, so
#: pre-epoch rows are structurally late-dropped by every watermarked
#: streaming aggregation; see build_hostile_dir):
#:
#: - q_stream_transform_state/_timers/_init + q_stream_accumulate +
#:   q_stream_percentile: pandas NaN (NULL double) crashed or
#:   poisoned the Python state folds; now SQL-convention NULL-skip
#:   with a nullable accumulator,
#: - q_stream_anomaly: the oracle CASE yields NULL (not FALSE) for a
#:   NULL value once n_prev >= 2,
#: - q_stream_combine_latest: LAST_VALUE IGNORE NULLS skips a NULL
#:   update, the fold overwrote with NaN,
#: - q_stream_enrich_asof: ORACLE per-column IGNORE NULLS desync
#:   (the q_asof_nearest class) — now one struct per version,
#: - q_stream_textfile: line sink normalizes CR/LF and skips NULL
#:   docs on both sides (line formats cannot carry either),
#: - q_stream_json_lines: sum(CASE...ELSE 0) vs sum(cast(bool)) on
#:   all-NULL groups,
#: - q_stream_percentile_windowed: COUNT(*)-vs-collect_list index
#:   desync + ANSI element_at throw on the empty array,
#: - q_stream_vocab_novelty / q_stream_bloom_ingest: str(None)
#:   minted a phantom 'None' token / NULL text collapsed to zero
#:   counts instead of NULL,
#: - q_cdc_materialize (+ time-travel twin): staging chunked by
#:   event_id range with step = COUNT(*)//4+1, which strands every
#:   id >= 4*step when ids aren't contiguous — now MAX(event_id).
PINNED_STREAMING = [
    "q_cdc_diff",
    "q_cdc_materialize",
    # -- v5 sweep streaming pins ----------------------------------------
    "q_stream_combine_latest",
    "q_stream_enrich_asof",
    "q_stream_ewma",
    "q_stream_latest_per_key",
    "q_stream_pattern_measures",
    "q_stream_pattern_overlap",
    "q_stream_pattern_skip_to",
    "q_stream_sequence_match",
    "q_stream_topk",
    "q_stream_transform_init",
    "q_stream_transform_map",
    "q_stream_transform_timers",
    "q_stream_vocab_novelty",
    "q_stream_zip_seq",
    "q_cdc_time_travel",
    "q_stream_accumulate",
    "q_stream_anomaly",
    "q_stream_bloom_ingest",
    "q_stream_combine_latest",
    "q_stream_enrich_asof",
    "q_stream_json_lines",
    "q_stream_percentile",
    "q_stream_percentile_windowed",
    "q_stream_textfile",
    "q_stream_transform_init",
    "q_stream_transform_state",
    "q_stream_transform_timers",
    "q_stream_trend",
    "q_stream_vocab_novelty",
]

# a pin's fixture follows the registry's live-key rule, as in the sweep
assert not any(map(is_live, PINNED)) and all(map(is_live, PINNED_STREAMING))


@pytest.fixture(scope="module")
def hostile_dir():
    from scripts.sweep import build_hostile_dir

    d = build_hostile_dir(SF_DIR)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def hostile_duck(hostile_dir):
    return duckdb_connection(hostile_dir)


@pytest.fixture(scope="module")
def hostile_stream_dir():
    from scripts.sweep import build_hostile_dir

    d = build_hostile_dir(SF_DIR, timeshift=False)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def hostile_stream_duck(hostile_stream_dir):
    return duckdb_connection(hostile_stream_dir)


def test_hostile_fixture_actually_hostile(hostile_duck):
    """The mutations must exist, or every pin below is vacuous."""
    n_null_val, n_null_props = hostile_duck.execute(
        "SELECT COUNT(*) - COUNT(value), COUNT(*) - COUNT(props) FROM events"
    ).fetchone()
    assert n_null_val > 0 and n_null_props > 0
    (n_ties,) = hostile_duck.execute(
        "SELECT COUNT(*) FROM (SELECT user_id, ts FROM events "
        "GROUP BY user_id, ts HAVING COUNT(*) > 1)"
    ).fetchone()
    assert n_ties > 0
    n_null, n_empty, n_blank = hostile_duck.execute(
        "SELECT COUNT(*) FILTER (text IS NULL), "
        "COUNT(*) FILTER (text = ''), "
        "COUNT(*) FILTER (text = '   ') FROM documents"
    ).fetchone()
    assert n_null > 0 and n_empty > 0 and n_blank > 0
    # v2 classes
    n_neg, n_big, n_pre = hostile_duck.execute(
        "SELECT COUNT(*) FILTER (value < 0), "
        "COUNT(*) FILTER (value > 1e4), "
        "COUNT(*) FILTER (ts < TIMESTAMP '1970-01-01') FROM events"
    ).fetchone()
    assert n_neg > 0 and n_big > 0 and n_pre > 0
    (n_uni,) = hostile_duck.execute(
        "SELECT COUNT(*) FILTER (text LIKE '%世界%') FROM documents"
    ).fetchone()
    assert n_uni > 0
    n_null_emb, n_zero_emb = hostile_duck.execute(
        "SELECT COUNT(*) FILTER (embedding IS NULL), "
        "COUNT(*) FILTER (list_sum(list_transform(embedding, "
        "x -> abs(x))) = 0) FROM embeddings"
    ).fetchone()
    assert n_null_emb > 0 and n_zero_emb > 0
    # v3 classes — the TPC-H half
    (n_orphan,) = hostile_duck.execute(
        "SELECT COUNT(*) FROM orders o WHERE NOT EXISTS "
        "(SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)"
    ).fetchone()
    assert n_orphan > 0
    n_null_rf, n_neg_price = hostile_duck.execute(
        "SELECT COUNT(*) FILTER (l_returnflag IS NULL), "
        "COUNT(*) FILTER (l_extendedprice < 0) FROM lineitem"
    ).fetchone()
    assert n_null_rf > 0 and n_neg_price > 0
    (n_dup_ord,) = hostile_duck.execute(
        "SELECT COUNT(*) FROM (SELECT o_custkey, o_orderdate "
        "FROM orders GROUP BY 1, 2 HAVING COUNT(*) > 1)"
    ).fetchone()
    assert n_dup_ord > 0
    n_uni_cust, n_null_seg = hostile_duck.execute(
        "SELECT COUNT(*) FILTER (c_name LIKE '%顧客%'), "
        "COUNT(*) FILTER (c_mktsegment IS NULL) FROM customer"
    ).fetchone()
    assert n_uni_cust > 0 and n_null_seg > 0
    (n_pre_ord,) = hostile_duck.execute(
        "SELECT COUNT(*) FILTER (o_orderdate < TIMESTAMP '1970-01-01') "
        "FROM orders"
    ).fetchone()
    assert n_pre_ord > 0
    (n_neg_retail,) = hostile_duck.execute(
        "SELECT COUNT(*) FROM part WHERE p_retailprice < 0"
    ).fetchone()
    assert n_neg_retail > 0
    # v4 classes — the JSON surface
    n_malformed, n_strnum, n_nested = hostile_duck.execute(
        "SELECT COUNT(*) FILTER (props IS NOT NULL "
        "AND NOT json_valid(props)), "
        "COUNT(*) FILTER (props = '{\"k\": \"42\"}'), "
        "COUNT(*) FILTER (props = '{\"k\": [1, 2, 3]}') FROM events"
    ).fetchone()
    assert n_malformed > 0 and n_strnum > 0 and n_nested > 0
    # v5 classes — NULL identity/symbol keys
    n_null_uid, n_null_et, n_empty_et = hostile_duck.execute(
        "SELECT COUNT(*) FILTER (user_id IS NULL), "
        "COUNT(*) FILTER (event_type IS NULL), "
        "COUNT(*) FILTER (event_type = '') FROM events"
    ).fetchone()
    assert n_null_uid > 0 and n_null_et > 0 and n_empty_et > 0
    n_null_lang, n_null_src = hostile_duck.execute(
        "SELECT COUNT(*) FILTER (lang IS NULL), "
        "COUNT(*) FILTER (source IS NULL) FROM documents"
    ).fetchone()
    assert n_null_lang > 0 and n_null_src > 0
    (n_null_label,) = hostile_duck.execute(
        "SELECT COUNT(*) FROM embeddings WHERE label IS NULL"
    ).fetchone()
    assert n_null_label > 0


@pytest.mark.parametrize("key", PINNED)
def test_pinned_key_survives_hostile_fixture(
    spark, hostile_duck, hostile_dir, key
):
    ok, msg = check_query(spark, hostile_duck, REGISTRY[key], hostile_dir)
    assert ok, f"{key}: {msg}"


@pytest.mark.parametrize("key", PINNED_STREAMING)
def test_pinned_streaming_key_survives_hostile_fixture(
    spark, hostile_stream_duck, hostile_stream_dir, key
):
    if key not in REGISTRY:  # protobuf-gated keys
        pytest.skip(f"{key} not registered in this environment")
    ok, msg = check_query(
        spark, hostile_stream_duck, REGISTRY[key], hostile_stream_dir
    )
    assert ok, f"{key}: {msg}"
