"""Plan-shape guards: the properties that keep these operators
viable at 100 TB, asserted on the actual physical plans so a
regression (lost pushdown, accidental cartesian product, missed
broadcast) fails CI instead of melting a cluster.
"""

from __future__ import annotations

import contextlib
import io
import json

import pytest

from streamz_postgres_spark.registry import REGISTRY, _load_all
from tests.conftest import PLAN_BUDGET, SF_DIR, batch_keys, batch_plan_summaries

_load_all()


def _plan(spark, key: str) -> str:
    df = REGISTRY[key].spark_fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_flagship_pushes_filter_and_prunes_columns(spark):
    plan = _plan(spark, "q_flagship")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruned: unreferenced columns stay out of the scan
    assert "l_partkey" not in plan and "l_suppkey" not in plan


def test_broadcast_dims_are_broadcast(spark):
    plan = _plan(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan


def test_theta_join_broadcasts_literal_bands(spark):
    plan = _plan(spark, "q_join_theta")
    assert "BroadcastNestedLoopJoin" in plan
    # the big side must NOT be the build side of a cartesian product
    assert "CartesianProduct" not in plan


def test_explain_summary_counts_and_window_flags(spark):
    """explain_summary must count each exchange once (formatted
    explain prints every node twice), must NOT flag global
    aggregates/limits as single-partition windows, and must read each
    budget counter off a frame built to have it."""
    from streamz_postgres_spark.plans.scale import explain_summary

    # global agg: has a SinglePartition exchange but no window
    g = explain_summary(REGISTRY["q_global_agg"].spark_fn(spark, SF_DIR))
    assert g["single_partition_windows"] is False
    # partitioned window query: exchanges counted, no false flag
    w = explain_summary(REGISTRY["q_window_rank"].spark_fn(spark, SF_DIR))
    assert w["single_partition_windows"] is False
    assert 1 <= w["exchanges"] <= 3
    # a deliberately global (unpartitioned) ordered window IS flagged
    from pyspark.sql import Window, functions as F

    from streamz_postgres_spark.catalog import load_table

    bad = load_table(spark, SF_DIR, "orders").withColumn(
        "rn", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    assert explain_summary(bad)["single_partition_windows"] is True
    # one frame per remaining counter
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    twice = orders.filter("o_orderkey % 2 = 0").unionByName(
        load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    )
    assert explain_summary(twice)["scans"] == 2
    plus_one = F.udf(lambda k: k + 1, "long")
    assert explain_summary(orders.select(plus_one("o_orderkey")))["python_nodes"] >= 1
    ckpt = explain_summary(orders.localCheckpoint())
    assert (ckpt["checkpoint_scans"], ckpt["scans"]) == (1, 0)
    bands = spark.createDataFrame([(0.0, 1e5), (1e5, 1e9)], "lo double, hi double")
    theta = orders.join(
        F.broadcast(bands),
        (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
    )
    t = explain_summary(theta)
    assert (t["nested_loop_joins"], t["joins"], t["has_cartesian"]) == (1, 1, False)


def test_window_ops_are_partitioned(spark):
    """Ordered windows must be key-partitioned (a global orderBy
    window is a single serial task at scale). Since the two-pass
    partition-offset with_seq landed, zip_seq is no exception:
    positional numbering is a range exchange + local ordinal, not a
    global window."""
    for key in ("q_window_rank", "q_running_sum", "q_moving_avg",
                "q_topk_per_group", "q_dedup", "q_zip_seq"):
        plan = _plan(spark, key)
        assert "SinglePartition" not in plan, key


def test_with_seq_has_no_global_window(spark):
    """The two-pass with_seq must produce no single-partition window
    and number rows exactly like a global row_number."""
    from streamz_postgres_spark.catalog import load_table
    from streamz_postgres_spark.operators.joins import with_seq
    from streamz_postgres_spark.plans.scale import explain_summary

    df = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    out = with_seq(df, ["o_orderkey"], "seq")
    assert explain_summary(out)["single_partition_windows"] is False
    rows = out.orderBy("seq").collect()
    keys_by_seq = [r["o_orderkey"] for r in rows]
    assert keys_by_seq == sorted(keys_by_seq)
    assert [r["seq"] for r in rows] == list(range(1, len(rows) + 1))


def test_prefix_filter_jaccard_recall_and_stopword_block(spark):
    """q_dedup_ngram's prefix filter: a universal stopword must not
    generate candidate pairs (the 100 TB df^2 hotspot), while true
    near-dup pairs are still found — recall is provably lossless, so
    the exact pair set must match brute force."""
    from streamz_postgres_spark.operators.dedup import _prefix_filtered_jaccard

    rows = [(i, "en", f"uniq{i} the") for i in range(40)]
    rows += [(100, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
             (101, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
             (102, "en", "alpha beta gamma delta epsilon zeta eta theta iota lambda")]
    d = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    out = _prefix_filtered_jaccard(d, t=0.9).collect()
    pairs = {(r.doc_a, r.doc_b) for r in out}
    # the 40 docs sharing only the stopword "the" (pairwise J=1/3)
    # produce nothing; docs 100/101 are identical (J=1.0); 102 shares
    # 9 of 11 distinct tokens with each (J=9/11 < 0.9)
    assert pairs == {(100, 101)}
    assert all(r.jaccard >= 0.9 for r in out)


def test_winnow_hot_gram_filtered_before_collect(spark):
    """r14 hazard fix (r13 ADVICE medium): a gram whose document
    frequency exceeds _SUB_DF_CAP (corpus-wide boilerplate) must be
    dropped BEFORE any doc list is collected — at 100 TB a hot gram
    would otherwise materialize millions of doc_ids in one
    non-spillable collect_list buffer only for the cap filter to
    discard them. Functionally: the hot gram never produces candidate
    pairs while a genuine duplicate pair in the same corpus is still
    found. Structurally: the plan's df-cap Filter sits BELOW the
    collect_list aggregate (operator ids are bottom-up), fed by a
    spillable Window count over the same gram exchange."""
    import re

    from streamz_postgres_spark.operators.dedup import (
        _SUB_DF_CAP,
        _winnow_pairs,
    )

    hot = ("boilerplate header repeated verbatim in every document "
           "of this corpus so its winnow fingerprints blow the df cap")
    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the meadow at dawn " * 3)
    rows = [(i, hot) for i in range(_SUB_DF_CAP + 10)]
    rows += [(1000, base), (1001, base + " tail b")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    res = _winnow_pairs(spark, "/nonexistent", docs=docs)
    got = {(r.doc_a, r.doc_b) for r in res.collect()}
    assert (1000, 1001) in got, "true duplicate pair must survive"
    assert all(a >= 1000 and b >= 1000 for a, b in got), got

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.explain("formatted")
    plan = buf.getvalue()
    win_ids = [int(m) for m in re.findall(r"\((\d+)\) Window", plan)]
    collect_ids = [
        int(m) for m in re.findall(r"\((\d+)\) ObjectHashAggregate", plan)
    ]
    filter_ids = [int(m) for m in re.findall(r"\((\d+)\) Filter", plan)]
    assert win_ids and collect_ids, plan
    win, coll = min(win_ids), min(collect_ids)
    assert win < coll, plan
    assert any(win < f < coll for f in filter_ids), (
        "df-cap filter must sit between the window count and the "
        "collect_list aggregate:\n" + plan
    )


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation must converge on a long chain (needs
    many rounds — the fixture's near-dup graph is shallow so this
    covers the iteration path), merge branchy components, and leave
    singletons alone."""
    from streamz_postgres_spark.operators.dedup import connected_components

    # chain 0-1-2-...-9, triangle 20-21-22, star 30-(31,32,33),
    # singletons 40, 41
    edges = [(i, i + 1) for i in range(9)]
    edges += [(20, 21), (21, 22), (20, 22), (30, 31), (30, 32), (30, 33)]
    nodes = spark.createDataFrame(
        [(n,) for n in list(range(10)) + [20, 21, 22, 30, 31, 32, 33, 40, 41]],
        "vec_id bigint",
    )
    pairs = spark.createDataFrame(edges, "u bigint, w bigint")
    got = {
        r.vec_id: r.cluster_id for r in connected_components(nodes, pairs).collect()
    }
    for n in range(10):
        assert got[n] == 0, n
    for n in (20, 21, 22):
        assert got[n] == 20
    for n in (30, 31, 32, 33):
        assert got[n] == 30
    assert got[40] == 40 and got[41] == 41


def test_runtime_filter_prunes_before_exchange(spark):
    """q_runtime_filter must (a) broadcast the coarse bucket set so
    the prune happens map-side before any fact exchange, and (b) keep
    filter pushdown into the dim scan."""
    plan = _plan(spark, "q_runtime_filter")
    assert plan.count("BroadcastHashJoin") >= 2  # semi-prune + exact join
    assert "StringStartsWith(p_type,PROMO)" in plan


def test_range_join_binned_is_equi_not_nested_loop(spark):
    """The binned range join must plan as a hash equi-join on bin id,
    never a nested loop over the cross product."""
    plan = _plan(spark, "q_range_join_binned")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # Broadcast- or ShuffledHashJoin on __bin


def test_chunk_overlap_is_map_only(spark):
    """Chunking must not shuffle: the only work is scan → explode →
    project (output-linear, embarrassingly parallel)."""
    from streamz_postgres_spark.plans.scale import explain_summary

    s = explain_summary(REGISTRY["q_chunk_overlap"].spark_fn(spark, SF_DIR))
    assert s["exchanges"] == 0


def test_domain_mix_and_pii_scrub_single_scan_agg(spark):
    """Corpus-hygiene passes are scan + one final agg exchange — no
    joins, no extra shuffles."""
    from streamz_postgres_spark.plans.scale import explain_summary

    for key in ("q_domain_mix", "q_pii_scrub"):
        s = explain_summary(REGISTRY[key].spark_fn(spark, SF_DIR))
        assert s["joins"] == 0, key
        assert s["exchanges"] <= 1, key


def test_resample_locf_window_is_key_partitioned(spark):
    plan = _plan(spark, "q_resample_locf")
    assert "SinglePartition" not in plan


def test_partition_prune_uses_partition_filters(spark):
    """The day predicate must prune at the DIRECTORY level
    (PartitionFilters), not as a post-scan row filter."""
    plan = _plan(spark, "q_partition_prune")
    assert "PartitionFilters" in plan
    assert "2024-01-15" in plan


def test_corpus_pipeline_single_wide_shuffle(spark):
    """The end-to-end corpus build must compose without any join and
    with the dedup as the only data-sized exchange (the final
    accounting agg moves O(splits) rows)."""
    from streamz_postgres_spark.plans.scale import explain_summary

    s = explain_summary(REGISTRY["q_corpus_pipeline"].spark_fn(spark, SF_DIR))
    assert s["joins"] == 0
    assert s["exchanges"] <= 3
    assert s["single_partition_windows"] is False


def test_bucketed_join_is_exchange_free(spark):
    """q_join_bucketed: the sort-merge join must consume the two
    bucketed tables directly — the ONLY exchange in the plan is the
    post-join rollup's. Both scans must report the bucketed layout;
    if bucketing is silently dropped (config off, bucket mismatch),
    a second exchange appears and this guard fails."""
    df = REGISTRY["q_join_bucketed"].spark_fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_pairwise_embedding_plans_resplit_single_file_inputs(spark):
    """Round-6 scale-curve catch: a small single-file embeddings
    table is ONE input split, and when the blocked pairwise join
    broadcasts, every per-block cosine serializes onto that one probe
    task (measured: the 10x replica ran 3x SLOWER than the 30x one,
    whose file size happened to tip the join into a shuffle). The
    pairwise operators must therefore re-split the probe side before
    the join — visible as a vec_id hash exchange in the plan."""
    # q_dedup_clusters shares the same pairs pipeline but its CC
    # fixpoint localCheckpoints away the lineage, so the pairs plan
    # is asserted through q_dedup_embed instead
    for key in ("q_dedup_embed", "q_knn_graph", "q_sim_pairs"):
        plan = _plan(spark, key)
        assert "hashpartitioning(vec_id" in plan, key


def test_oov_vocab_topv_is_distributed(spark):
    """q_oov_rate's top-V vocabulary must compile to a distributed
    TakeOrderedAndProject, never a single-partition row_number sort
    of the whole token vocabulary (which would serialize a
    billion-token vocab onto one task at scale)."""
    from streamz_postgres_spark.plans.scale import explain_summary

    plan = _plan(spark, "q_oov_rate")
    assert "TakeOrderedAndProject" in plan
    from streamz_postgres_spark.registry import REGISTRY

    df = REGISTRY["q_oov_rate"].spark_fn(spark, SF_DIR)
    assert explain_summary(df)["single_partition_windows"] is False


def test_kll_partials_run_after_resplit(spark):
    """q_kll_quantile builds its sketches in Spark: no Python node,
    and a partial aggregate builds one sketch per (task, type) right
    above the scan, so the one exchange on the sketch path carries
    sketches, never the value multiset."""
    from streamz_postgres_spark.plans.scale import explain_summary

    df = REGISTRY["q_kll_quantile"].spark_fn(spark, SF_DIR)
    assert explain_summary(df)["python_nodes"] == 0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    tree = [line.lstrip(" :+-") for line in buf.getvalue().splitlines()]
    final = next(
        i for i, line in enumerate(tree)
        if "functions=[kll_sketch_agg_double(" in line
    )
    assert tree[final + 1].startswith("Exchange hashpartitioning(event_type"), tree
    assert "functions=[partial_kll_sketch_agg_double(" in tree[final + 2], tree
    assert tree[final + 3].startswith("FileScan parquet"), tree


@pytest.fixture(scope="module")
def batch_plans(spark):
    """{key: explain_summary} for every batch key, each plan built
    once for the registry-wide tests below (streaming and CDC keys are
    left out: their plans materialize through a sink)."""
    return dict(batch_plan_summaries(spark))


def test_no_cartesian_products_anywhere(batch_plans):
    """No batch key may plan an unbounded cartesian product
    (broadcast nested loops over literal/1-row sides are fine)."""
    offenders = [k for k, s in batch_plans.items() if s["has_cartesian"]]
    assert offenders == [], offenders


def test_no_single_partition_windows_anywhere(batch_plans):
    """No batch key may plan a window over an empty PARTITION BY (the
    silent serialize-everything-onto-one-task class with_seq exists to
    avoid)."""
    offenders = [k for k, s in batch_plans.items() if s["single_partition_windows"]]
    assert offenders == [], offenders


def test_plan_budget_every_batch_key(batch_plans):
    """Every batch key must stay at or below its tests/plan_budget.json
    ceiling on every explain_summary counter (exchanges, scans, joins,
    nested-loop joins, Python nodes, checkpoint scans), so a plan
    regression fails here instead of in a human diff of plan dumps.

    The budget must list exactly the registered batch keys. After a
    plan win, lower the ceilings with ``python scripts/measure.py
    budget`` and review the JSON diff."""
    from streamz_postgres_spark.plans.scale import PLAN_COUNTERS

    budget = json.loads(PLAN_BUDGET.read_text())
    keys = batch_keys()
    assert sorted(set(keys) - set(budget)) == [], "batch keys with no budget"
    assert sorted(set(budget) - set(keys)) == [], "budget keys not registered"
    failures = [
        f"{key}: {c} {s[c]} > budget {budget[key][c]}"
        for key, s in batch_plans.items()
        for c in PLAN_COUNTERS
        if s[c] > budget[key][c]
    ]
    assert failures == [], "\n".join(failures)
