"""Semantic invariants for the round-5 late additions — properties
the DuckDB oracle canNOT establish because both engines could share
the same mistake: the Q21 decorrelation vs Spark's own correlated
SQL, suppression actually achieving k-anonymity, shard export
partitioning the corpus exactly, lift symmetry bounds, and the
rollup cascade matching a direct aggregate under a hostile
partitioning.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from streamz_postgres_spark.catalog import load_table, register_views
from streamz_postgres_spark.registry import REGISTRY, _load_all
from tests.conftest import SF_DIR

_load_all()

pytestmark = pytest.mark.slow


def test_tpch_q21_decorrelation_matches_correlated_sql(spark):
    """The hand-decorrelated Q21 plan (per-order distinct/late-
    distinct aggregate) must equal Spark's OWN evaluation of the
    textbook EXISTS / NOT EXISTS form — a same-engine proof that the
    rewrite is semantics-preserving, independent of DuckDB."""
    register_views(spark, SF_DIR)
    textbook = spark.sql(
        """
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier, lineitem l1, orders
        WHERE s_suppkey = l1.l_suppkey
          AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAYS
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAYS
          )
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 10
        """
    ).collect()
    ours = REGISTRY["q_tpch_q21"].spark_fn(spark, SF_DIR).collect()
    assert [tuple(r) for r in ours] == [tuple(r) for r in textbook]


def test_kanonymity_suppression_closes_the_audit(spark):
    """Suppressing every row of an under-k equivalence class must
    yield a table the audit passes with zero risky groups — the
    operational loop (audit -> suppress -> re-audit) terminates."""
    from streamz_postgres_spark.operators.pipeline import _KANON_K

    c = load_table(spark, SF_DIR, "customer")
    sizes = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("grp_size")
    )
    kept = c.join(
        sizes.filter(F.col("grp_size") >= _KANON_K).select(
            "c_nationkey", "c_mktsegment"
        ),
        ["c_nationkey", "c_mktsegment"],
        "left_semi",
    )
    re_audit = (
        kept.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("grp_size"))
        .agg(
            F.sum(
                F.when(F.col("grp_size") < _KANON_K, 1).otherwise(0)
            ).alias("risky")
        )
        .collect()[0]["risky"]
    )
    assert re_audit == 0
    # and the audit's own row accounting is conserved
    row = REGISTRY["q_kanonymity"].spark_fn(spark, SF_DIR).collect()[0]
    assert row.n_risky_rows == c.count() - kept.count()


def test_shuffle_shard_is_an_exact_partition(spark):
    """Shard export must place EVERY document exactly once: shard
    sizes sum to the corpus size, per-shard positions are dense
    1..n, and the assignment is reproducible run-to-run."""
    rows = REGISTRY["q_shuffle_shard"].spark_fn(spark, SF_DIR).collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert {r.shard for r in rows} == set(range(16))
    rows2 = REGISTRY["q_shuffle_shard"].spark_fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    # dense positions: recompute the placement independently, PROVE
    # the recomputation dense (pos set == {1..n} per shard), then tie
    # it to the QUERY via the permutation checksum — if the operator
    # ever produced gapped positions (rank()-style) its checksum
    # would no longer match this provably-dense reference
    from pyspark.sql import Window

    from streamz_postgres_spark.functions.text_features import hash60

    d = load_table(spark, SF_DIR, "documents")
    h = hash60(F.concat(F.col("doc_id").cast("string"), F.lit("#shard")))
    placed = (
        d.select("doc_id", h.alias("h"))
        .withColumn("shard", F.col("h") % 16)
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("shard").orderBy("h", "doc_id")
            ),
        )
    )
    dense = (
        placed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pos").alias("pos_sum"),
            F.count_distinct("pos").alias("n_distinct_pos"),
            F.max("pos").alias("max_pos"),
            F.sum(F.col("doc_id") * F.col("pos")).alias("ref_checksum"),
        )
        .collect()
    )
    for r in dense:
        assert r.n_distinct_pos == r.n and r.max_pos == r.n
        assert r.pos_sum == r.n * (r.n + 1) // 2
    assert {r.shard: r.n for r in dense} == {r.shard: r.n_docs for r in rows}
    assert {r.shard: r.ref_checksum for r in dense} == {
        r.shard: r.perm_checksum for r in rows
    }


def test_cooccurrence_lift_bounds(spark):
    """Pair counts can never exceed either side's session count, and
    every surfaced pair must be strictly ordered (no self-pairs, no
    duplicates in the other orientation)."""
    rows = REGISTRY["q_cooccurrence_lift"].spark_fn(spark, SF_DIR).collect()
    assert rows, "expected co-occurring pairs in the fixture"
    seen = set()
    for r in rows:
        assert r.type_a < r.type_b
        assert (r.type_a, r.type_b) not in seen
        seen.add((r.type_a, r.type_b))
        assert r.n_both > 0 and r.lift > 0


def test_rollup_cascade_invariant_to_hostile_partitioning(spark):
    """The cascade's claim is associativity: re-running with a
     3-partition shuffle and a 29-partition shuffle must produce
    byte-identical daily rows (the decimal partials make merge order
    irrelevant)."""
    fn = REGISTRY["q_rollup_cascade"].spark_fn
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        narrow = [tuple(r) for r in fn(spark, SF_DIR).collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "29")
        wide = [tuple(r) for r in fn(spark, SF_DIR).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert narrow == wide


def test_kmv_intersect_error_bounded_and_exact_below_k(spark):
    """Theta-sketch intersection: on groups smaller than k the
    sketch IS the exact set, so the estimate must be exact; on the
    sketch path the realized error must stay within a loose 4·RSE
    band (RSE ≈ 1/sqrt(k)) — a real accuracy guarantee, not just
    cross-engine agreement on the same formula."""
    from streamz_postgres_spark.operators.aggregates import _KMV_K

    rows = REGISTRY["q_kmv_intersect"].spark_fn(spark, SF_DIR).collect()
    assert rows
    aud = (
        load_table(spark, SF_DIR, "events")
        .select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .count()
        .collect()
    )
    n_by_type = {r.event_type: r["count"] for r in aud}
    bound = 4.0 / (_KMV_K ** 0.5)
    for r in rows:
        if n_by_type[r.type_a] < _KMV_K and n_by_type[r.type_b] < _KMV_K:
            assert r.rel_err == 0.0, f"{r.type_a}/{r.type_b} not exact"
        else:
            assert r.rel_err <= bound, (
                f"{r.type_a}/{r.type_b} rel_err {r.rel_err} > {bound}"
            )


def test_stream_pattern_measures_closes_to_batch(spark):
    """The live per-match MEASURES twin must converge to the batch
    MATCH_RECOGNIZE lowering exactly. Both share one DuckDB oracle,
    but the closure here is engine-internal (stream fold vs batch HOF
    arithmetic), so a drift in EITHER shows even if both keep passing
    their shared oracle on a lucky fixture."""
    batch = sorted(
        map(
            tuple,
            REGISTRY["q_pattern_measures"].spark_fn(spark, SF_DIR).collect(),
        )
    )
    live = sorted(
        map(
            tuple,
            REGISTRY["q_stream_pattern_measures"]
            .spark_fn(spark, SF_DIR)
            .collect(),
        )
    )
    assert batch == live
    assert len(batch) > 0  # the fixture has matches — not vacuous
