"""KLL quantile sketches on Spark's native DataSketches KLL.

The KLL sketch (Karnin-Lang-Liberty 2016) keeps a hierarchy of
compactors: a full level is sorted and every other item moves up at
doubled weight, the starting parity chosen at random. Its state is
O(k log(n/k)) retained items per group and partial sketches merge, so
Spark runs it as an ordinary two-phase aggregate
(``kll_sketch_agg_double``: a partial sketch per task before the
shuffle, a merge after it) and as streaming aggregation state, where
the state store holds the binary sketch.

The error bound is the library's own: ``Epsilon`` in
``kll_sketch_to_string_double`` is the normalized rank error at 99%
confidence (1.046% at k = 256), so a read-out misses its target rank
by more than ``ceil(epsilon * n)`` with probability under 1%. The
sketch is randomized, so the estimate varies between runs once
n > k, and it is not a cross-engine value. The registered queries
therefore self-check it, as q_hll_partial does with its 3-sigma
``est_ok``: ``calibrated_readout`` ranks each estimate against the
exact order statistics and emits in-bound flags, which the oracle
expects to be 1. Below k items nothing is compacted and every
read-out is exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_K = 256


def kll_sketch(value: str) -> Column:
    """The KLL aggregate over a double column. NULL values never enter
    the sketch (the SQL aggregate convention), and neither do NaNs."""
    return F.kll_sketch_agg_double(value, F.lit(DEFAULT_K))


def _summary_field(summary: Column, name: str) -> Column:
    return F.regexp_extract(summary, rf"\n\s*{name}\s+: ([0-9.]+)", 1)


def sketch_estimates(sketches: DataFrame) -> DataFrame:
    """One row per event_type with its sketch ``sk``, read out as
    (n_events, p50_est, p90_est, err_bound, state_items): the
    estimates at normalized ranks 0.5 and 0.9, the rank-error bound
    ceil(epsilon * n) and the retained item count.

    Spark takes the rank as a constant, so each estimate answers the
    nearest-rank target ceil(r * n). The audited targets of
    ``calibrated_readout``, (n-1) DIV 2 + 1 and (n-1)*9 DIV 10 + 1,
    equal it for p50 and sit at most one rank lower for p90, a rank
    the p90 check counts against the bound. An empty sketch (a group
    whose values are all NULL) has n = 0 and NULL estimates: the
    library refuses a quantile of it."""
    s = sketches.select(
        "event_type",
        "sk",
        F.kll_sketch_get_n_double("sk").alias("n_events"),
        F.kll_sketch_to_string_double("sk").alias("summary"),
    )
    n = F.col("n_events")

    def est(rank: float) -> Column:
        quantile = F.kll_sketch_get_quantile_double("sk", F.lit(rank))
        return F.when(n > 0, quantile)

    eps = _summary_field(F.col("summary"), "Epsilon").cast("double") / 100
    return s.select(
        "event_type",
        "n_events",
        est(0.5).alias("p50_est"),
        est(0.9).alias("p90_est"),
        F.ceil(eps * n).cast("bigint").alias("err_bound"),
        _summary_field(F.col("summary"), "Retained Items")
        .cast("bigint")
        .alias("state_items"),
    )


def calibrated_readout(latest, events):
    """Shared self-calibration read-out for the KLL queries (batch
    q_kll_quantile and streaming q_stream_kll_quantile).

    ``latest``: one row per event_type with the sketch's final
    (n_events, p50_est, p90_est, err_bound, state_items).
    ``events``: the batch events frame the sketch consumed.

    Emits only cross-engine-deterministic columns: the exact
    integer-index order statistics (value-checked against the
    oracle) and flags asserting the sketch's realized rank error
    sits within its bound and its state within the
    k*(2+ceil(log2(2n/k))) cap — a sketch bug flips a flag and
    fails the hash gate (the q_kmv_distinct calibration pattern).
    The O(n) exact side exists only to AUDIT the sketch (the
    q_ann_recall shape); production consumers read the sketch alone.
    """
    exact = events.groupBy("event_type").agg(
        # count NON-NULL values: collect_list already drops NULLs, so
        # a COUNT(*) would desynchronize the index arithmetic from
        # vals whenever the column is nullable (r12 hostile sweep)
        F.count("value").alias("n_exact"),
        F.sort_array(F.collect_list("value")).alias("vals"),
    ).withColumnRenamed("event_type", "_et")
    # eqNullSafe: a NULL event_type is a legitimate GROUP BY group on
    # both sides, and a plain equi-join would silently drop it (the
    # q_hll_partial class; hostile-sweep v5 find)
    j = latest.join(
        exact, latest["event_type"].eqNullSafe(exact["_et"])
    ).drop("_et")

    def in_bound(est_col: str, target_expr: str):
        lt = F.expr(f"size(filter(vals, v -> v < {est_col}))").cast("bigint")
        le = F.expr(f"size(filter(vals, v -> v <= {est_col}))").cast("bigint")
        t = F.expr(target_expr).cast("bigint")
        dist = F.greatest(lt + 1 - t, t - le, F.lit(0).cast("bigint"))
        # an all-NULL group has no rank to miss, if its estimate is NULL
        empty = (F.col("n_exact") == 0) & F.col(est_col).isNull()
        return ((dist <= F.col("err_bound")) | empty).cast("int")

    state_cap = F.expr(
        f"CAST({DEFAULT_K} * (2 + ceil(log2(greatest(2.0 * n_events / "
        f"{DEFAULT_K}, 1.0)))) AS BIGINT)"
    )
    return j.select(
        "event_type",
        F.col("n_exact").cast("bigint").alias("n_events"),
        # try_element_at: an ALL-NULL group has n_exact = 0 and an
        # empty vals array — ANSI element_at(empty, 1) throws where
        # DuckDB's vals[1] is NULL (same class as the v2 zero-divisor
        # finds; latent until a fixture ships an all-NULL group)
        F.expr(
            "try_element_at(vals, CAST((n_exact - 1) DIV 2 AS INT) + 1)"
        ).alias("p50_exact"),
        F.expr(
            "try_element_at(vals, CAST(((n_exact - 1) * 9) DIV 10 AS INT) + 1)"
        ).alias("p90_exact"),
        in_bound("p50_est", "(n_events - 1) DIV 2 + 1").alias("p50_in_bound"),
        in_bound("p90_est", "((n_events - 1) * 9) DIV 10 + 1").alias(
            "p90_in_bound"
        ),
        (F.col("state_items") <= state_cap).cast("int").alias("state_bounded"),
    )


KLL_ORACLE_SQL = """
WITH s AS (
  -- COUNT(value) + FILTER: quantiles are over the NON-NULL values
  -- (DuckDB's list() keeps NULLs, Spark's collect_list drops them —
  -- the FILTER pins both sides to the SQL-aggregate convention;
  -- hostile-fixture sweep find, r12)
  SELECT event_type,
         list(value ORDER BY value) FILTER (value IS NOT NULL) AS vals,
         CAST(COUNT(value) AS BIGINT) AS n_events
  FROM events
  GROUP BY event_type
)
SELECT event_type, n_events,
       vals[CAST((n_events - 1) // 2 AS BIGINT) + 1] AS p50_exact,
       vals[CAST(((n_events - 1) * 9) // 10 AS BIGINT) + 1] AS p90_exact,
       CAST(1 AS INTEGER) AS p50_in_bound,
       CAST(1 AS INTEGER) AS p90_in_bound,
       CAST(1 AS INTEGER) AS state_bounded
FROM s
"""
