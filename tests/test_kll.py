"""KLL sketch invariants of Spark's native sketch (functions/kll.py).

The sketch's contract is its rank-error bound: for any insertion
order and any merge tree, a quantile read-out sits within
ceil(epsilon * n) ranks of its target against the exact multiset,
where epsilon is the library's 99%-confidence normalized rank error
(the ``err_bound`` of ``sketch_estimates``). These tests drive
``kll_sketch_agg_double`` at the keys' k over adversarial orders and
merge splits; the registered keys are covered by the oracle gate.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

from streamz_postgres_spark.functions.kll import (
    DEFAULT_K,
    KLL_ORACLE_SQL,
    calibrated_readout,
    kll_sketch,
    sketch_estimates,
)
from streamz_postgres_spark.oracle import row_multiset

# duplicates + a non-monotone pattern, deterministic (no RNG)
_VALS = [float((i * 2654435761) % 997) / 7 for i in range(20000)]

_RANKS = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)


def _realized_rank_dist(sorted_vals, est, target):
    lt = sum(1 for v in sorted_vals if v < est)
    le = sum(1 for v in sorted_vals if v <= est)
    return max(0, lt + 1 - target, target - le)


def _sketch(spark, vals, nsplits=1):
    """One sketch over ``vals``: ``nsplits`` partial sketches, each
    fed its values in list order (split i takes vals[i::nsplits]),
    merged into one. Returns the ``sketch_estimates`` row plus the
    read-outs at ``_RANKS`` as ``qs``."""
    split = [i % nsplits for i in range(len(vals))]
    pdf = pd.DataFrame({"split": split, "value": vals})
    # one partition keeps each split's values in list order
    df = spark.createDataFrame(pdf).coalesce(1)
    parts = df.groupBy("split").agg(kll_sketch("value").alias("sk"))
    # the sketch is randomized: read every field off one copy of it
    sk = parts.agg(F.kll_merge_agg_double("sk")).first()[0]
    merged = spark.createDataFrame([("t", sk)], "event_type string, sk binary")
    ranks = F.array(*[F.lit(r) for r in _RANKS])
    qs = merged.select(
        "event_type", F.kll_sketch_get_quantile_double("sk", ranks).alias("qs")
    )
    return sketch_estimates(merged).join(qs, "event_type").first()


def _check_bound(spark, vals, nsplits):
    r = _sketch(spark, vals, nsplits)
    assert r.n_events == len(vals)
    sv = sorted(vals)
    # each read-out answers the nearest-rank target ceil(rank * n)
    for rank, est in zip(_RANKS, r.qs):
        t = math.ceil(rank * len(vals))
        dist = _realized_rank_dist(sv, est, t)
        assert dist <= r.err_bound, (rank, dist, r.err_bound)
    return r


@pytest.mark.parametrize(
    "order",
    ["asc", "desc", "interleaved"],
)
@pytest.mark.parametrize("nsplits", [1, 8])
def test_rank_error_within_ledger(spark, order, nsplits):
    vals = {
        "asc": sorted(_VALS),
        "desc": sorted(_VALS, reverse=True),
        "interleaved": _VALS,
    }[order]
    _check_bound(spark, vals, nsplits=nsplits)


def test_ledger_is_meaningfully_small(spark):
    """The bound must be an actual guarantee, not vacuous: at k=256
    over 20k items it stays under 3% of n (the accuracy class the
    round-6 verdict asked for vs the log2-histogram's bucket-relative
    error); the library's epsilon at k=256 is 1.046%."""
    r = _check_bound(spark, _VALS, nsplits=4)
    assert r.err_bound < 0.03 * r.n_events


def test_exact_below_k(spark):
    vals = [float(v) for v in range(100)]
    r = _sketch(spark, vals)
    assert r.state_items == 100
    # with nothing compacted every read-out is the exact order stat
    assert list(r.qs) == [float(math.ceil(q * 100) - 1) for q in _RANKS]
    assert (r.p50_est, r.p90_est) == (49.0, 89.0)


def test_state_stays_logarithmic(spark):
    r = _sketch(spark, _VALS)
    levels = math.ceil(math.log2(max(1.0, 2.0 * r.n_events / DEFAULT_K)))
    cap = DEFAULT_K * (2 + levels)
    assert r.state_items <= cap
    assert r.state_items < r.n_events / 10


def test_weight_conservation_and_extremes(spark):
    vals = _VALS[:5000]
    r = _sketch(spark, vals, nsplits=3)
    # the sketch's n is the exact item count across merges
    assert r.n_events == len(vals)
    # extremes are rank-bounded like every other read-out
    sv = sorted(vals)
    for rank, est in ((_RANKS[0], r.qs[0]), (_RANKS[-1], r.qs[-1])):
        t = math.ceil(rank * len(vals))
        assert _realized_rank_dist(sv, est, t) <= r.err_bound, rank


def test_merge_matches_sequential_counts(spark):
    merged = _sketch(spark, _VALS[:8000], nsplits=2)
    sequential = _sketch(spark, _VALS[:8000])
    assert merged.n_events == sequential.n_events == 8000


def test_all_null_group_reads_out_null(spark):
    """A group whose values are all NULL yields an empty sketch (n =
    0) that the library refuses a quantile of: its estimates read out
    NULL, and the calibrated read-out still matches the oracle."""
    events = spark.createDataFrame(
        [("a", float(v)) for v in range(300)]
        + [("a", None), ("b", None), ("b", None), (None, 1.0)],
        "event_type string, value double",
    )
    sketches = events.groupBy("event_type").agg(
        kll_sketch("value").alias("sk")
    )
    est = {r.event_type: r for r in sketch_estimates(sketches).collect()}
    assert est["a"].n_events == 300
    b = est["b"]
    assert (b.n_events, b.p50_est, b.p90_est, b.err_bound, b.state_items) == (
        0, None, None, 0, 0,
    )

    out = calibrated_readout(sketch_estimates(sketches), events)
    con = duckdb.connect()
    con.register("events", events.toPandas())
    want = con.execute(KLL_ORACLE_SQL)
    assert row_multiset(out.columns, out.collect()) == row_multiset(
        [d[0] for d in want.description], want.fetchall()
    )


def test_nan_never_enters_the_sketch(spark):
    df = spark.createDataFrame(
        [(float("nan"),), (1.0,), (2.0,)], "value double"
    ).agg(kll_sketch("value").alias("sk"))
    assert df.select(F.kll_sketch_get_n_double("sk")).first()[0] == 2
