"""The fluent streamz-style facade: pipelines chain into single
Catalyst plans and produce the same answers as the registered
operator implementations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streamz_postgres_spark.api import SparkStream
from tests.conftest import SF_DIR


def test_map_filter_pluck_chain(spark):
    s = SparkStream.from_events(spark, SF_DIR)
    out = (
        s.map(double_value=F.col("value") * 2)
        .filter(F.col("event_type") == "purchase")
        .pluck("event_id", "double_value")
        .sink_to_list()
    )
    assert all(len(r) == 2 for r in out)
    base = (
        s.df.filter(F.col("event_type") == "purchase")
        .select("event_id", (F.col("value") * 2).alias("double_value"))
        .collect()
    )
    assert sorted(map(tuple, out)) == sorted(map(tuple, base))


def test_timed_window_matches_operator(spark):
    s = SparkStream.from_events(spark, SF_DIR)
    got = {
        (r.window_start, r.n_events)
        for r in s.timed_window("1 hour").sink_to_list()
    }
    want = {
        (r["w"]["start"], r["n"])
        for r in s.df.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_unique_keeps_first_by_ts(spark):
    s = SparkStream.from_events(spark, SF_DIR)
    out = s.unique("user_id", "event_type", order_by="event_id").to_df()
    want = (
        s.df.groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("event_id"))
        .count()
    )
    assert out.count() == want
    # first occurrence: event_id equals per-key min
    firsts = {
        (r.user_id, r.event_type): r.event_id for r in out.collect()
    }
    mins = {
        (r.user_id, r.event_type): r.event_id
        for r in s.df.groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("event_id"))
        .collect()
    }
    assert firsts == mins


def test_accumulate_running_sum(spark):
    s = SparkStream.from_events(spark, SF_DIR)
    out = s.accumulate("value", key="user_id", order_by="event_id").to_df()
    one_user = (
        out.filter(F.col("user_id") == 0)
        .orderBy("event_id")
        .select("value_running", "value_count")
        .collect()
    )
    assert [r.value_count for r in one_user] == list(range(1, len(one_user) + 1))
    assert all(
        one_user[i].value_running <= one_user[i + 1].value_running
        or one_user[i + 1].value_running is not None
        for i in range(len(one_user) - 1)
    )


def test_zip_latest_is_asof(spark):
    s = SparkStream.from_events(spark, SF_DIR)
    clicks = SparkStream(s.df.filter(F.col("event_type") == "click"), "ts")
    purchases = SparkStream(
        s.df.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pv")),
        "ts",
    )
    out = clicks.zip_latest(purchases, on="user_id", right_values=["pv"]).to_df()
    assert out.count() == clicks.df.count()  # lossless side preserved
    row = out.filter(F.col("asof_ts").isNotNull()).first()
    assert row is None or row.asof_ts <= row.ts


def test_combine_latest_emits_on_both_sides(spark):
    s = SparkStream.from_events(spark, SF_DIR)
    clicks = SparkStream(
        s.df.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("cv")),
        "ts",
    )
    purchases = SparkStream(
        s.df.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pv")),
        "ts",
    )
    out = clicks.combine_latest(
        purchases, on="user_id", left_values=["cv"], right_values=["pv"]
    ).to_df()
    # one emission per event of EITHER side
    assert out.count() == clicks.df.count() + purchases.df.count()
    # per-user check: after the first event of both sides, no nulls;
    # the latest value is monotone-in-time correct for one user
    uid = clicks.df.join(purchases.df, "user_id").select("user_id").first()
    if uid is not None:
        rows = (
            out.filter(F.col("user_id") == uid.user_id).orderBy("ts").collect()
        )
        events = sorted(
            [(r.ts, "c", r.cv) for r in clicks.df.filter(
                F.col("user_id") == uid.user_id).collect()]
            + [(r.ts, "p", r.pv) for r in purchases.df.filter(
                F.col("user_id") == uid.user_id).collect()],
            key=lambda t: (t[0], t[1] == "c"),  # right (p) first on ties
        )
        lc = lp = None
        expect = []
        for ts, side, v in events:
            if side == "c":
                lc = v
            else:
                lp = v
            expect.append((ts, lc, lp))
        got = [(r.ts, r.cv, r.pv) for r in rows]
        # multiset compare — Counter, not sorted(): tuples mixing
        # None and float don't order under Python 3
        from collections import Counter

        assert Counter(got) == Counter(expect)


def test_latest_per_key(spark):
    s = SparkStream.from_events(spark, SF_DIR)
    out = s.latest("user_id", order_by="event_id").to_df()
    got = {r.user_id: r.event_id for r in out.collect()}
    want = {
        r.user_id: r.m
        for r in s.df.groupBy("user_id").agg(F.max("event_id").alias("m")).collect()
    }
    assert got == want


def test_union_and_partition(spark):
    s = SparkStream.from_events(spark, SF_DIR)
    a = SparkStream(s.df.filter(F.col("event_type") == "click"), "ts")
    b = SparkStream(s.df.filter(F.col("event_type") == "error"), "ts")
    u = a.union(b)
    assert u.to_df().count() == a.df.count() + b.df.count()
    batches = s.partition(100, "event_id").sink_to_list()
    assert sum(r.n_events for r in batches) == s.df.count()


def test_zip_latest_requires_right_ts(spark):
    """No silent fallback: when the other stream has no ts_col and
    right_ts is not passed, zip_latest must raise instead of reusing
    the left timestamp NAME on the right side."""
    import pytest

    s = SparkStream.from_events(spark, SF_DIR)
    clicks = SparkStream(s.df.filter(F.col("event_type") == "click"), "ts")
    no_ts = SparkStream(
        s.df.filter(F.col("event_type") == "purchase"), ts_col=None
    )
    with pytest.raises(ValueError, match="right_ts"):
        clicks.zip_latest(no_ts, on="user_id", right_values=["value"])


def test_branching_streams_are_independent(spark):
    """streamz pipelines BRANCH: one upstream node can feed several
    downstream chains. The facade must support the same shape — two
    chains built from one SparkStream yield the answers each would
    get alone, and building one branch must not mutate the shared
    upstream (immutability of the wrapper)."""
    s = SparkStream.from_events(spark, SF_DIR).map(
        net=F.col("value") * 2
    )
    upstream_df = s.df
    branch_a = (
        s.filter(F.col("event_type") == "purchase")
        .pluck("event_id", "net")
        .sink_to_list()
    )
    branch_b = (
        s.filter(F.col("event_type") == "click")
        .unique("user_id", order_by="event_id")
        .pluck("user_id")
        .sink_to_list()
    )
    assert s.df is upstream_df, "branching mutated the shared upstream"
    want_a = (
        upstream_df.filter(F.col("event_type") == "purchase")
        .select("event_id", "net")
        .collect()
    )
    assert sorted(map(tuple, branch_a)) == sorted(map(tuple, want_a))
    n_click_users = (
        upstream_df.filter(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
        .count()
    )
    assert len(branch_b) == n_click_users
    assert len({r[0] for r in branch_b}) == len(branch_b)


def test_match_recognize_in_the_chain(spark):
    """The fluent MATCH_RECOGNIZE passthrough: the full sqlext
    grammar without leaving the chain, composing with upstream
    fluent ops (the filter below changes which rows can classify),
    and the throwaway view does not leak into the catalog."""
    from streamz_postgres_spark.api import SparkStream

    rows = [
        (1, 1, "view"), (1, 2, "click"), (1, 3, "click"),
        (1, 4, "purchase"), (1, 5, "noise"),
        (2, 6, "view"), (2, 7, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, event_type string"
    )
    before = {t.name for t in spark.catalog.listTables()}
    got = (
        SparkStream.from_dataframe(df)
        .filter(F.col("event_type") != "noise")
        .match_recognize(
            """PARTITION BY user_id ORDER BY event_id
               MEASURES MATCH_NUMBER() AS match_no,
                        COUNT(*) AS n_rows,
                        SUM(event_id) AS s_all
               ONE ROW PER MATCH
               PATTERN (V C* P)
               DEFINE V AS event_type = 'view',
                      C AS event_type = 'click',
                      P AS event_type = 'purchase'""",
            select="user_id, match_no, n_rows, s_all",
        )
        .sink_to_list()
    )
    assert sorted(map(tuple, got)) == [(1, 1, 4, 10), (2, 1, 2, 13)]
    assert {t.name for t in spark.catalog.listTables()} == before
    # out-of-grammar input surfaces sqlext's refusal, not a Spark
    # parse error
    with pytest.raises(ValueError, match="not supported"):
        SparkStream.from_dataframe(df).match_recognize(
            """PARTITION BY user_id ORDER BY event_id
               AFTER MATCH SKIP TO SECOND ROW
               PATTERN (V P)
               DEFINE V AS event_type = 'view',
                      P AS event_type = 'purchase'"""
        )


@pytest.mark.parametrize(
    "key, select, clause",
    [
        (
            "q_pattern_bounds",
            "user_id, seq_len, n_matches, matched",
            """PARTITION BY user_id
               ORDER BY ts, event_id
               AFTER MATCH SKIP PAST LAST ROW
               PATTERN ((V | C){2,4} P)
               DEFINE V AS event_type = 'view',
                      C AS event_type = 'click',
                      P AS event_type = 'purchase'""",
        ),
        (
            "q_pattern_exclusion",
            "user_id, match_no, rn, cls, eid",
            """PARTITION BY user_id
               ORDER BY ts, event_id
               MEASURES MATCH_NUMBER() AS match_no,
                        COUNT(*) AS rn,
                        CLASSIFIER() AS cls,
                        LAST(event_id) AS eid
               ALL ROWS PER MATCH
               PATTERN (V {- C{1,2} -} P)
               DEFINE V AS event_type = 'view',
                      C AS event_type = 'click',
                      P AS event_type = 'purchase'""",
        ),
    ],
    ids=["q_pattern_bounds", "q_pattern_exclusion"],
)
def test_match_recognize_keeps_user_braces(spark, key, select, clause):
    """A user's ``{n,m}`` quantifier and ``{- -}`` exclusion reach
    sqlext intact through the fluent passthrough (the frame is bound
    by brace formatting, so unescaped braces would be read as
    placeholders): the rows equal the registry key's."""
    from streamz_postgres_spark.registry import REGISTRY, _load_all

    _load_all()
    got = (
        SparkStream.from_events(spark, SF_DIR)
        .match_recognize(clause, select=select)
        .sink_to_list()
    )
    want = REGISTRY[key].spark_fn(spark, SF_DIR).collect()
    assert got
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
