"""Unit tests for the library helpers on tiny literal frames —
the streamz upstream test idiom (SURVEY §5.1: build tiny graph,
emit literals, assert collected output)."""

from __future__ import annotations

import pytest

import datetime as dt

from pyspark.sql import functions as F

from streamz_postgres_spark.functions.numeric import dsum, qround
from streamz_postgres_spark.functions.vector import cosine_similarity, dot
from streamz_postgres_spark.operators.joins import asof_join, zip_seq
from streamz_postgres_spark.sources.cdc import apply_changes, full_refresh_diff


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00"), "a"), (1, _ts("2024-01-01T12:00"), "b"),
         (2, _ts("2024-01-01T11:00"), "c")],
        "k int, ts timestamp_ntz, tag string",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:00"), 10.0), (1, _ts("2024-01-01T11:00"), 20.0),
         (2, _ts("2024-01-01T11:00"), 30.0)],
        "k int, ts timestamp_ntz, v double",
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    right_values=["v"])
    got = {(r.k, r.tag): (r.v, r.asof_ts) for r in out.collect()}
    assert got[(1, "a")][0] == 10.0
    assert got[(1, "b")][0] == 20.0
    # equal timestamps match (<= semantics)
    assert got[(2, "c")][0] == 30.0


def test_asof_join_inner_drops_unmatched(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T08:00"), "early")],
        "k int, ts timestamp_ntz, tag string",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:00"), 1.0)], "k int, ts timestamp_ntz, v double"
    )
    assert asof_join(left, right, "k", "ts", "ts", ["v"], how="inner").count() == 0
    out = asof_join(left, right, "k", "ts", "ts", ["v"], how="left").collect()
    assert len(out) == 1 and out[0].v is None


def test_zip_seq_truncates_to_shorter(spark):
    a = spark.createDataFrame([(i,) for i in range(5)], "x int")
    b = spark.createDataFrame([(i * 10,) for i in range(3)], "y int")
    out = zip_seq(a, b, ["x"], ["y"]).orderBy("seq").collect()
    assert [(r.x, r.y) for r in out] == [(0, 0), (1, 10), (2, 20)]


def test_apply_changes_latest_wins_and_deletes(spark):
    env = spark.createDataFrame(
        [("u", 1, "k1", "v1"), ("u", 3, "k1", "v3"), ("d", 2, "k2", None),
         ("c", 1, "k2", "v0"), ("c", 5, "k3", "v5"), ("d", 6, "k3", None)],
        "op string, seq long, key string, after string",
    )
    got = {r.key: r.after for r in apply_changes(env).collect()}
    assert got == {"k1": "v3"}  # k2: delete after create... latest op d


def test_full_refresh_diff_ops(spark):
    prev = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    cur = spark.createDataFrame([(2, "B"), (3, "c")], "id int, v string")
    out = full_refresh_diff(prev, cur, ["id"])
    ops = {r.key: r.op for r in out.collect()}
    assert ops['{"id":1}'] == "d"
    assert ops['{"id":2}'] == "u"
    assert ops['{"id":3}'] == "c"


def test_vector_math(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])],
        "a array<double>, b array<double>",
    )
    rows = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        cosine_similarity(F.col("a"), F.col("b")).alias("c"),
    ).collect()
    assert rows[0].d == 1.0 and rows[0].c == 1.0
    assert rows[1].d == 0.0 and rows[1].c == 0.0


@pytest.mark.slow
def test_dsum_is_order_independent(spark):
    vals = [(0.1,), (0.2,), (0.3,), (1e12,), (-1e12,)]
    one = spark.createDataFrame(vals, "x double").coalesce(1)
    many = spark.createDataFrame(vals * 50, "x double").repartition(16)
    a = one.agg(dsum("x").alias("s")).collect()[0].s
    b = many.agg((dsum("x") / 50).alias("s")).collect()[0].s
    assert a == b == 0.6


def test_qround_matches_arithmetic(spark):
    df = spark.createDataFrame([(1.2345649,), (1.2345651,)], "x double")
    got = [r.r for r in df.select(qround("x", 6).alias("r")).collect()]
    assert got == [1.234565, 1.234565]


@pytest.mark.slow
def test_cached_queries_are_reinvocable(spark):
    """Queries that hold scratch across their own lazy lifetime (the
    thread-scoped slots of streamz_postgres_spark.lifecycle: persisted
    frames of q_dedup_minhash / with_seq / connected_components, and
    the scoped dirs and catalog tables of the staged-file keys) must
    return identical results when invoked twice in one session — the
    second call releases the first's scratch, so this catches any
    release-too-early regression."""
    from streamz_postgres_spark.registry import REGISTRY, _load_all
    from tests.conftest import SF_DIR

    _load_all()
    for key in ("q_zip_seq", "q_dedup_minhash", "q_dedup_clusters",
                "q_stream_file_sink", "q_ngram_coverage",
                "q_minhash_estimate", "q_dedup_incremental",
                "q_cooccurrence_lift", "q_partition_prune",
                "q_schema_evolution", "q_join_bucketed",
                "q_cdc_materialize", "q_cdc_time_travel",
                "q_stream_transform_timers"):
        fn = REGISTRY[key].spark_fn
        first = fn(spark, SF_DIR)
        rows1 = sorted(map(tuple, first.collect()))
        second = fn(spark, SF_DIR)
        rows2 = sorted(map(tuple, second.collect()))
        # (the first frame is intentionally NOT read after the second
        # call: releasing the previous invocation's caches/dirs at
        # the next call is the documented lifetime contract)
        assert rows1 == rows2, key


def test_lifecycle_slots_are_thread_scoped():
    """ADVICE r5: a concurrent invocation must never release a frame
    another thread's un-collected plan still holds. Drive the
    lifecycle helper with fake frames from two threads: thread B's
    fresh store releases only B's previous frames; A's stay pinned
    until A stores again (or release_all)."""
    import threading

    from streamz_postgres_spark import lifecycle

    class FakeFrame:
        def __init__(self):
            self.persisted = False

        def persist(self):
            self.persisted = True
            return self

        def unpersist(self):
            self.persisted = False
            return self

    a1, a2, b1 = FakeFrame(), FakeFrame(), FakeFrame()
    lifecycle.persist_scoped("op", a1)
    assert a1.persisted

    def b_thread():
        lifecycle.persist_scoped("op", b1)
        lifecycle.persist_scoped("op", FakeFrame())  # releases b1 only

    t = threading.Thread(target=b_thread)
    t.start()
    t.join()
    assert not b1.persisted, "B's own previous frame is released"
    assert a1.persisted, "A's frame must survive B's invocations"

    lifecycle.persist_scoped("op", a2)  # A's next call releases a1
    assert not a1.persisted and a2.persisted
    # append semantics: fresh=False adds without releasing
    a3 = FakeFrame()
    lifecycle.persist_scoped("op", a3, fresh=False)
    assert a2.persisted and a3.persisted
    lifecycle.release_scoped("op")
    assert not a2.persisted and not a3.persisted
    lifecycle.release_all()


def test_lifecycle_releases_before_persisting():
    """ADVICE r6: Spark's CacheManager keys cache entries by
    canonicalized plan, so when invocation N+1 builds a plan identical
    to invocation N, persisting the new frame first is a no-op on the
    already-cached entry and the subsequent unpersist of the previous
    frame evicts that SHARED entry. The helper must therefore release
    the previous slot's frames BEFORE persisting the new ones. Model
    the shared entry with an event log and assert the order."""
    from streamz_postgres_spark import lifecycle

    events: list[str] = []

    class LoggingFrame:
        def __init__(self, tag):
            self.tag = tag

        def persist(self):
            events.append(f"persist:{self.tag}")
            return self

        def unpersist(self):
            events.append(f"unpersist:{self.tag}")
            return self

    lifecycle.persist_scoped("op_order", LoggingFrame("n1"))
    lifecycle.persist_scoped("op_order", LoggingFrame("n2"))
    assert events == ["persist:n1", "unpersist:n1", "persist:n2"], (
        "previous frames must be unpersisted before the new persist "
        f"(got {events})"
    )
    lifecycle.release_all()


def test_connected_components_phantom_endpoints_stay_inert(spark):
    """r10 review find: the edge-incident fixpoint seed must be
    intersected with ``nodes`` — an edge endpoint absent from nodes
    stays inert (the old all-nodes-seeded behavior), rather than
    becoming a phantom label that bridges components or mints a
    cluster_id outside nodes. Here 5 links 10 and 30 but is not a
    node: both must stay singletons labeled by themselves."""
    from streamz_postgres_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(10,), (30,)], "vec_id long")
    pairs = spark.createDataFrame([(10, 5), (5, 30)], "u long, w long")
    got = {
        r.vec_id: r.cluster_id
        for r in connected_components(nodes, pairs).collect()
    }
    assert got == {10: 10, 30: 30}
    # and a real edge still merges: 10-30 directly
    pairs2 = spark.createDataFrame([(30, 10)], "u long, w long")
    got2 = {
        r.vec_id: r.cluster_id
        for r in connected_components(nodes, pairs2).collect()
    }
    assert got2 == {10: 10, 30: 10}
