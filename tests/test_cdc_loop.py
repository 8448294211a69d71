"""Drive the PollingCdcSource loop end-to-end: snapshot -> polls
with a growing table -> cursor advancement -> envelope application.
This is the reference's core behavior (snapshot, then incremental
emits per poll, SURVEY §3.1) exercised without a Postgres server.
"""

from __future__ import annotations

from dataclasses import dataclass

import pytest

from pyspark.sql import functions as F

from streamz_postgres_spark.catalog import load_table
from streamz_postgres_spark.sources.cdc import (
    ParquetReplayLoader,
    PollingCdcSource,
    apply_changes,
)
from tests.conftest import SF_DIR



pytestmark = pytest.mark.slow

@dataclass
class GrowingLoader(ParquetReplayLoader):
    """Replay loader whose visible table grows per poll — simulates
    writes landing between polls (visibility capped at `horizon`)."""

    horizon: int = 0

    def _events(self):
        return super()._events().filter(F.col("event_id") <= self.horizon)


def test_polling_cdc_loop(spark):
    total = load_table(spark, SF_DIR, "events").count()
    snapshot_end = 300
    loader = GrowingLoader(
        spark, SF_DIR, snapshot_cursor=snapshot_end, horizon=snapshot_end
    )
    src = PollingCdcSource(loader, key_cols=["user_id"])

    batches = []
    src.start(lambda df, i: batches.append(df))
    assert src.cursor == snapshot_end

    # three polls, each revealing more rows; then a no-op poll
    # (steps are event_ids: the fixture's ids run 0..total-1)
    for step in (550, 800, total - 1):
        loader.horizon = step
        prev = src.cursor
        n = src.poll_once(lambda df, i: batches.append(df), idx=len(batches))
        assert n == step - prev  # exactly the newly visible rows
        assert src.cursor == step
    assert src.poll_once(lambda df, i: batches.append(df), idx=9) == 0

    # all envelopes together must cover every event exactly once
    env = batches[0]
    for b in batches[1:]:
        env = env.unionByName(b)
    assert env.count() == total
    assert env.select("seq").distinct().count() == total
    # snapshot rows are 'r', incremental rows 'c' (no is_create rule)
    ops = {r["op"]: r["n"] for r in
           env.groupBy("op").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert ops["r"] == snapshot_end + 1
    assert ops["c"] == total - snapshot_end - 1

    # applying the accumulated envelopes yields latest-row-wins state
    state = apply_changes(env, key="key", seq_cols=["seq"])
    want = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.max("event_id").alias("last_seq"))
        .count()
    )
    assert state.count() == want


def test_cursor_moves_only_after_apply_returns(spark):
    """A raising apply_fn leaves the cursor where it was, in start and
    in poll_once, so the next call re-reads the same batch."""
    loader = GrowingLoader(spark, SF_DIR, snapshot_cursor=300, horizon=300)
    src = PollingCdcSource(loader, key_cols=["user_id"])

    def boom(df, i):
        raise RuntimeError("apply failed")

    with pytest.raises(RuntimeError):
        src.start(boom)
    assert src.cursor == 0
    src.start(lambda df, i: None)
    assert src.cursor == 300

    loader.horizon = 550
    with pytest.raises(RuntimeError):
        src.poll_once(boom, 1)
    assert src.cursor == 300
    assert src.poll_once(lambda df, i: None, 2) == 250
    assert src.cursor == 550


def test_poll_once_job_count(spark):
    """A non-empty poll costs the incremental read plus ONE stats
    aggregate; any extra action in poll_once changes the count."""
    sc = spark.sparkContext
    loader = GrowingLoader(spark, SF_DIR, snapshot_cursor=300, horizon=300)
    src = PollingCdcSource(loader, key_cols=["user_id"])
    src.start(lambda df, i: None)
    loader.horizon = 550
    group = "test_poll_once_job_count"
    sc.setJobGroup(group, group)
    try:
        n = src.poll_once(lambda df, i: None, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert n == 250
    # 1 parquet schema-inference job for the incremental read, then 3
    # for the count+max(seq) aggregate that also fills the envelope
    # cache (AQE stages)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4


@dataclass
class StatsLoader:
    """Loader over a small parquet file that vouches for its own
    batches, as PsqlPollingLoader does: ``batch_stats`` comes from
    pyarrow (no Spark job) and ``close()`` forgets it. ``visible``
    caps the cursor values the table shows; ``horizon`` is what
    ``safe_cursor`` reports."""

    spark: object
    path: str
    visible: int
    horizon: int | None = None

    def __post_init__(self):
        self._stats = []
        self.closes = 0

    def _read(self, cursor: int):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        col = pq.read_table(self.path)["__cursor"]
        cur = col.filter(
            pc.and_(pc.greater(col, cursor), pc.less_equal(col, self.visible))
        )
        frame = self.spark.read.parquet(self.path).filter(
            (F.col("__cursor") > cursor) & (F.col("__cursor") <= self.visible)
        )
        self._stats.append((frame, (len(cur), pc.max(cur).as_py() or 0)))
        return frame

    def snapshot(self):
        return self._read(0)

    def incremental(self, cursor: int):
        return self._read(cursor)

    def max_cursor(self) -> int:
        return self.visible

    def safe_cursor(self):
        return self.horizon

    def batch_stats(self, frame):
        return next((s for f, s in self._stats if f is frame), None)

    def close(self) -> None:
        self._stats.clear()
        self.closes += 1


@pytest.fixture()
def stats_loader(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    ids = list(range(1, 21))
    pq.write_table(
        pa.table({"id": ids, "v": [i * 0.5 for i in ids], "__cursor": ids}), path
    )
    return StatsLoader(spark, path, visible=10)


def _cache_probe(spark):
    """Nothing Spark-cached beyond ``before``: the Dataset cache
    manager is empty and the persistent-RDD ids are unchanged."""
    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    before = set(jsc.getPersistentRDDs().keySet())

    def clean() -> bool:
        cm = spark._jsparkSession.sharedState().cacheManager()
        return cm.isEmpty() and set(jsc.getPersistentRDDs().keySet()) == before

    return clean


def test_stats_loader_cursor_contract_without_persist(spark, stats_loader):
    """On the no-persist path a raising apply_fn still leaves the
    cursor where it was, in start and in poll_once; the batch is
    closed either way; and nothing is cached during or after a poll.
    A ParquetReplayLoader poll, which cannot vouch for its batch,
    does persist while apply_fn runs, which shows the probe sees a
    persist; its cache is released after the poll too."""
    ld = stats_loader
    clean = _cache_probe(spark)
    src = PollingCdcSource(ld, key_cols=["id"])
    seen = []

    def boom(df, i):
        raise RuntimeError("apply failed")

    def ok(df, i):
        seen.append((i, df.count(), clean()))

    with pytest.raises(RuntimeError):
        src.start(boom)
    assert src.cursor == 0 and ld.closes == 1
    src.start(ok)
    assert src.cursor == 10 and seen == [(0, 10, True)]
    assert clean()

    ld.visible = 15
    with pytest.raises(RuntimeError):
        src.poll_once(boom, 1)
    assert src.cursor == 10 and ld.closes == 3
    assert src.poll_once(ok, 2) == 5
    assert src.cursor == 15 and seen[-1] == (2, 5, True)
    assert clean()
    # stats are forgotten with the batch
    assert ld._stats == []

    replay = GrowingLoader(spark, SF_DIR, snapshot_cursor=300, horizon=300)
    fallback = PollingCdcSource(replay, key_cols=["user_id"])
    fallback.start(lambda df, i: None)
    replay.horizon = 310
    assert fallback.poll_once(ok, 3) == 10
    assert seen[-1] == (3, 10, False)
    assert clean()


def test_last_poll_records_reset(spark, stats_loader):
    """``last_poll`` records every start/poll_once: rows, cursor
    before and after, horizon, and a reset when the horizon falls
    below the cursor (wraparound or a restored source), or, without a
    horizon, when the table max does."""
    from streamz_postgres_spark.sources.cdc import PollRecord

    ld = stats_loader
    src = PollingCdcSource(ld, key_cols=["id"])
    assert src.last_poll is None
    src.start(lambda df, i: None)
    assert src.last_poll == PollRecord(10, 0, 10, None, False)

    ld.visible, ld.horizon = 14, 12
    assert src.poll_once(lambda df, i: None, 1) == 4
    assert src.last_poll == PollRecord(4, 10, 12, 12, False)

    # the horizon drops below the cursor: the poll re-reads from 0
    ld.horizon = 5
    assert src.poll_once(lambda df, i: None, 2) == 14
    assert src.last_poll == PollRecord(14, 12, 5, 5, True)
    assert src.last_poll.reset

    # no horizon: an empty poll whose table max fell below the cursor
    ld.horizon, ld.visible = None, 14
    assert src.poll_once(lambda df, i: None, 3) == 9
    assert src.last_poll == PollRecord(9, 5, 14, None, False)
    ld.visible = 3
    assert src.poll_once(lambda df, i: None, 4) == 0
    assert src.last_poll == PollRecord(0, 14, 0, None, True)


def test_quote_qualified_ident():
    """JDBC table identifiers are validated and quoted before SQL
    interpolation (injection boundary + mixed-case safety)."""
    import pytest

    from streamz_postgres_spark.sources.cdc import quote_qualified_ident

    assert quote_qualified_ident("orders") == '"orders"'
    assert quote_qualified_ident("public.orders") == '"public"."orders"'
    assert quote_qualified_ident('"MixedCase"') == '"MixedCase"'
    for bad in ("a.b.c", "x; DROP TABLE y", 'he"llo', "", "1bad", "a-b"):
        with pytest.raises(ValueError):
            quote_qualified_ident(bad)


def test_apply_changes_with_schema_evolution(spark):
    """The envelope carries row images as JSON, so a column added
    mid-stream must flow through apply_changes and materialize with
    NULLs for pre-evolution rows — the polling loader's behavior when
    the source table gains a column between polls."""
    from pyspark.sql import functions as F

    from streamz_postgres_spark.sources.cdc import apply_changes

    env_rows = [
        # v1 schema: {id, v}
        ("c", 1, '{"id":1}', '{"id":1,"v":"a"}'),
        ("c", 2, '{"id":2}', '{"id":2,"v":"b"}'),
        # source gains column "extra" between polls
        ("u", 3, '{"id":1}', '{"id":1,"v":"a2","extra":42}'),
        ("c", 4, '{"id":3}', '{"id":3,"v":"c","extra":7}'),
    ]
    env = spark.createDataFrame(
        env_rows, "op string, seq long, key string, after string"
    )
    state = apply_changes(env, key="key", seq_cols=["seq"])
    # materialize: schema inferred over ALL surviving row images, so
    # the evolved column exists and old rows carry NULL
    schema = spark.range(1).select(
        F.schema_of_json(
            F.lit('{"id":1,"v":"a2","extra":42}')
        )
    ).first()[0]
    out = state.select(F.from_json("after", schema).alias("r")).select("r.*")
    rows = {r["id"]: (r["v"], r["extra"]) for r in out.collect()}
    assert rows == {1: ("a2", 42), 2: ("b", None), 3: ("c", 7)}
