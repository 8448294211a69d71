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
