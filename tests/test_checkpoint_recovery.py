"""Checkpoint recovery: a streaming query stopped and RESTARTED from
the same checkpoint must process each input file exactly once — the
property that makes the file sink's commit log an exactly-once
ledger across driver crashes (what the reference approximates with
manual Kafka offset checkpoints).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from streamz_postgres_spark.catalog import table_path
from tests.conftest import SF_DIR

_SCHEMA = "event_id bigint, user_id bigint, value double"


@pytest.fixture()
def dirs():
    src = tempfile.mkdtemp(prefix="ckpt_src_")
    sink = tempfile.mkdtemp(prefix="ckpt_sink_")
    yield src, sink
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(sink, ignore_errors=True)


def test_restart_from_checkpoint_is_exactly_once(spark, dirs):
    src, sink = dirs
    data, ckpt = os.path.join(sink, "data"), os.path.join(sink, "ckpt")
    t = pq.read_table(
        table_path(SF_DIR, "events"), columns=["event_id", "user_id", "value"]
    )
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), f"{src}/a.parquet")

    def run_available_now():
        s = spark.readStream.schema(_SCHEMA).parquet(src)
        q = (
            s.writeStream.format("parquet")
            .option("path", data)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1 sees only file a; the query then STOPS (simulated crash /
    # redeploy boundary: new query object, same checkpoint)
    run_available_now()
    assert spark.read.parquet(data).count() == half

    # file b arrives while "down"; the restarted query must pick up
    # exactly the delta — file a is in the checkpoint's seen-set
    pq.write_table(t.slice(half), f"{src}/b.parquet")
    run_available_now()

    got = spark.read.parquet(data)
    assert got.count() == t.num_rows
    # exact multiset over the key: every event exactly once
    dup = got.groupBy("event_id").count().filter(F.col("count") > 1).count()
    assert dup == 0
    assert got.select("event_id").distinct().count() == t.num_rows


@pytest.mark.slow
def test_stateful_restart_resumes_state(spark, dirs):
    """STATEFUL recovery: an applyInPandasWithState running-totals
    query stopped after file a and restarted from the same checkpoint
    with file b present must (1) process only the delta and (2)
    resume each key's state — the restarted run's emissions carry
    full-history counts, not counts that restart from zero. Both a
    lost state store and a re-processed file a would fail the
    row-count and totals asserts below."""
    from decimal import ROUND_HALF_EVEN, Decimal
    from typing import Iterator

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src, sink = dirs
    data, ckpt = os.path.join(sink, "data"), os.path.join(sink, "ckpt")
    t = pq.read_table(
        table_path(SF_DIR, "events"), columns=["event_id", "user_id", "value"]
    )
    half = t.num_rows // 2

    def _totals(key, batches: Iterator[pd.DataFrame], state: GroupState):
        six = Decimal("0.000001")
        if state.exists:
            n, acc_str = state.get
            acc = Decimal(acc_str)
        else:
            n, acc = 0, Decimal(0)
        for pdf in batches:
            for v in pdf.sort_values("event_id")["value"]:
                acc += Decimal(float(v)).quantize(six, rounding=ROUND_HALF_EVEN)
                n += 1
        state.update((n, str(acc)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [float(acc)]}
        )

    def run_available_now():
        s = spark.readStream.schema(_SCHEMA).parquet(src)
        out = s.groupBy("user_id").applyInPandasWithState(
            _totals,
            outputStructType="user_id long, n_events long, sum_value double",
            stateStructType="n long, acc string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", data)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    pq.write_table(t.slice(0, half), f"{src}/a.parquet")
    run_available_now()
    users_a = spark.read.parquet(data).count()
    assert users_a > 0

    pq.write_table(t.slice(half), f"{src}/b.parquet")
    run_available_now()

    got = spark.read.parquet(data)
    # one emission per (user, run-it-appeared-in): no file-a replay
    users_b = (
        spark.createDataFrame(t.slice(half).to_pandas())
        .select("user_id").distinct().count()
    )
    assert got.count() == users_a + users_b
    final = got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_value", "n_events").alias("sum_value"),
    )
    want = (
        spark.createDataFrame(t.to_pandas())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    got_m = {r.user_id: (r.n_events, r.sum_value) for r in final.collect()}
    exp_m = {r.user_id: (r.n_events, r.sum_value) for r in want.collect()}
    assert got_m == exp_m


@pytest.mark.slow
def test_tws_restart_resumes_typed_state(spark, dirs):
    """transformWithState recovery: the typed ValueState family must
    survive a stop/restart boundary through the RocksDB checkpoint
    exactly like applyInPandasWithState's tuple state — same
    delta-only + state-resumed asserts. The source is a plain
    readStream, so the test sets the engine environment itself
    (``ship_package``: worker PYTHONPATH, RocksDB provider)."""
    from streamz_postgres_spark.catalog import ship_package
    from streamz_postgres_spark.protobuf_shim import available
    from streamz_postgres_spark.streaming.stateful import _UserTotalsProcessor

    if not available():
        pytest.skip("protobuf not installed: transformWithState gated off")

    ship_package(spark)
    src, sink = dirs
    data, ckpt = os.path.join(sink, "data"), os.path.join(sink, "ckpt")
    t = pq.read_table(
        table_path(SF_DIR, "events"),
        columns=["event_id", "user_id", "value"],
    )
    half = t.num_rows // 2

    def run_available_now():
        s = spark.readStream.schema(_SCHEMA).parquet(src)
        out = s.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_UserTotalsProcessor(),
            outputStructType="user_id long, n_events long, sum_value double",
            outputMode="Update",
            timeMode="None",
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", data)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    pq.write_table(t.slice(0, half), f"{src}/a.parquet")
    run_available_now()
    users_a = spark.read.parquet(data).count()
    assert users_a > 0

    pq.write_table(t.slice(half), f"{src}/b.parquet")
    run_available_now()

    got = spark.read.parquet(data)
    users_b = (
        spark.createDataFrame(t.slice(half).to_pandas())
        .select("user_id").distinct().count()
    )
    assert got.count() == users_a + users_b
    final = got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_value", "n_events").alias("sum_value"),
    )
    want = (
        spark.createDataFrame(t.to_pandas())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    got_m = {r.user_id: (r.n_events, r.sum_value) for r in final.collect()}
    exp_m = {r.user_id: (r.n_events, r.sum_value) for r in want.collect()}
    assert got_m == exp_m


@pytest.mark.slow
def test_kll_restart_resumes_sketch_state(spark, dirs):
    """KLL sketch recovery: the streaming aggregate's state (one
    binary sketch per type) must survive a stop/restart boundary.
    Each run writes its complete-mode result through foreachBatch
    (a file sink takes append mode only). After restarting with file
    b, each type's sketch must carry the FULL-history count (a lost
    state store would restart n at file-b counts, a replayed file a
    would double it) and its p50 estimate must sit within the bound
    of the full-data exact rank: the sketch keeps its guarantee
    across the crash boundary, not just within one run."""
    from streamz_postgres_spark.functions.kll import kll_sketch, sketch_estimates

    src, sink = dirs
    data, ckpt = os.path.join(sink, "data"), os.path.join(sink, "ckpt")
    t = pq.read_table(
        table_path(SF_DIR, "events"),
        columns=["event_id", "event_type", "value"],
    )
    half = t.num_rows // 2
    schema = "event_id bigint, event_type string, value double"

    def write_result(df, _batch_id):
        df.write.mode("overwrite").parquet(data)

    def run_available_now():
        s = spark.readStream.schema(schema).parquet(src)
        out = s.groupBy("event_type").agg(kll_sketch("value").alias("sk"))
        q = (
            out.writeStream.foreachBatch(write_result)
            .option("checkpointLocation", ckpt)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    pq.write_table(t.slice(0, half), f"{src}/a.parquet")
    run_available_now()
    pq.write_table(t.slice(half), f"{src}/b.parquet")
    run_available_now()

    final = sketch_estimates(spark.read.parquet(data))
    full = spark.createDataFrame(t.to_pandas())
    exact = {
        r.event_type: (r.n, sorted(r.vals))
        for r in full.groupBy("event_type")
        .agg(F.count("value").alias("n"), F.collect_list("value").alias("vals"))
        .collect()
    }
    rows = final.collect()
    assert {r.event_type for r in rows} == set(exact)
    for r in rows:
        want_n, sv = exact[r.event_type]
        assert r.n_events == want_n, r.event_type
        target = (r.n_events - 1) // 2 + 1
        lt = sum(1 for v in sv if v < r.p50_est)
        le = sum(1 for v in sv if v <= r.p50_est)
        dist = max(0, lt + 1 - target, target - le)
        assert dist <= r.err_bound, (r.event_type, dist, r.err_bound)


def test_resumed_query_keeps_state_partition_count(spark, dirs):
    """``ship_package`` sizes a new query's state stores from the
    session (its shuffle partitions, capped at the application's
    cores). A query resumed from its checkpoint keeps the count it
    started with, whatever the session says by then, so its state
    stays readable."""
    from streamz_postgres_spark.catalog import STATE_PARTITIONS, ship_package

    src, sink = dirs
    ckpt = os.path.join(sink, "ckpt")
    t = pq.read_table(
        table_path(SF_DIR, "events"), columns=["event_id", "user_id", "value"]
    )
    half = t.num_rows // 2
    cores = spark.sparkContext.defaultParallelism

    def run_available_now(shuffle):
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
        ship_package(spark)
        s = spark.readStream.schema(_SCHEMA).parquet(src)
        q = (
            s.groupBy("user_id").count()
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        (op,) = q.lastProgress["stateOperators"]
        return int(spark.conf.get(STATE_PARTITIONS)), op["numStateStoreInstances"]

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        pq.write_table(t.slice(0, half), f"{src}/a.parquet")
        assert run_available_now(1000) == (cores, cores)
        pq.write_table(t.slice(half), f"{src}/b.parquet")
        assert run_available_now(1) == (1, cores)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        ship_package(spark)
