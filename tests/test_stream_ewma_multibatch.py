"""The streaming EWMA is ORDER-sensitive state (unlike the running
totals, a sum would hide reordering) — so cross-batch state restore
must also preserve sequence position. This splits events into 4
files streamed one-per-trigger and checks every user's final EWMA
against a plain Python fold over the batch table in event_id order:
bit-equality proves both state continuity and ordering."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from streamz_postgres_spark.catalog import load_table
from streamz_postgres_spark.streaming.stateful import _ewma_fold
from streamz_postgres_spark.streaming.runner import run_to_table
from tests.conftest import SF_DIR



pytestmark = pytest.mark.slow

@pytest.fixture(scope="module")
def ewma_split_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_ewma_split")
    e = load_table(spark, SF_DIR, "events")
    total = e.count()
    step = total // 4 + 1
    # sequential writes => increasing mod-times => deterministic
    # file-source batch order part0..part3 (ascending event_id)
    for i in range(4):
        (
            e.filter(
                (F.col("event_id") >= i * step)
                & (F.col("event_id") < (i + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{d}/part{i}")
        )
    return d


def test_ewma_state_survives_batches(spark, ewma_split_dir):
    src = (
        spark.readStream.schema(load_table(spark, SF_DIR, "events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{ewma_split_dir}/part*")
    )
    out = src.groupBy("user_id").applyInPandasWithState(
        _ewma_fold,
        outputStructType=(
            "user_id long, event_id long, value double, ewma double"
        ),
        stateStructType="prev double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    result = run_to_table(out, "append", spark)
    final = result.groupBy("user_id").agg(
        F.max_by("ewma", "event_id").alias("ewma"),
        F.count(F.lit(1)).alias("n"),
    )
    got = {r.user_id: (r.n, r.ewma) for r in final.collect()}

    rows = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "event_id", "value")
        .collect()
    )
    exp: dict[int, tuple[int, float]] = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.event_id)):
        n, prev = exp.get(r.user_id, (0, None))
        x = float(r.value)
        prev = x if prev is None else 0.5 * x + 0.5 * prev
        exp[r.user_id] = (n + 1, prev)

    assert got == exp
