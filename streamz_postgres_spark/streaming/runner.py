"""Bounded-replay Structured Streaming runner (SURVEY §5.2.3).

streamz pipelines are push-based and unbounded; their Spark
equivalents run here as REAL streaming queries (readStream ->
transform -> writeStream) made deterministic by bounding the input:
the events fixture replays through a file-stream source with an
``availableNow`` trigger into a memory sink, then the materialized
table is compared against the same DuckDB oracle as the batch form.

This is how the engine is meant to be validated: the streaming
micro-batch planner, state stores and output modes all execute for
real; only the data is finite.

Scale notes: in production the same dataflows read Kafka/files with
watermarks bounding state (see per-query notes); memory sinks become
Kafka/parquet sinks; `availableNow` remains the backfill trigger.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streamz_postgres_spark.lifecycle import scoped_dir


def _events_schema(ts_field: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_field),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def events_ts_unit(directory: str, glob: str = "events.parquet") -> str:
    """Physical unit of the ``ts`` column in the events fixture:
    ``'ns'`` (legacy TIMESTAMP(NANOS), which Spark can only read as
    long) or ``'us'`` (plain timestamp[us]). Detected from one
    parquet footer so the replay adapts when the fixture generator
    changes units between rounds — the batch catalog adapts via its
    dtype check; a hard-coded streaming schema would silently read
    micros as nanos and compress the whole timeline 1000x (every
    session merges, every interval join over-matches)."""
    import glob as globmod
    import os

    import pyarrow.parquet as pq

    path = os.path.join(directory, glob)
    matches = sorted(globmod.glob(path)) or [path]
    field = pq.read_schema(matches[0]).field("ts")
    return "ns" if getattr(field.type, "unit", None) == "ns" else "us"


def replay_events(
    spark: SparkSession,
    sf_dir: str,
    directory: str | None = None,
    glob: str = "events.parquet",
) -> DataFrame:
    """events.parquet as an unbounded stream (file-stream source).

    Same ts normalization as the batch catalog (unit-adaptive: nanos
    fixtures are read as long and rebuilt; micros fixtures are read
    as TimestampNTZ directly), so streaming and batch operators see
    identical rows. ``directory``/``glob`` override the source
    location (e.g. a staging dir with extra files appended — how
    tests exercise multi-batch and end-of-stream-flush behavior).
    """
    from streamz_postgres_spark.catalog import ship_package

    ship_package(spark)
    src = directory or sf_dir
    if events_ts_unit(src, glob) == "us":
        return (
            spark.readStream.schema(_events_schema(T.TimestampNTZType()))
            .format("parquet")
            .option("pathGlobFilter", glob)
            .load(src)
        )
    # legacy nanos fixture: read as long (catalog.ENGINE_CONF)
    raw = (
        spark.readStream.schema(_events_schema(T.LongType()))
        .format("parquet")
        .option("pathGlobFilter", glob)
        .load(src)
    )
    # same tz-free NTZ rebuild as catalog.load_table
    return raw.withColumn(
        "ts",
        F.expr(
            "timestampadd(MICROSECOND, ts div 1000, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ),
    )


#: the flush row's event time, past the end of the events fixture
_FLUSH_TS = "2024-06-01"


@contextmanager
def staged_replay_with_flush(
    spark: SparkSession,
    sf_dir: str,
    event_type: str = "__flush__",
) -> Iterator[DataFrame]:
    """Events stream staged with one far-future flush row appended —
    the end-of-stream-flush idiom append-mode verification needs: the
    flush row (user -1 at ``_FLUSH_TS``) drags the watermark past
    every real row (so all real windows / state rows emit), while
    its own window or null row stays watermark-withheld forever.
    ``event_type`` controls which branch filters the flush row
    survives (watermark nodes observe the FILTERED stream after
    Catalyst pushdown — see q_stream_join_full). A context manager:
    run the query inside the ``with`` block; the staging dir is
    removed when it exits."""
    import pandas as _pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamz_postgres_spark.catalog import table_path

    with tempfile.TemporaryDirectory(
        prefix="flush_replay_", ignore_cleanup_errors=True
    ) as staging:
        shutil.copy(table_path(sf_dir, "events"), f"{staging}/events.parquet")
        unit = events_ts_unit(sf_dir)
        flush_ns = int(_pd.Timestamp(_FLUSH_TS).value)
        flush_val = flush_ns if unit == "ns" else flush_ns // 1000
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([-1], pa.int64()),
                    "ts": pa.array([flush_val], pa.timestamp(unit)),
                    "user_id": pa.array([-1], pa.int64()),
                    "event_type": pa.array([event_type], pa.string()),
                    "value": pa.array([0.0], pa.float64()),
                    "props": pa.array(["{}"], pa.string()),
                }
            ),
            f"{staging}/flush.parquet",
        )
        yield replay_events(spark, sf_dir, directory=staging, glob="*.parquet")


def run_to_parquet_resumed(
    out: DataFrame,
    output_mode: str,
    spark: SparkSession,
) -> DataFrame:
    """Execute a streaming DataFrame through TWO availableNow
    runs over ONE checkpoint into a parquet sink, returning the
    accumulated result. Event-time TIMERS need this: availableNow
    fires timers expired by the final watermark in an extra
    end-of-stream batch, and under heavy load that batch can lose the
    race with termination (observed once in ~10 gate runs) — a second
    run on the same checkpoint processes no new data but fires any
    still-pending expired timers, and state checkpointing makes the
    union of the appends exactly-once. The parquet sink (not memory)
    is what makes the resume safe: a restarted memory sink drops the
    first run's rows. The returned frame reads the sink's files
    lazily, so they live in a lifecycle-scoped dir, released at this
    thread's next call."""
    base = scoped_dir("run_to_parquet_resumed", "spark_resume_")
    data, ckpt = f"{base}/data", f"{base}/ckpt"
    for _ in range(2):
        q = (
            out.writeStream.format("parquet")
            .option("path", data)
            .option("checkpointLocation", ckpt)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(data)


def run_to_table(
    out: DataFrame,
    output_mode: str,
    spark: SparkSession,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow)
    into a memory sink; return the materialized result table. The
    one-shot checkpoint dir is deleted after termination, and the
    sink's temp view is dropped before returning (the returned frame
    keeps the sink's rows; a view would pin them for the whole
    session) — also on failure, so repeated verify/bench cycles
    accumulate neither RocksDB state nor views."""
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    with tempfile.TemporaryDirectory(
        prefix="spark_ckpt_", ignore_cleanup_errors=True
    ) as ckpt:
        try:
            q = (
                out.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.table(name)
        finally:
            spark.catalog.dropTempView(name)
