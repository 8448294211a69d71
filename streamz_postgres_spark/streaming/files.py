"""File sources and sinks (SURVEY §2.1): streamz ``from_textfile`` /
``filenames`` -> file-stream sources; ``sink_to_textfile`` /
``to_kafka`` -> streaming sinks with Spark's exactly-once commit log.

Both queries run end-to-end streaming pipelines through REAL sinks
(not memory): the text-source query streams lines out of text files;
the sink query writes a parquet file sink with the _spark_metadata
transaction log and re-reads the committed output. Oracle-checked.

Kafka itself needs a broker (none in this environment): to_kafka /
from_kafka are the same writeStream/readStream calls with
``format("kafka")`` + ``kafka.bootstrap.servers`` and inherit the
exactly-once ledger shown here; the CDC envelope (sources/cdc.py)
is the payload they'd carry.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamz_postgres_spark.catalog import load_table
from streamz_postgres_spark.lifecycle import scoped_dir
from streamz_postgres_spark.registry import register
from streamz_postgres_spark.streaming.runner import replay_events, run_to_table


@register(
    "q_stream_textfile",
    oracle="""
SELECT COUNT(*) AS n_lines,
       CAST(SUM(length(regexp_replace(text, '[\\r\\n]', ' ', 'g')))
            AS BIGINT) AS total_chars,
       CAST(SUM(len(string_split(regexp_replace(text, '[\\r\\n]', ' ', 'g'),
                                 ' '))) AS BIGINT) AS total_tokens
FROM documents
WHERE text IS NOT NULL
""",
    tags=("streaming", "source"),
)
def q_stream_textfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streamz ``from_textfile`` parity: documents are written as
    plain text (one per line), then a text file-stream source tails
    the directory and a streaming aggregate counts lines/chars/
    tokens. New files appearing in the directory would be picked up
    incrementally — the ``filenames`` source semantic.

    A line-oriented sink can only represent newline-free, non-NULL
    text: embedded CR/LF would split one document into several lines
    on re-read and a NULL has no line form at all — so the writer
    normalizes line breaks to spaces and skips NULL rows, and the
    oracle applies the identical normalization (v2 hostile-fixture
    find, unicode/NULL-document classes). This is the documented
    from_textfile contract, not a shortcut: every line-oriented log
    shipper imposes the same normalization."""
    d = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="textsrc_", ignore_cleanup_errors=True
    ) as outdir:
        (
            d.filter(F.col("text").isNotNull())
            .select(F.regexp_replace("text", r"[\r\n]", " ").alias("text"))
            .write.mode("overwrite")
            .text(outdir)
        )

        lines = spark.readStream.format("text").load(outdir)
        agg = lines.agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.length("value")).alias("total_chars"),
            F.sum(F.size(F.split("value", " "))).alias("total_tokens"),
        )
        return run_to_table(agg, "complete", spark)


@register(
    "q_stream_file_sink",
    oracle="""
SELECT event_id, user_id, value
FROM events
WHERE event_type = 'purchase'
""",
    tags=("streaming", "sink"),
)
def q_stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streamz ``sink_to_textfile`` parity with exactly-once
    semantics: stream events -> filter purchases -> parquet file
    sink (writes the _spark_metadata commit log) -> batch re-read of
    the committed files. The re-read sees exactly the committed set,
    which must equal the batch filter — the exactly-once ledger the
    reference's Kafka-batched source approximates with manual
    checkpoints. The returned DataFrame reads the sink's files
    lazily, so they live in a lifecycle-scoped dir (released at this
    thread's next invocation)."""
    s = replay_events(spark, sf_dir)
    outdir = scoped_dir("q_stream_file_sink", "filesink_")
    ckpt = os.path.join(outdir, "_ckpt")
    q = (
        s.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
        .writeStream.format("parquet")
        .option("path", os.path.join(outdir, "data"))
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the committed data dir must outlive this call (the returned
    # DataFrame reads it); only the checkpoint is one-shot
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.read.parquet(os.path.join(outdir, "data"))


@register(
    "q_stream_json_lines",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN value > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_high
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
    tags=("streaming", "source", "json"),
)
def q_stream_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines streaming source — the wire format Kafka topics
    and log shippers actually deliver: events are staged as .jsonl
    (ts as epoch micros, the tz-free transport encoding), a json
    file-stream source parses them against an EXPLICIT schema
    (mandatory for streaming reads — no inference — so producer
    drift fails fast instead of silently re-typing columns), the
    event time is rebuilt as TimestampNTZ, and a tumbling hourly
    aggregate runs on top. At scale the same plan reads
    ``format("kafka")`` + ``from_json(value, schema)``; the staging
    write is the test's producer."""
    from pyspark.sql import types as T

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    with tempfile.TemporaryDirectory(
        prefix="jsonsrc_", ignore_cleanup_errors=True
    ) as outdir:
        # the staging "producer" is a distributed text write of
        # to_json lines, not a driver loop
        e.select(
            F.to_json(
                F.struct("event_id", "ts_us", "user_id", "event_type", "value")
            ).alias("value")
        ).write.mode("overwrite").text(os.path.join(outdir, "lines"))

        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts_us", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        )
        s = (
            spark.readStream.schema(schema)
            .format("json")
            .option("pathGlobFilter", "part-*")
            .load(os.path.join(outdir, "lines"))
            .withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts_us, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        )
        agg = (
            s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                # when/otherwise, not a bare boolean cast: the
                # oracle's CASE sends a NULL comparison to ELSE 0,
                # while sum(cast(NULL)) skips the row and returns
                # NULL for an all-NULL group (v2 hostile find)
                F.sum(F.when(F.col("value") > 0.5, 1).otherwise(0))
                .cast("long")
                .alias("n_high"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "n_high",
            )
        )
        return run_to_table(agg, "complete", spark)
