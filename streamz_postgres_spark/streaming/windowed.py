"""Windowed / relational streaming operators, oracle-checked via
bounded replay.

Each q_stream_* here runs a REAL Structured Streaming query
(file-stream source, state stores, output modes, availableNow
trigger) over the events fixture and returns the materialized sink
table; the oracle is the same SQL as the batch twin, so the driver
value-checks true streaming execution, not a batch re-expression.

streamz parity (SURVEY §2.3/§2.5): timed_window -> q_stream_tumbling;
SDF rolling -> q_stream_sliding; groupby().agg() in update mode ->
q_stream_latest_per_key; unique -> q_stream_dedup; accumulate (per-
key stateful fold) -> q_stream_accumulate (applyInPandasWithState);
stream-stream join within time bound -> q_stream_interval_join.

Watermark policy: bounded replays run in complete/append modes that
do not drop data, keeping results equal to batch semantics (streamz
has no watermarks — SURVEY §2.3 flags this divergence); production
jobs add ``withWatermark`` to bound state, documented per query.
"""

from __future__ import annotations

from decimal import ROUND_HALF_EVEN, Decimal
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from streamz_postgres_spark.catalog import load_table
from streamz_postgres_spark.functions.numeric import sql_dsum
from streamz_postgres_spark.registry import oracle_of, register
from streamz_postgres_spark.streaming.runner import replay_events, run_to_table



def _nullable_uid(key: tuple):
    """Grouping-key normalization for the Python state folds: a NULL
    bigint key arrives as float NaN through Arrow — SQL GROUP BY
    keeps the NULL group, so the fold must process it and emit a
    NULL user_id, not crash on int(NaN) (hostile-sweep v5 find)."""
    import pandas as pd

    return None if pd.isna(key[0]) else int(key[0])

@register(
    "q_stream_tumbling",
    oracle=f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
    tags=("streaming", "time"),
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window agg as a streaming query (complete mode).
    Production: update mode + withWatermark('ts', <delay>) bounds
    window state; complete mode here keeps bounded-replay results
    identical to batch."""
    from streamz_postgres_spark.functions.numeric import dsum

    s = replay_events(spark, sf_dir)
    out = (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_to_table(out, "complete", spark)


@register(
    "q_stream_topk",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events
  GROUP BY date_trunc('hour', ts), event_type
)
SELECT window_start, event_type, n_events, rn
FROM (
  -- explicit NULLS LAST: the NULL event type is a real group and
  -- the engines' default NULL sort placement differs (Spark asc =
  -- NULLS FIRST, DuckDB = NULLS LAST) — the top-3 cut line must
  -- not depend on it (hostile-sweep v5 find)
  SELECT *, CAST(row_number() OVER (PARTITION BY window_start
              ORDER BY n_events DESC, event_type NULLS LAST)
            AS BIGINT) AS rn
  FROM hourly
) t
WHERE rn <= 3
""",
    tags=("streaming", "time", "topk"),
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE top-3 event types per hourly window: the trending-items
    dashboard query. The STREAM maintains the per-(window, type)
    counts (the only state — O(windows x types), watermark-bounded in
    production); the rank is a read-side window over the tiny
    materialized state, recomputed per refresh because a row's rank
    can change with every micro-batch — ranking inside the stream
    would need update-mode re-emission of whole windows, the classic
    top-k-in-streaming trap. Deterministic tie-break (count desc,
    then type) keeps the cut line engine-stable."""
    s = replay_events(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    tbl = run_to_table(agg, "complete", spark)
    rn = F.row_number().over(
        Window.partitionBy("window_start").orderBy(
            F.col("n_events").desc(),
            F.col("event_type").asc_nulls_last(),
        )
    )
    return tbl.withColumn("rn", rn.cast("long")).filter(F.col("rn") <= 3)


@register(
    "q_stream_sliding",
    oracle=f"""
WITH b AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS bucket, value FROM events
), assigned AS (
  SELECT bucket AS window_start, value FROM b
  UNION ALL
  SELECT bucket - INTERVAL '30 minutes' AS window_start, value FROM b
)
SELECT window_start, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM assigned
GROUP BY window_start
""",
    tags=("streaming", "time"),
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window agg (1h window / 30min slide), streaming."""
    from streamz_postgres_spark.functions.numeric import dsum

    s = replay_events(spark, sf_dir)
    out = (
        s.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )
    return run_to_table(out, "complete", spark)


@register(
    "q_stream_tumbling_watermarked",
    oracle=f"""
SELECT date_trunc('hour', ts) AS window_start,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY date_trunc('hour', ts)
""",
    tags=("streaming", "time", "watermark"),
)
def q_stream_tumbling_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window WITH a declared watermark in append mode —
    the production shape: window state is dropped (and the final row
    emitted) only once the watermark passes the window end. Append
    mode withholds the window containing max(ts) forever on a
    bounded input, so the replay stages the events file plus one
    synthetic far-future flush row: the watermark jumps past every
    real window (all emit) while the flush row's own window stays
    withheld — the standard end-of-stream flush for append-mode
    verification. The flush row never reaches the output."""
    from streamz_postgres_spark.functions.numeric import dsum
    from streamz_postgres_spark.streaming.runner import staged_replay_with_flush

    with staged_replay_with_flush(spark, sf_dir) as s:
        # watermarks require TimestampType; build the instant from epoch
        # micros (tz-free both ways: NTZ -> micros -> instant, and the
        # output instant -> micros -> NTZ) so the UTC-aligned hour grid
        # and emitted wall clocks are session-timezone-independent
        micros = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
        out = (
            s.withColumn("ts_evt", F.timestamp_micros(micros))
            .withWatermark("ts_evt", "0 seconds")
            .groupBy(F.window("ts_evt", "1 hour").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value").alias("sum_value"),
            )
            .select(
                F.expr(
                    "timestampadd(MICROSECOND, unix_micros(w.start), "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ).alias("window_start"),
                "n_events",
                "sum_value",
            )
            # defensive: the flush window is withheld by the watermark,
            # but make the contract explicit
            .filter(F.col("window_start") < F.lit("2024-06-01").cast("timestamp_ntz"))
        )
        return run_to_table(out, "append", spark)


@register(
    "q_stream_session",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts, value,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM numbered
GROUP BY user_id, session_id
""",
    tags=("streaming", "session"),
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) as a streaming stateful agg —
    the operator streamz lacks entirely (SURVEY §2.3): merging
    session state lives in the state store, keyed by user."""
    from streamz_postgres_spark.functions.numeric import dsum

    s = replay_events(spark, sf_dir)
    out = (
        s.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return run_to_table(out, "complete", spark)


@register(
    "q_stream_latest_per_key",
    oracle="""
SELECT user_id,
       arg_max(value, event_id) AS latest_value,
       max(event_id)            AS latest_event_id
FROM events
GROUP BY user_id
""",
    tags=("streaming", "cdc"),
)
def q_stream_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streamz ``latest()`` in true streaming form: per-key max_by
    aggregate, complete mode (= SDF emit-updated-aggregate).
    latest_value skips NULL values like the batch twin (DuckDB
    arg_max convention — the last KNOWN reading; hostile-sweep v5
    find)."""
    s = replay_events(spark, sf_dir)
    out = s.groupBy("user_id").agg(
        F.max_by(
            "value",
            F.when(F.col("value").isNotNull(), F.col("event_id")),
        ).alias("latest_value"),
        F.max("event_id").alias("latest_event_id"),
    )
    return run_to_table(out, "complete", spark)


@register(
    "q_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup"),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-occurrence dedup (streamz ``unique`` parity):
    dropDuplicates keyed state emits one row per key. The key SET is
    deterministic (which row represents it is arrival-order, so only
    keys are emitted). Production uses
    dropDuplicatesWithinWatermark to bound the seen-set, mirroring
    streamz's ``unique(maxsize)`` bounded history."""
    s = replay_events(spark, sf_dir)
    out = s.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return run_to_table(out, "append", spark)


@register(
    "q_stream_static_join",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c_mktsegment
""",
    tags=("streaming", "join"),
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the most common production
    streaming pattern (events stream joined to a slowly-changing
    dimension) and the streaming face of streamz's per-event lookup
    maps. The static side is a broadcast hash join probed per
    micro-batch with NO stream state (unlike stream-stream joins);
    at 100 TB/day of events the dim stays broadcast and the stream
    side never shuffles before the join."""
    s = replay_events(spark, sf_dir)
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    out = (
        s.join(dim, s["user_id"] == dim["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("long").alias("n_purchases"),
        )
    )
    return run_to_table(out, "complete", spark)


@register(
    "q_stream_dedup_watermarked",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup", "watermark"),
)
def q_stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of streaming dedup:
    dropDuplicatesWithinWatermark bounds the seen-set by event time —
    state for a key is dropped once the watermark passes it, which is
    what makes infinite-stream dedup feasible (plain dropDuplicates
    state grows forever; streamz ``unique(maxsize)`` bounds by count,
    this bounds by time). The delay (60d) exceeds the fixture's 30-day
    span, so no key expires mid-replay and the output is exactly
    DISTINCT — the same oracle as q_stream_dedup, now with bounded
    state semantics exercised."""
    s = replay_events(spark, sf_dir)
    micros = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    out = (
        s.withColumn("ts_evt", F.timestamp_micros(micros))
        .withWatermark("ts_evt", "60 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_table(out, "append", spark)


@register(
    "q_stream_interval_join",
    oracle="""
SELECT c.event_id AS click_id, c.user_id,
       p.event_id AS purchase_id, p.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
""",
    tags=("streaming", "join"),
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases within 30 min after a
    click, same user — the Spark-native form of the zip/combine
    compositions streamz users build (SURVEY §2.4). Watermarks bound
    join state in production; inner-join emission itself is
    watermark-independent, so the bounded replay emits every match."""
    s = replay_events(spark, sf_dir)
    clicks = s.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("c_ts"),
    )
    purchases = s.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    out = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTE")),
    ).select("click_id", "user_id", "purchase_id", "purchase_value")
    return run_to_table(out, "append", spark)


@register(
    "q_stream_join_outer",
    oracle="""
SELECT c.event_id AS click_id, c.user_id,
       p.event_id AS purchase_id, p.value AS purchase_value
FROM (SELECT * FROM events
      WHERE event_type = 'click'
        AND ts < TIMESTAMP '2024-01-29 00:00:00') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
""",
    tags=("streaming", "join", "watermark"),
)
def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, paired
    with its within-30-min purchases or a null row if none came.
    Unlike the inner join, outer emission is watermark-DRIVEN: a
    click's null row may only surface once the watermark proves no
    matching purchase can still arrive, so both inputs carry
    watermarks and the left side is restricted to clicks at least a
    day older than the replay's end — the availableNow run then
    flushes every pending state row (Spark keeps running no-data
    batches while eviction is possible) and the result equals the
    batch LEFT JOIN the oracle computes. Production keeps the same
    query without the cutoff and accepts tail rows emitting on the
    NEXT trigger. State: bounded by watermark + 30-min condition."""
    s = replay_events(spark, sf_dir)
    # watermarks require TimestampType; NTZ -> epoch micros ->
    # instant is tz-free in both directions (same trick as the
    # watermarked tumbling query), and no timestamp is emitted so
    # nothing converts back
    micros = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    # Catalyst pushes the branch filters below this shared watermark
    # node, so the watermark clock tracks the FILTERED union of both
    # branches (clicks<cutoff ∪ purchases), NOT the raw stream. The
    # purchase branch runs to the stream's end (Jan 30), which keeps
    # the final watermark a day past the click cutoff — every
    # pre-cutoff click is then provably match-less and its null row
    # flushes. A query that cut off BOTH branches would silently
    # withhold the last ~30 min of null rows; q_stream_join_full
    # documents that trap and its flush-row fix.
    s = s.withColumn("ts_evt", F.timestamp_micros(micros)).withWatermark(
        "ts_evt", "1 minute"
    )
    clicks = (
        s.filter(
            (F.col("event_type") == "click")
            & (F.col("ts") < F.lit("2024-01-29 00:00:00").cast("timestamp_ntz"))
        )
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts_evt").alias("c_ts"),
        )
    )
    purchases = (
        s.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts_evt").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    out = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTE")),
        "left_outer",
    ).select("click_id", "user_id", "purchase_id", "purchase_value")
    return run_to_table(out, "append", spark)


@register(
    "q_stream_join_full",
    oracle="""
SELECT c.event_id AS click_id, c.user_id AS click_user,
       p.event_id AS purchase_id, p.user_id AS purchase_user,
       p.value AS purchase_value
FROM (SELECT * FROM events
      WHERE event_type = 'click'
        AND ts < TIMESTAMP '2024-01-29 00:00:00') c
FULL JOIN (SELECT * FROM events
           WHERE event_type = 'purchase'
             AND ts < TIMESTAMP '2024-01-29 00:00:00') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
""",
    tags=("streaming", "join", "watermark"),
)
def q_stream_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — the hardest join
    case: BOTH sides hold state and BOTH emit watermark-proven null
    rows (a click with no purchase within 30 min, and a purchase no
    click preceded).

    The watermark trap this query exists to pin down: Catalyst
    pushes the branch filters BELOW a shared ``withWatermark`` node,
    so the watermark clock tracks max(event time) of the FILTERED
    union, not the raw stream. With both branches cut off at Jan 29
    the watermark caps ~1 min below the cutoff and every click in
    the last 30 min before it is never provably match-less — its
    null row stays in state forever (measured: exactly the latest
    unmatched click went missing). The replay therefore stages the
    events file plus one far-future flush CLICK (user_id -1, ts
    past all data) that survives the click branch's filter and
    drags the watermark past every real row; the flush row's OWN
    null emission needs wm > flush_ts + 30 min, which the final
    wm = flush_ts - delay never reaches, so it stays withheld (the
    same end-of-stream-flush idiom as q_stream_tumbling_watermarked,
    plus a defensive output filter). Production equivalents: idle-
    source watermark advance or heartbeat events. Per-side state is
    bounded by watermark + the 30-min condition."""
    from streamz_postgres_spark.streaming.runner import staged_replay_with_flush

    with staged_replay_with_flush(spark, sf_dir, event_type="click") as s:
        micros = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
        s = s.withColumn("ts_evt", F.timestamp_micros(micros)).withWatermark(
            "ts_evt", "1 minute"
        )
        cutoff = F.col("ts") < F.lit("2024-01-29 00:00:00").cast("timestamp_ntz")
        clicks = s.filter(
            (F.col("event_type") == "click") & (cutoff | (F.col("user_id") == -1))
        ).select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts_evt").alias("c_ts"),
        )
        purchases = s.filter((F.col("event_type") == "purchase") & cutoff).select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts_evt").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        out = (
            clicks.join(
                purchases,
                (F.col("click_user") == F.col("purchase_user"))
                & (F.col("p_ts") >= F.col("c_ts"))
                & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTE")),
                "full_outer",
            )
            # defensive: the flush click's null row is withheld by the
            # watermark; make the contract explicit
            .filter(F.col("click_user").isNull() | (F.col("click_user") != -1))
            .select(
                "click_id",
                "click_user",
                "purchase_id",
                "purchase_user",
                "purchase_value",
            )
        )
        return run_to_table(out, "append", spark)


def _running_totals(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key stateful fold (streamz ``accumulate`` parity).

    State: (count, exact decimal sum as string). Rows are processed
    in event_id order; the decimal accumulator makes the emitted
    running sums bit-equal to the oracle's decimal window sum.
    """
    if state.exists:
        n, acc_str = state.get
        acc = None if acc_str is None else Decimal(acc_str)
    else:
        n, acc = 0, None
    six = Decimal("0.000001")
    # concatenate BEFORE sorting: a large group arrives as several
    # Arrow chunks and per-chunk sorting would accumulate out of
    # global event order (running values are order-sensitive)
    pdf = pd.concat(list(batches), ignore_index=True).sort_values(
        "event_id"
    ).reset_index(drop=True)
    sums = []
    for v in pdf["value"]:
        # NULL doubles arrive as NaN: the oracle's running SUM skips
        # them (and stays NULL until the first real value) while
        # COUNT(*) counts every row — mirror both; a NaN fed to the
        # quantized add would quietly poison the accumulator forever
        # (v2 hostile streaming sweep find)
        if pd.notna(v):
            acc = (acc or Decimal(0)) + Decimal(float(v)).quantize(
                six, rounding=ROUND_HALF_EVEN
            )
        n += 1
        sums.append((None if acc is None else float(acc), n))
    state.update((n, None if acc is None else str(acc)))
    yield pd.DataFrame(
        {
            "user_id": pdf["user_id"],
            "event_id": pdf["event_id"],
            # NaN -> None so the emitted value column is NULL, like
            # the source column (a bare float64 NaN would read back
            # as a DOUBLE NaN, not SQL NULL)
            "value": pdf["value"].astype(object).where(
                pdf["value"].notna(), None
            ),
            "running_sum": pd.Series(
                [s for s, _ in sums], dtype="object"
            ),
            "running_n": [c for _, c in sums],
        }
    )


@register(
    "q_stream_accumulate",
    oracle="""
SELECT user_id, event_id, value,
  CAST(SUM(CAST(value AS DECIMAL(38,6)))
       OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    AS running_sum,
  COUNT(*) OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS running_n
FROM events
""",
    tags=("streaming", "stateful", "udf"),
)
def q_stream_accumulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key streaming state via applyInPandasWithState:
    running (sum, count) per user emitted per event — the direct
    analogue of streamz ``accumulate(func, start)``. State is two
    scalars per key (bounded); batches arrive via Arrow."""
    s = replay_events(spark, sf_dir)
    out = s.groupBy("user_id").applyInPandasWithState(
        _running_totals,
        outputStructType=(
            "user_id long, event_id long, value double, "
            "running_sum double, running_n long"
        ),
        stateStructType="n long, acc string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_table(out, "append", spark)



@register(
    "q_stream_funnel",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_type,
    CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts, event_type,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clicks,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases,
       CAST(CASE WHEN MIN(CASE WHEN event_type = 'click' THEN ts END)
                      IS NOT NULL
                  AND MAX(CASE WHEN event_type = 'purchase' THEN ts END)
                      > MIN(CASE WHEN event_type = 'click' THEN ts END)
                 THEN 1 ELSE 0 END AS INTEGER) AS converted
FROM numbered
GROUP BY user_id, session_id
""",
    tags=("streaming", "session", "funnel"),
)
def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conversion funnel as a LIVE streaming query: session
    windows merge in the state store as events arrive, and the
    click→purchase conversion flag is conditional aggregation inside
    each session — the real-time form of q_funnel, checked against
    the identical batch oracle. Production adds a watermark to close
    sessions and emit them incrementally (update mode); the bounded
    replay runs complete mode so the final state equals batch
    semantics exactly."""
    s = replay_events(spark, sf_dir)
    click_ts = F.min(F.when(F.col("event_type") == "click", F.col("ts")))
    purchase_ts = F.max(F.when(F.col("event_type") == "purchase", F.col("ts")))
    out = (
        s.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1)
                .otherwise(0)
                .cast("long")
            ).alias(
                "n_clicks"
            ),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1)
                .otherwise(0)
                .cast("long")
            ).alias(
                "n_purchases"
            ),
            F.coalesce(
                (click_ts.isNotNull() & (purchase_ts > click_ts)).cast("int"),
                F.lit(0),
            ).alias("converted"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_clicks",
            "n_purchases",
            "converted",
        )
    )
    return run_to_table(out, "complete", spark)


@register(
    "q_stream_chained_aggs",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n
  FROM events
  GROUP BY date_trunc('hour', ts)
)
SELECT CAST(date_trunc('day', h) AS TIMESTAMP) AS day_start,
       CAST(MAX(n) AS BIGINT) AS peak_hourly,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_hours
FROM hourly
GROUP BY CAST(date_trunc('day', h) AS TIMESTAMP)
""",
    tags=("streaming", "time", "watermark", "chained"),
)
def q_stream_chained_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPLE stateful operators in one streaming query (Spark 4's
    chained time-window aggregation): hourly counts re-windowed into
    daily peak/total/coverage — two state stores, one pipeline, no
    intermediate sink. The second agg windows over the FIRST agg's
    window column (``F.window(w)`` re-windowing), so hourly rows
    flow into daily state as the watermark closes each hour, and
    each daily row emits once the watermark passes the day.
    Append-mode verification uses the staged flush row to close
    every real hour AND day; the flush row's own hour/day stay
    withheld. This is the streaming form of a rollup cascade — at
    100 TB it replaces the 'hourly job feeding a daily job' pattern
    with one query and exactly-once state."""
    from streamz_postgres_spark.streaming.runner import staged_replay_with_flush

    with staged_replay_with_flush(spark, sf_dir) as s:
        micros = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
        hourly = (
            s.withColumn("ts_evt", F.timestamp_micros(micros))
            .withWatermark("ts_evt", "0 seconds")
            .groupBy(F.window("ts_evt", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        daily = (
            hourly.groupBy(F.window(F.col("w"), "1 day").alias("d"))
            .agg(
                F.max("n").alias("peak_hourly"),
                F.sum("n").alias("n_events"),
                F.count(F.lit(1)).cast("long").alias("n_hours"),
            )
            .select(
                F.expr(
                    "timestampadd(MICROSECOND, unix_micros(d.start), "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ).alias("day_start"),
                "peak_hourly",
                "n_events",
                "n_hours",
            )
            .filter(F.col("day_start") < F.lit("2024-06-01").cast("timestamp_ntz"))
        )
        return run_to_table(daily, "append", spark)




# -- streaming lockstep zip (streamz ``zip`` parity, per key) ----------------


def _zip_seq_fold(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key lockstep zip: buffer whichever side is ahead, emit a
    pair the moment both sides have an unmatched element — exactly
    streamz ``zip``'s buffer-the-faster-stream contract, per key.
    State is (emitted-pair counter, JSON queue of the single side
    currently ahead): the queue holds only the IMBALANCE between the
    sides, so state is bounded by side skew, not stream length, and
    each pair is emitted exactly once, in append mode."""
    import json as _json

    if state.exists:
        n_pairs, side, queue_blob = state.get
        queue = _json.loads(queue_blob)
    else:
        n_pairs, side, queue = 0, "", []
    pdf = pd.concat(list(batches), ignore_index=True)
    pdf = pdf.sort_values("event_id").reset_index(drop=True)
    out_rows = []
    for _, r in pdf.iterrows():
        this_side = "s" if r["event_type"] == "signup" else "c"
        item = [int(r["event_id"]), float(r["value"])]
        if queue and side != this_side:
            other = queue.pop(0)
            n_pairs += 1
            s_item, c_item = (
                (other, item) if this_side == "c" else (item, other)
            )
            out_rows.append(
                {
                    "user_id": _nullable_uid(key),
                    "seq": n_pairs,
                    "signup_id": s_item[0],
                    "signup_value": s_item[1],
                    "click_id": c_item[0],
                    "click_value": c_item[1],
                }
            )
        else:
            side = this_side
            queue.append(item)
    state.update((n_pairs, side, _json.dumps(queue)))
    yield pd.DataFrame(
        out_rows,
        columns=[
            "user_id",
            "seq",
            "signup_id",
            "signup_value",
            "click_id",
            "click_value",
        ],
    )


@register(
    "q_stream_zip_seq",
    oracle="""
WITH s AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq,
         event_id AS signup_id, value AS signup_value
  FROM events WHERE event_type = 'signup'
), c AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq,
         event_id AS click_id, value AS click_value
  FROM events WHERE event_type = 'click'
)
SELECT s.user_id, CAST(s.seq AS BIGINT) AS seq,
       signup_id, signup_value, click_id, click_value
-- IS NOT DISTINCT FROM: the NULL-user partition zips in the live
-- fold (GROUP BY semantics); USING's `=` would drop its pairs
-- (hostile-sweep v5 find)
FROM s JOIN c ON s.user_id IS NOT DISTINCT FROM c.user_id
             AND s.seq = c.seq
""",
    tags=("streaming", "join", "zip", "stateful"),
)
def q_stream_zip_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE-STREAMING lockstep zip (closes SURVEY §2.4's last HARD
    deferral; batch twin q_zip_seq): each user's i-th signup is
    paired with their i-th click, incrementally. Spark cannot chain
    an arbitrary-stateful operator into a stream-stream join (the
    generated-sequence-id join needs row_number state BEFORE the
    join), so the zip runs as ONE applyInPandasWithState fold per
    user that implements streamz zip's actual contract directly:
    buffer the side that is ahead, emit a pair as soon as both sides
    have an unmatched element. Each pair emits exactly once (append
    mode, no retraction); per-key state is the COUNTER plus only the
    unmatched imbalance between the sides — bounded by side skew,
    never by stream length (a production job adds a timeout to cap a
    permanently one-sided key). The oracle is the per-key
    row_number-join — checking that incremental pairing equals the
    batch zip on the full log."""
    s = replay_events(spark, sf_dir).filter(
        F.col("event_type").isin("signup", "click")
    )
    out = s.groupBy("user_id").applyInPandasWithState(
        _zip_seq_fold,
        outputStructType=(
            "user_id long, seq long, signup_id long, signup_value double, "
            "click_id long, click_value double"
        ),
        stateStructType="n_pairs long, side string, queue string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_table(out, "append", spark)


# -- streaming combine_latest (streamz core parity) --------------------------


def _combine_latest_fold(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key combine_latest: remember the latest value of each
    side; once BOTH sides have been seen, every incoming event emits
    one row pairing the current latests — streamz combine_latest's
    default emit-on-any contract. State is exactly two scalars per
    key forever."""
    if state.exists:
        click_v, purch_v = state.get
    else:
        click_v, purch_v = None, None
    pdf = pd.concat(list(batches), ignore_index=True).sort_values(
        "event_id"
    ).reset_index(drop=True)
    rows = []
    for eid, etype, val in zip(
        pdf["event_id"], pdf["event_type"], pdf["value"]
    ):
        # a NULL value (NaN in pandas) does not update the side's
        # latest — the oracle's LAST_VALUE ... IGNORE NULLS skips it
        # — but the event still emits the current pair if both sides
        # have been seen (v2 hostile streaming sweep find)
        if pd.notna(val):
            if etype == "click":
                click_v = float(val)
            else:
                purch_v = float(val)
        if click_v is not None and purch_v is not None:
            rows.append(
                {
                    "user_id": _nullable_uid(key),
                    "event_id": int(eid),
                    "click_value": click_v,
                    "purchase_value": purch_v,
                }
            )
    state.update((click_v, purch_v))
    yield pd.DataFrame(
        rows,
        columns=["user_id", "event_id", "click_value", "purchase_value"],
    )


@register(
    "q_stream_combine_latest",
    oracle="""
WITH w AS (
  SELECT user_id, event_id,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN value END
                    IGNORE NULLS) OVER win AS click_value,
         LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
                    IGNORE NULLS) OVER win AS purchase_value
  FROM events
  WHERE event_type IN ('click', 'purchase')
  WINDOW win AS (PARTITION BY user_id ORDER BY event_id
                 ROWS UNBOUNDED PRECEDING)
)
SELECT user_id, event_id, click_value, purchase_value
FROM w
WHERE click_value IS NOT NULL AND purchase_value IS NOT NULL
""",
    tags=("streaming", "join", "stateful"),
)
def q_stream_combine_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE-STREAMING combine_latest (streamz core, SURVEY §2.4;
    batch semantics ride q_asof_join): per user, every click or
    purchase emits the pair of CURRENT latest values of both sides,
    starting once both sides have produced at least one value —
    streamz's default emit-on-any-update contract, including the
    emit for the event that completes the pair. One
    applyInPandasWithState fold; state is two scalars per key
    FOREVER (the lightest stateful operator in the registry), each
    event emits exactly once in append mode. Oracle: the
    last-ignoreNulls window pair over the full log with the
    both-seen filter."""
    s = replay_events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    out = s.groupBy("user_id").applyInPandasWithState(
        _combine_latest_fold,
        outputStructType=(
            "user_id long, event_id long, click_value double, "
            "purchase_value double"
        ),
        stateStructType="click_v double, purch_v double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_table(out, "append", spark)


# -- live concurrency profile (the O(bins) co-presence read-out) -------------


def _stream_concurrency_oracle() -> str:
    # the batch key's oracle, verbatim — one string, two keys, so
    # the twins cannot desynchronize (lazy import: operators.joins
    # is fully loaded before streaming modules)
    from streamz_postgres_spark.operators.joins import _CONCURRENCY_ORACLE

    return _CONCURRENCY_ORACLE


@register(
    "q_stream_concurrency",
    oracle=_stream_concurrency_oracle(),
    tags=("streaming", "session", "scale"),
)
def q_stream_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE concurrency profile — q_concurrency_profile's streaming
    twin: the session table is maintained as a true streaming
    stateful aggregate (native session_window keyed by user, the
    q_stream_session state plumbing — state store holds only the
    OPEN sessions), and the hour-bin profile (active sessions /
    distinct users / in-bin active seconds) is the read-side
    roll-up over the maintained table, the same read-side-walk
    split as q_stream_quantile_sketch. That split is the production
    shape: the expensive, unbounded part (sessionization of the raw
    event firehose) runs incrementally with bounded state; the
    O(bins) profile is recomputed from the compact session table on
    every dashboard refresh. All-integer bin arithmetic; value-
    checked against the batch oracle. The roll-up itself is the
    batch key's concurrency_rollup — one implementation, one oracle
    string, the twins cannot desynchronize."""
    from streamz_postgres_spark.operators.joins import (
        _OVL_EPOCH,
        concurrency_rollup,
    )

    s = replay_events(spark, sf_dir)
    sess_live = (
        s.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("w_start"),
                F.col("w.end").alias("w_end"))
    )
    tbl = run_to_table(sess_live, "complete", spark)
    es = lambda c: F.expr(  # noqa: E731
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '{_OVL_EPOCH}', {c})"
    )
    sess = tbl.select(
        "user_id", es("w_start").alias("s"), es("w_end").alias("e")
    )
    return concurrency_rollup(sess)


def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE OHLC candles: the bar chart that redraws as trades
    arrive. Native streaming aggregation — no custom state code:
    open/close are min_by/max_by over the TOTAL (epoch seconds,
    event_id) order, which are declarative aggregates Spark
    maintains incrementally per (type, bar) group; high/low/volume
    are plain min/max/count, and the sum rides the exact decimal
    path. State is one row per open bar; production adds a watermark
    on ts so closed bars evict (complete mode here keeps the bounded
    replay equal to batch). Oracle: batch q_ohlc_bars' — the stream
    must converge to exactly the batch candles."""
    from streamz_postgres_spark.functions.numeric import dsum

    s = replay_events(spark, sf_dir)
    x = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
    )
    pts = s.select(
        "event_type",
        "value",
        "event_id",
        x.alias("x"),
    ).withColumn("bar", F.expr("x div 3600").cast("bigint"))
    ordkey = F.struct("x", "event_id")
    out = pts.groupBy("event_type", "bar").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.min_by("value", ordkey).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", ordkey).alias("close"),
        dsum("value").alias("sum_value"),
    )
    return run_to_table(out, "complete", spark).orderBy("event_type", "bar")


register(
    "q_stream_ohlc",
    oracle=oracle_of("q_ohlc_bars"),
    tags=("streaming", "time", "timeseries"),
)(q_stream_ohlc)


# -- live DAU / MAU stickiness (read-side-split bitmap state) -----------------


def q_stream_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE DAU / trailing-28-day MAU / stickiness — q_dau_mau's
    streaming twin (r8 verdict Next-round #4): the per-(day,
    id-bucket) bitmap table is maintained as a TRUE streaming
    aggregate (native ``bitmap_construct_agg`` over
    ``bitmap_bit_position`` — a declarative, mergeable aggregate
    Spark folds incrementally; state is O(days x buckets)
    FIXED-SIZE 32KB bitmaps, never raw user ids), and the
    DAU/MAU/stickiness line is the read-side trailing-window
    OR+popcount over the maintained table — the same
    read-side-split shape as q_stream_concurrency: the unbounded
    firehose folds incrementally with bounded state, the O(days)
    dashboard roll-up recomputes from the compact bitmap table on
    every refresh. The roll-up IS the batch key's dau_mau_readout —
    one implementation, one oracle string, the twins cannot
    desynchronize. Production adds a watermark on ts so bitmap
    groups for closed days evict once they age past the 28-day
    MAU horizon (complete mode here keeps the bounded replay equal
    to batch)."""
    from streamz_postgres_spark.operators.aggregates import (
        dau_day_index,
        dau_mau_readout,
    )

    s = replay_events(spark, sf_dir)
    daily_live = (
        s.select(dau_day_index().alias("d"), "user_id")
        .groupBy("d", F.expr("bitmap_bucket_number(user_id)").alias("bkt"))
        .agg(
            F.expr(
                "bitmap_construct_agg(bitmap_bit_position(user_id))"
            ).alias("bm")
        )
    )
    tbl = run_to_table(daily_live, "complete", spark)
    return dau_mau_readout(tbl)


register(
    "q_stream_dau_mau",
    oracle=oracle_of("q_dau_mau"),
    tags=("streaming", "bitmap", "time"),
)(q_stream_dau_mau)
