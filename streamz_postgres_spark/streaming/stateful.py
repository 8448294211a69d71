"""Custom stateful streaming operators: transformWithState processors
and applyInPandasWithState folds.

The six transformWithStateInPandas queries register only when a
protobuf runtime is importable (``protobuf_shim.available``;
GATED_KEYS in the registry). Their worker environment and RocksDB
state store are set by ``catalog.ship_package``, which every query
reaches through its source.
"""

from __future__ import annotations

from decimal import ROUND_HALF_EVEN, Decimal
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import StatefulProcessor

from streamz_postgres_spark import protobuf_shim
from streamz_postgres_spark.catalog import load_table
from streamz_postgres_spark.functions.kll import (
    calibrated_readout,
    kll_sketch,
    sketch_estimates,
)
from streamz_postgres_spark.functions.numeric import micro6, sql_dsum
from streamz_postgres_spark.registry import oracle_of, register
from streamz_postgres_spark.streaming.runner import replay_events, run_to_table


class _UserTotalsProcessor(StatefulProcessor):
    """transformWithState processor: per-key (count, exact decimal
    sum) in a ValueState, emitting the updated totals per batch —
    the Spark 4 successor to applyInPandasWithState and the richest
    analogue of streamz ``accumulate`` (typed state, timers, TTL)."""

    def init(self, handle) -> None:
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        self._state = handle.getValueState(
            "totals",
            StructType(
                [
                    StructField("n", LongType()),
                    StructField("acc", StringType()),
                ]
            ),
        )

    def handleInputRows(self, key, rows, timerValues):
        if self._state.exists():
            n, acc_str = self._state.get()
            acc = None if acc_str is None else Decimal(acc_str)
        else:
            n, acc = 0, None
        for pdf in rows:
            for v in pdf["value"]:
                # pandas renders a NULL double as NaN: the oracle is
                # COUNT(*) + NULL-skipping dsum, so count every row
                # but keep NULLs out of the fold (micro6 raises on
                # NaN by contract; v2 hostile streaming sweep find).
                # acc starts as None — SQL SUM over zero non-NULL
                # values is NULL, not 0 — and becomes a Decimal on
                # the first real value.
                if pd.notna(v):
                    acc = (acc or Decimal(0)) + micro6(float(v))
                n += 1
        self._state.update((n, None if acc is None else str(acc)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [None if acc is None else float(acc)],
            }
        )

    def close(self) -> None:
        pass


def _latest_totals(tbl: DataFrame) -> DataFrame:
    """Collapse an update-mode memory-sink totals table to the LAST
    emission per user. The memory sink appends each micro-batch's
    update rows rather than upserting, so a multi-file fixture (more
    than one replay batch) leaves earlier cumulative emissions behind
    as stale rows; ``n_events`` is monotone per key, so max_by picks
    the final state. No-op on single-batch replays."""
    latest = tbl.groupBy("user_id").agg(
        F.max_by(F.struct("n_events", "sum_value"), F.col("n_events")).alias(
            "s"
        )
    )
    return latest.select("user_id", "s.n_events", "s.sum_value")


#: All transformWithStateInPandas oracles exclude the NULL
#: grouping key: pyspark's tws Python-worker key grouping is
#: PARTITION-LAYOUT-DEPENDENT for a NULL key (reproduced: with 8
#: shuffle partitions the NULL-user rows merge into a co-partitioned
#: user's group; with 32 they form their own group) — an engine
#: boundary like the watermark epoch floor, so the tws queries
#: filter NULL keys on both sides and route them nowhere
#: (hostile-sweep v5 find; applyInPandasWithState groups NULL keys
#: correctly and keeps them).
_TWS_ORACLE = f"""
SELECT user_id, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM events
WHERE user_id IS NOT NULL
GROUP BY user_id
"""


def q_stream_transform_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user totals via transformWithStateInPandas (Spark 4 typed
    arbitrary state): ValueState holds (count, exact decimal sum) so
    the emitted doubles match the oracle's decimal aggregation
    exactly. State is O(1) per key and survives across batches via
    the RocksDB store."""
    # NULL grouping keys are excluded from every tws query — the
    # pyspark tws key grouping is partition-layout-dependent for a
    # NULL key (see the _TWS_ORACLE note); the oracle filters too
    s = replay_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    out = s.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_UserTotalsProcessor(),
        outputStructType="user_id long, n_events long, sum_value double",
        outputMode="Update",
        timeMode="None",
    )
    return _latest_totals(run_to_table(out, "update", spark))


if protobuf_shim.available():  # pragma: no cover - depends on environment
    register(
        "q_stream_transform_state",
        oracle=_TWS_ORACLE,
        tags=("streaming", "stateful", "udf"),
    )(q_stream_transform_state)



# -- streaming EWMA ---------------------------------------------------------


def _ewma_fold(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key recursive EWMA (decay 0.5): e_1 = x_1,
    e_t = 0.5*x_t + 0.5*e_{t-1}.

    Every step is two exact halvings plus ONE rounded add, evaluated
    in the same order as the oracle's recursive CTE — so the
    streaming fold and the SQL recursion produce bit-identical
    doubles with no decimal detour. State is a single double."""
    if state.exists:
        (prev,) = state.get
    else:
        prev = None
    pdf = pd.concat(list(batches), ignore_index=True).sort_values(
        "event_id"
    ).reset_index(drop=True)
    out = []
    for v in pdf["value"]:
        x = float(v)
        prev = x if prev is None else 0.5 * x + 0.5 * prev
        out.append(prev)
    state.update((float(prev),))
    yield pd.DataFrame(
        {
            "user_id": pdf["user_id"],
            "event_id": pdf["event_id"],
            "value": pdf["value"],
            "ewma": out,
        }
    )


@register(
    "q_stream_ewma",
    oracle="""
WITH RECURSIVE t AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
),
r AS (
  SELECT user_id, event_id, value, rn, value AS ewma
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.user_id, t.event_id, t.value, t.rn,
         0.5 * t.value + 0.5 * r.ewma
  -- IS NOT DISTINCT FROM: the NULL user_id partition is a real
  -- GROUP BY group in the live fold, and a plain `=` recursion
  -- would strand it after its rn=1 anchor (hostile-sweep v5 find)
  FROM t JOIN r ON t.user_id IS NOT DISTINCT FROM r.user_id
              AND t.rn = r.rn + 1
)
SELECT user_id, event_id, value, ewma FROM r
""",
    tags=("streaming", "stateful", "udf", "timeseries"),
)
def q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-key EWMA via applyInPandasWithState — the live
    twin of the batch q_ewma (which renormalizes a depth-8 kernel;
    here the genuinely recursive filter runs forever on one double
    of state per key). The oracle replays the identical recursion as
    a recursive CTE, row-parity down to the last bit thanks to the
    dyadic decay. This is the canonical 'smoothed metric' monitor: at
    100 TB of events the state store holds |active keys| doubles and
    every micro-batch does one Arrow round-trip per key group."""
    s = replay_events(spark, sf_dir)
    out = s.groupBy("user_id").applyInPandasWithState(
        _ewma_fold,
        outputStructType=(
            "user_id long, event_id long, value double, ewma double"
        ),
        stateStructType="prev double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_table(out, "append", spark)


# -- streaming anomaly detection (running z-score) --------------------------


def _anomaly_fold(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key streaming anomaly flag: each event is tested against
    the mean/variance of the PRIOR events of its key, then folded in.

    State is (n, exact 6-dp decimal sum, exact 12-dp decimal sum of
    squares) — O(1) per key forever. The flag itself is computed in
    pure double arithmetic over the exact-decimal moments, with the
    variance test algebraically cleared of divisions:

        (x*n - s)^2 * (n-1) > 9 * n * (q*n - s^2)

    (i.e. |x - mean| > 3*stddev_sample), the same expression the SQL
    oracle evaluates — every operand is an IEEE double derived from
    the same decimals, so the comparison is bit-deterministic across
    engines and partitionings."""
    six = Decimal("0.000001")
    twelve = Decimal("0.000000000001")
    if state.exists:
        n, s_str, q_str = state.get
        s, q = Decimal(s_str), Decimal(q_str)
    else:
        n, s, q = 0, Decimal(0), Decimal(0)
    pdf = pd.concat(list(batches), ignore_index=True).sort_values(
        "event_id"
    ).reset_index(drop=True)
    flags, n_prevs = [], []
    for v in pdf["value"]:
        # NULL value (NaN in pandas): the oracle's CASE comparison
        # over a NULL value yields NULL (not FALSE) once n_prev >= 2,
        # the moments skip it, and n_prev still counts the row
        # (COUNT(*); v2 hostile streaming sweep find)
        if pd.isna(v):
            n_prevs.append(n)
            flags.append(None if n >= 2 else False)
            n += 1
            continue
        xd = float(v)
        nd, sd, qd = float(n), float(s), float(q)
        if n >= 2:
            lhs = xd * nd - sd
            flag = lhs * lhs * (nd - 1.0) > 9.0 * nd * (qd * nd - sd * sd)
        else:
            flag = False
        n_prevs.append(n)
        flags.append(flag)
        s += Decimal(xd).quantize(six, rounding=ROUND_HALF_EVEN)
        q += Decimal(xd * xd).quantize(twelve, rounding=ROUND_HALF_EVEN)
        n += 1
    state.update((n, str(s), str(q)))
    yield pd.DataFrame(
        {
            "user_id": pdf["user_id"],
            "event_id": pdf["event_id"],
            "value": pdf["value"].astype(object).where(
                pdf["value"].notna(), None
            ),
            "n_prev": pd.Series(n_prevs, dtype="int64"),
            "is_anomaly": pd.Series(flags, dtype="object"),
        }
    )


@register(
    "q_stream_anomaly",
    oracle="""
WITH t AS (
  SELECT user_id, event_id, value,
         CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS BIGINT) AS n_prev,
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(38,6)))
              OVER (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS DOUBLE) AS s,
         CAST(COALESCE(SUM(CAST(value * value AS DECIMAL(38,12)))
              OVER (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS DOUBLE) AS q
  FROM events
)
SELECT user_id, event_id, value, n_prev,
       CASE WHEN n_prev >= 2 THEN
         (value * n_prev - s) * (value * n_prev - s) * (n_prev - 1.0)
           > 9.0 * n_prev * (q * n_prev - s * s)
       ELSE FALSE END AS is_anomaly
FROM t
""",
    tags=("streaming", "stateful", "udf", "timeseries"),
)
def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 3-sigma anomaly monitor via applyInPandasWithState:
    each event is flagged against its key's running mean/variance so
    the alert fires IN the stream, not in a nightly batch — the live
    twin of the batch q_anomaly_zscore. State per key is three
    scalars (count + two exact decimal moments); the oracle replays
    the identical prior-window test relationally, value-parity down
    to the boolean. At 100 TB of events: state is |active keys| x 3
    scalars, one Arrow round-trip per key group per micro-batch, and
    a watermark ages out idle keys (documented divergence: bounded
    replay runs without one)."""
    s = replay_events(spark, sf_dir)
    out = s.groupBy("user_id").applyInPandasWithState(
        _anomaly_fold,
        outputStructType=(
            "user_id long, event_id long, value double, n_prev long, "
            "is_anomaly boolean"
        ),
        stateStructType="n long, s string, q string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_table(out, "append", spark)


# -- streaming exact distinct via bitmap state ------------------------------


@register(
    "q_stream_bitmap_distinct",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
    tags=("streaming", "agg", "bitmap"),
)
def q_stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per hourly window, maintained LIVE: the
    streaming aggregation state is one fixed-32KB bitmap per
    (window, type, id-bucket) — each micro-batch ORs new ids in, so
    state size is bounded by the id domain, not the event count, and
    never re-expands history the way a streaming COUNT(DISTINCT)
    dedup-set would. The popcount rollup over bucket bitmaps is
    read-side presentation on the tiny materialized state (batch
    q_bitmap_distinct is the same two-level pattern). Production:
    update mode + watermark closes old windows and ages their
    bitmaps out of the store."""
    s = replay_events(spark, sf_dir)
    agg = s.groupBy(
        F.window("ts", "1 hour").alias("w"),
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
            "bm"
        )
    )
    tbl = run_to_table(agg, "complete", spark)
    return tbl.groupBy(
        F.col("w.start").alias("window_start"), "event_type"
    ).agg(F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_users"))


# -- transformWithState: typed ListState ------------------------------------


class _RecentEventsProcessor(StatefulProcessor):
    """transformWithState processor holding each user's LAST-3 events
    in a typed ListState — the bounded-buffer shape (recent-activity
    feeds, small replay caches) that ValueState can't express and
    applyInPandasWithState forces into one opaque blob. The list is
    merged, sorted, truncated per batch, so state stays 3 rows per
    key forever."""

    def init(self, handle) -> None:
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        self._recent = handle.getListState(
            "recent",
            StructType(
                [
                    StructField("event_id", LongType()),
                    StructField("value", DoubleType()),
                ]
            ),
        )
        # strictly-increasing per-key emission counter: the read-out
        # collapses to the LATEST emission, and the max event_id it
        # used to key on is monotone but NOT strictly (a later batch
        # adding only smaller ids ties, and max_by picks arbitrarily
        # among ties — r12 reviewer)
        self._ver = handle.getValueState(
            "ver", StructType([StructField("v", LongType())])
        )

    def handleInputRows(self, key, rows, timerValues):
        cur = [(int(r[0]), float(r[1])) for r in self._recent.get()]
        for pdf in rows:
            cur.extend(
                (int(i), float(v))
                for i, v in zip(pdf["event_id"], pdf["value"])
            )
        cur.sort()
        cur = cur[-3:]
        self._recent.put([(i, v) for i, v in cur])
        ver = (self._ver.get()[0] + 1) if self._ver.exists() else 1
        self._ver.update((ver,))
        total = 0.0
        for _, v in cur:  # ascending event_id: same fold as the oracle
            total = total + v
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "ver": [ver],
                "n_recent": [len(cur)],
                "recent_ids": [",".join(str(i) for i, _ in cur)],
                "recent_sum": [total],
            }
        )

    def close(self) -> None:
        pass


def q_stream_transform_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-3 events per user via transformWithState ListState (see
    _RecentEventsProcessor). The sink is collapsed to the last emission per
    user (largest trailing id in ``recent_ids`` — the max event_id
    seen so far, monotone across batches) so a multi-file fixture's
    per-batch cumulative re-emissions can't leave stale rows."""
    # NULL grouping keys are excluded from every tws query — the
    # pyspark tws key grouping is partition-layout-dependent for a
    # NULL key (see the _TWS_ORACLE note); the oracle filters too
    s = replay_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    out = s.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RecentEventsProcessor(),
        outputStructType=(
            "user_id long, ver long, n_recent long, "
            "recent_ids string, recent_sum double"
        ),
        outputMode="Update",
        timeMode="None",
    )
    tbl = run_to_table(out, "update", spark)
    # collapse on the strictly-increasing emission counter (see the
    # processor): the latest emission per key, never an id tie
    latest = tbl.groupBy("user_id").agg(
        F.max_by(
            F.struct("n_recent", "recent_ids", "recent_sum"),
            F.col("ver"),
        ).alias("s")
    )
    return latest.select(
        "user_id", "s.n_recent", "s.recent_ids", "s.recent_sum"
    )


_TWS_LIST_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY event_id DESC) AS rk
  FROM events
  WHERE user_id IS NOT NULL
),
last3 AS (SELECT user_id, event_id, value FROM ranked WHERE rk <= 3)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_recent,
       string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id)
         AS recent_ids,
       list_reduce(list_prepend(
         0.0, list(value ORDER BY event_id)), (x, y) -> x + y)
         AS recent_sum
FROM last3
GROUP BY user_id
"""

if protobuf_shim.available():  # pragma: no cover - depends on environment
    register(
        "q_stream_transform_list",
        oracle=_TWS_LIST_ORACLE,
        tags=("streaming", "stateful", "udf"),
    )(q_stream_transform_list)


# -- transformWithState: typed MapState -------------------------------------


class _TypeCountsProcessor(StatefulProcessor):
    """transformWithState processor keeping per-user event-type
    counts in a typed MapState — the keyed-substate shape (counters
    per category, per-device cursors) that completes the typed-state
    triad next to ValueState (q_stream_transform_state) and
    ListState (q_stream_transform_list). State grows with DISTINCT
    types per user, not events."""

    def init(self, handle) -> None:
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        self._counts = handle.getMapState(
            "type_counts",
            StructType([StructField("event_type", StringType())]),
            StructType([StructField("n", LongType())]),
        )

    def handleInputRows(self, key, rows, timerValues):
        # the map key is a STRING state column, so a NULL event_type
        # is encoded behind a bijective prefix ("n" = the NULL type,
        # "t"+type otherwise): str(None) would mint a phantom 'None'
        # type and sorted() cannot compare None to str
        # (hostile-sweep v5 find)
        for pdf in rows:
            for et in pdf["event_type"]:
                k = ("n",) if et is None else ("t" + str(et),)
                cur = (
                    self._counts.getValue(k)[0]
                    if self._counts.containsKey(k)
                    else 0
                )
                self._counts.updateValue(k, (cur + 1,))
        items = sorted(
            (k[0], v[0]) for k, v in self._counts.iterator()
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(items),
                "event_type": [
                    None if t == "n" else t[1:] for t, _ in items
                ],
                "n_events": [n for _, n in items],
            }
        )

    def close(self) -> None:
        pass


def q_stream_transform_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, event-type) counts via transformWithState MapState
    (see _TypeCountsProcessor); emitted per batch from the map, so
    the sink holds the complete per-user breakdown after replay.
    Per-(user, type) counts
    are monotone, so the max per key is the final state even when a
    multi-file fixture replays as several batches."""
    # NULL grouping keys are excluded from every tws query — the
    # pyspark tws key grouping is partition-layout-dependent for a
    # NULL key (see the _TWS_ORACLE note); the oracle filters too
    s = replay_events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    out = s.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_TypeCountsProcessor(),
        outputStructType="user_id long, event_type string, n_events long",
        outputMode="Update",
        timeMode="None",
    )
    tbl = run_to_table(out, "update", spark)
    return tbl.groupBy("user_id", "event_type").agg(
        F.max("n_events").alias("n_events")
    )


_TWS_MAP_ORACLE = """
SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
WHERE user_id IS NOT NULL
GROUP BY user_id, event_type
"""

if protobuf_shim.available():  # pragma: no cover - depends on environment
    register(
        "q_stream_transform_map",
        oracle=_TWS_MAP_ORACLE,
        tags=("streaming", "stateful", "udf"),
    )(q_stream_transform_map)


# -- transformWithState: event-time timers ----------------------------------


class _InactivityFlushProcessor(StatefulProcessor):
    """transformWithState processor that emits a user's totals ONLY
    when the user goes quiet: every batch folds rows into ValueState
    and (re)arms an event-time timer 30 minutes past the user's last
    event; nothing is emitted inline. When the watermark passes the
    timer, handleExpiredTimer fires once, emits the summary, and
    clears the state — streamz's 'emit on timeout' idiom, impossible
    to express in applyInPandasWithState without hand-rolling timer
    bookkeeping into the state blob."""

    def init(self, handle) -> None:
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        self._handle = handle
        self._state = handle.getValueState(
            "totals",
            StructType(
                [
                    StructField("n", LongType()),
                    StructField("acc", StringType()),
                    StructField("last_ms", LongType()),
                ]
            ),
        )

    def handleInputRows(self, key, rows, timerValues):
        if self._state.exists():
            n, acc_str, last_ms = self._state.get()
            acc = None if acc_str is None else Decimal(acc_str)
        else:
            n, acc, last_ms = 0, None, 0
        for pdf in rows:
            for v in pdf["value"]:
                # pandas renders a NULL double as NaN: the oracle is
                # COUNT(*) + NULL-skipping dsum, so count every row
                # but keep NULLs out of the fold (micro6 raises on
                # NaN by contract; v2 hostile streaming sweep find).
                # acc None == SQL SUM over zero non-NULL values.
                if pd.notna(v):
                    acc = (acc or Decimal(0)) + micro6(float(v))
                n += 1
            batch_max = pdf["ts_evt"].max()
            ms = int(batch_max.value // 1_000_000)
            # re-arm from the MAX over every batch seen, not just
            # this one (r12 reviewer): a cross-batch out-of-order
            # arrival must not pull the inactivity deadline BACK
            last_ms = max(last_ms, ms)
        self._state.update((n, None if acc is None else str(acc), last_ms))
        for t in self._handle.listTimers():
            self._handle.deleteTimer(t)
        self._handle.registerTimer(last_ms + 30 * 60 * 1000)
        return iter(())

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        if self._state.exists():
            n, acc_str, _ = self._state.get()
            self._state.clear()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [
                        None if acc_str is None else float(Decimal(acc_str))
                    ],
                }
            )

    def close(self) -> None:
        pass


def q_stream_transform_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user totals emitted ONLY on 30-minute inactivity, via
    transformWithState EVENT-TIME TIMERS (see
    _InactivityFlushProcessor). The replay stages a far-future flush
    row so the final watermark expires every armed timer — each real
    user emits exactly once; the flush row's own key is dropped
    after the stateful operator (filtering it before would also
    remove it from the watermark node, the documented pushdown
    trap)."""
    from streamz_postgres_spark.streaming.runner import (
        run_to_parquet_resumed,
        staged_replay_with_flush,
    )

    with staged_replay_with_flush(spark, sf_dir) as s:
        micros = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
        src = (
            # NULL tws grouping keys excluded, see the _TWS_ORACLE note
            s.filter(F.col("user_id").isNotNull())
            .withColumn("ts_evt", F.timestamp_micros(micros))
            .withWatermark("ts_evt", "0 seconds")
        )
        out = src.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_InactivityFlushProcessor(),
            outputStructType="user_id long, n_events long, sum_value double",
            outputMode="Update",
            timeMode="EventTime",
        ).filter(
            # drop the staged flush sentinel (negative uid);
            # NULL keys never reach here — excluded upstream per
            # the tws NULL-key boundary (_TWS_ORACLE note)
            F.col("user_id") >= 0
        )
        # two availableNow runs over one checkpoint: the second
        # fires any timer whose end-of-stream expiry batch lost
        # the termination race (observed ~1/10 under load);
        # state checkpointing keeps the union exactly-once.
        # Sink mode is append (parquet supports nothing else);
        # the operator's Update mode is independent. The
        # read-out SUMS per-user rows instead of assuming one:
        # a replay split with a >30-minute intra-user event-time
        # gap legitimately fires the inactivity flush mid-stream
        # and the user re-accumulates — two disjoint SEGMENTS
        # whose totals add to the full history (one row per
        # user remains the in-order single-gap case). Segment
        # sums re-quantize through the micro6
        # rule so the double addition stays exact.
        raw = run_to_parquet_resumed(out, "append", spark)
        return raw.groupBy("user_id").agg(
            F.sum("n_events").alias("n_events"),
            (
                F.sum(
                    F.floor(
                        F.col("sum_value") * F.lit(1e6)
                        + F.lit(0.5)
                    ).cast("decimal(38,0)")
                ).cast("double")
                / F.lit(1e6)
            ).alias("sum_value"),
        )


if protobuf_shim.available():  # pragma: no cover - depends on environment
    register(
        "q_stream_transform_timers",
        oracle=_TWS_ORACLE,
        tags=("streaming", "stateful", "udf", "watermark"),
    )(q_stream_transform_timers)


# -- transformWithState: initial state bootstrap -----------------------------


class _WarmStartTotalsProcessor(StatefulProcessor):
    """transformWithState processor warm-started from a batch
    snapshot: handleInitialState seeds each key's ValueState with
    pre-aggregated (count, exact decimal sum) BEFORE the first
    micro-batch, then handleInputRows folds live rows on top — the
    snapshot + incremental pattern every CDC consumer and metric
    backfill needs (rebuild state from the warehouse, then tail the
    stream). Emission happens on input, so pair with timers for keys
    that may never appear in the stream."""

    def init(self, handle) -> None:
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        self._state = handle.getValueState(
            "totals",
            StructType(
                [
                    StructField("n", LongType()),
                    StructField("acc", StringType()),
                ]
            ),
        )

    def handleInitialState(self, key, initialState, timerValues) -> None:
        # arrives as a 1-row pandas frame (or a Row, per the API
        # union) — extract scalars either way. The seed arrives in
        # MICRO-UNITS (an integer string) and scales here exactly
        # like functions.numeric.micro6 — the batch side must NOT
        # use cast('decimal(38,6)'), whose shortest-string HALF_UP
        # rounding diverges from the floor rule near 5e-7 ties
        # (r12 reviewer; the round-6 finding numeric.py documents).
        n, acc = initialState["n"], initialState["acc"]
        if hasattr(n, "iloc"):
            n, acc = n.iloc[0], acc.iloc[0]
        # a seed user whose snapshot values are ALL NULL carries a
        # NULL micro-unit sum (SQL SUM semantics) — keep it NULL
        seed = (
            None
            if acc is None or (isinstance(acc, float) and pd.isna(acc))
            else str(Decimal(str(acc)).scaleb(-6))
        )
        self._state.update((int(n), seed))

    def handleInputRows(self, key, rows, timerValues):
        if self._state.exists():
            n, acc_str = self._state.get()
            acc = None if acc_str is None else Decimal(acc_str)
        else:
            n, acc = 0, None
        for pdf in rows:
            for v in pdf["value"]:
                # pandas renders a NULL double as NaN: the oracle is
                # COUNT(*) + NULL-skipping dsum, so count every row
                # but keep NULLs out of the fold (micro6 raises on
                # NaN by contract; v2 hostile streaming sweep find).
                # acc None == SQL SUM over zero non-NULL values.
                if pd.notna(v):
                    acc = (acc or Decimal(0)) + micro6(float(v))
                n += 1
        self._state.update((n, None if acc is None else str(acc)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [None if acc is None else float(acc)],
            }
        )

    def close(self) -> None:
        pass


def q_stream_transform_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot + incremental totals via transformWithState
    initialState (see _WarmStartTotalsProcessor): 'historical' events
    (event_id % 10 < 3) are aggregated in ONE batch job whose exact
    decimal sums seed the state, and only the remaining rows flow
    through the stream — yet the emitted totals equal a full-history
    aggregation, which is exactly what the oracle checks. Keys whose
    events ALL fell in the snapshot partition never enter the stream,
    so the processor (which emits on input) never surfaces them; the
    read side unions their seeded totals back in via a left-anti join
    — the snapshot-∪-live serving pattern — so parity holds for ANY
    fixture, not just ones where every user has a live row."""
    hist = (
        load_table(spark, sf_dir, "events")
        # seed side matches the stream's NULL-tws-key exclusion
        .filter((F.col("event_id") % 10 < 3) & F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # micro-unit floor quantization — the dsum rule — so the
            # seed matches the processor's micro6 fold and the
            # sql_dsum oracle bit-for-bit (cast('decimal(38,6)')
            # rounds Java's shortest string, a DIFFERENT rule)
            F.sum(
                F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
                .cast("decimal(38,0)")
            )
            .cast("string")
            .alias("acc"),
        )
    )
    s = replay_events(spark, sf_dir).filter(
        # NULL tws grouping keys excluded, see the _TWS_ORACLE note
        (F.col("event_id") % 10 >= 3) & F.col("user_id").isNotNull()
    )
    out = s.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_WarmStartTotalsProcessor(),
        outputStructType="user_id long, n_events long, sum_value double",
        outputMode="Update",
        timeMode="None",
        initialState=hist.groupBy("user_id"),
    )
    streamed = _latest_totals(run_to_table(out, "update", spark))
    # snapshot-only keys: serve the seed directly (same decimal->
    # double conversion the processor applies on emission)
    absent = hist.join(
        # null-safe anti: the NULL-user group is a real key on BOTH
        # sides — a plain `=` anti join can never match it, so the
        # seed row would duplicate the streamed row
        # (hostile-sweep v5 find)
        streamed,
        hist["user_id"].eqNullSafe(streamed["user_id"]),
        "left_anti",
    ).select(
        "user_id",
        F.col("n").alias("n_events"),
        # micro-units -> double, the dsum read-out form
        (
            F.col("acc").cast("decimal(38,0)").cast("double")
            / F.lit(1e6)
        ).alias("sum_value"),
    )
    return streamed.unionByName(absent)


if protobuf_shim.available():  # pragma: no cover - depends on environment
    register(
        "q_stream_transform_init",
        oracle=_TWS_ORACLE,
        tags=("streaming", "stateful", "udf", "cdc"),
    )(q_stream_transform_init)



# -- transformWithState: streaming exact percentiles via ListState ----------


class _PercentileProcessor(StatefulProcessor):
    """transformWithState processor maintaining each event-type's
    full value multiset in a typed ListState and emitting exact
    p50/p90 per micro-batch. Percentile indices are PURE INTEGER
    arithmetic over the sorted multiset — value at zero-based index
    (n-1)//2 resp. ((n-1)*9)//10 — never float interpolation, whose
    lower+(hi-lo)*frac vs (lo+hi)/2 formulas differ in the last bit
    across engines.

    State is the full per-key multiset, appended (not rewritten)
    each batch: exact streaming percentiles fundamentally need the
    multiset. At 100 TB this is the documented trade; the BOUNDED
    production twin is q_stream_percentile_windowed (same exact
    read-out over per-hour windows, state evicted by the watermark),
    with this unbounded variant retained as the whole-stream
    correctness baseline."""

    def init(self, handle) -> None:
        from pyspark.sql.types import (
            DoubleType,
            StructField,
            StructType,
        )

        # value-only state: each element is exactly the 8 bytes the
        # percentile needs — order comes from sorting, never arrival
        self._vals = handle.getListState(
            "vals",
            StructType([StructField("value", DoubleType())]),
        )

    def handleInputRows(self, key, rows, timerValues):
        cur = [float(r[0]) for r in self._vals.get()]
        fresh = []
        for pdf in rows:
            # NULL doubles arrive as NaN: order statistics are over
            # the NON-NULL values (SQL convention — the oracle
            # list()+COUNT(value) FILTERs them; v2 hostile find)
            fresh.extend((float(v),) for v in pdf["value"] if pd.notna(v))
        self._vals.appendList(fresh)
        cur.extend(v for (v,) in fresh)
        cur.sort()
        n = len(cur)
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_events": [n],
                "p50": [cur[(n - 1) // 2] if n else None],
                "p90": [cur[((n - 1) * 9) // 10] if n else None],
            }
        )

    def close(self) -> None:
        pass


def q_stream_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE exact p50/p90 per event type via transformWithState
    ListState (see _PercentileProcessor): each micro-batch appends
    its values to the key's multiset and re-reads the exact order
    statistics — the latency-dashboard shape where approximate
    sketches need a correctness baseline. The sink is collapsed to
    the last emission per key (n_events is monotone across batches),
    so multi-file fixtures can't leave stale rows."""
    # NULL tws grouping keys excluded, see the _TWS_ORACLE note
    s = replay_events(spark, sf_dir).filter(
        F.col("event_type").isNotNull()
    )
    out = s.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=_PercentileProcessor(),
        outputStructType=(
            "event_type string, n_events long, p50 double, p90 double"
        ),
        outputMode="Update",
        timeMode="None",
    )
    tbl = run_to_table(out, "update", spark)
    latest = tbl.groupBy("event_type").agg(
        F.max_by(F.struct("n_events", "p50", "p90"), F.col("n_events")).alias(
            "s"
        )
    )
    return latest.select("event_type", "s.n_events", "s.p50", "s.p90")


_TWS_PCTL_ORACLE = """
WITH s AS (
  -- NON-NULL order statistics (the q_kll_quantile convention):
  -- DuckDB's list() keeps NULLs, the processor's pandas column
  -- renders them NaN — both sides now FILTER/skip and count
  -- COUNT(value) (v2 hostile streaming sweep find)
  SELECT event_type,
         list(value ORDER BY value) FILTER (value IS NOT NULL) AS vals,
         COUNT(value) AS n_events
  FROM events
  WHERE event_type IS NOT NULL
  GROUP BY event_type
)
SELECT event_type, n_events,
       vals[CAST((n_events - 1) // 2 AS BIGINT) + 1] AS p50,
       vals[CAST(((n_events - 1) * 9) // 10 AS BIGINT) + 1] AS p90
FROM s
"""

if protobuf_shim.available():  # pragma: no cover - depends on environment
    register(
        "q_stream_percentile",
        oracle=_TWS_PCTL_ORACLE,
        tags=("streaming", "stateful", "udf", "stats"),
    )(q_stream_percentile)


# -- streaming KLL quantile sketch (bounded rank error, self-calibrating) ----


@register(
    "q_stream_kll_quantile",
    oracle=oracle_of("q_kll_quantile"),
    tags=("streaming", "stateful", "stats", "sketch"),
)
def q_stream_kll_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-RANK-ERROR streaming percentiles (round-6 verdict #3,
    upgrading the log2-histogram's bucket-relative error): Spark's
    native KLL sketch (functions/kll.py, k = 256) per event type as
    an ordinary complete-mode streaming aggregate, so the state store
    holds one binary sketch of O(k log n) items per type, merged
    with each micro-batch's partial sketch. The sketch is randomized,
    so the estimate itself is not cross-engine checkable; instead the
    query is SELF-CALIBRATING in the q_kmv_distinct pattern: it reads
    the final sketch, ranks its p50/p90 answers against the exact
    value multiset, and emits the exact order statistics
    (value-checked against the oracle) plus in-bound flags asserting
    |realized rank - target rank| <= ceil(epsilon * n), with epsilon
    the library's 99%-confidence rank error, and a state-cap flag
    asserting size <= k*(2+ceil(log2(2n/k))) — a sketch bug flips a
    flag and fails the hash gate. The exact side exists only to AUDIT
    the sketch (the q_ann_recall shape); the 100 TB consumer reads
    the sketch alone, whose per-key state is a few KB forever and
    whose partials merge like any mergeable aggregate."""
    s = replay_events(spark, sf_dir)
    agg = s.groupBy("event_type").agg(kll_sketch("value").alias("sk"))
    tbl = run_to_table(agg, "complete", spark)
    return calibrated_readout(
        sketch_estimates(tbl), load_table(spark, sf_dir, "events")
    )


# -- streaming TWAP -----------------------------------------------------------


def _twap_fold(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-type duration emitter: state is the OPEN observation
    (epoch seconds, value); each arrival closes the previous one and
    emits its (value, held-for-duration) increment. The open tail
    stays in state and never emits — exactly the batch TWAP's
    exclusion of the final open-ended observation, which is what
    keeps the read-out equal to the batch aggregate."""
    import numpy as np

    if state.exists:
        last_x, last_v = state.get
    else:
        last_x, last_v = None, None
    pdf = (
        pd.concat(list(batches), ignore_index=True)
        .sort_values(["x", "event_id"])
        .reset_index(drop=True)
    )
    xs = pdf["x"].to_numpy(dtype="int64")
    vs = pdf["value"].to_numpy(dtype="float64")
    # vectorized: prepend the open observation, close everything but
    # the new tail (np.diff of exact int64 epochs + a value shift —
    # value-identical to the per-row loop, ~10x faster per batch)
    if last_x is not None:
        if len(xs) and int(xs[0]) < int(last_x):
            # ENFORCED in-order contract (r12 reviewer): the O(1)
            # open-observation state has already emitted the closed
            # increments, so an arrival EARLIER than the open
            # observation cannot be merged retroactively — a silent
            # negative duration would corrupt the TWAP. The pattern
            # folds merge-sort full history instead; this fold's
            # whole point is two scalars of state, so it refuses
            # disorder rather than faking it (same rule as the
            # MATCH_RECOGNIZE tie guard).
            raise ValueError(
                "q_stream_twap: cross-batch out-of-order arrival "
                f"(epoch-second {int(xs[0])} precedes the open "
                f"observation at {int(last_x)}) — replay in "
                "event-time order, or use batch q_twap for late "
                "data"
            )
        xs = np.concatenate(([last_x], xs))
        vs = np.concatenate(([last_v], vs))
    state.update((int(xs[-1]), float(vs[-1])))
    yield pd.DataFrame(
        {
            "event_type": pd.Series(
                [key[0]] * max(len(xs) - 1, 0), dtype="object"
            ),
            "value": pd.Series(vs[:-1], dtype="float64"),
            "dur": pd.Series(np.diff(xs), dtype="int64"),
        }
    )


def q_stream_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE time-weighted average: the stream holds ONE open
    observation per type in state; each arrival closes it, emitting
    the (value, duration) increment, and the read-out folds the
    increments into the same n_obs / total_dur / twap / plain_avg
    row as batch q_twap — a continuously-correct TWAP ticker whose
    state is two scalars per instrument regardless of history
    length. Exactness: durations are aligned-epoch-second bigints,
    the weighted sum rides the micro-unit dsum, one final division —
    so the stream's aggregate equals the batch key bit-for-bit (the
    oracle IS batch q_twap's)."""
    from streamz_postgres_spark.functions.numeric import dsum

    s = replay_events(spark, sf_dir)
    x = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
    )
    typed = s.select(
        "event_type", "event_id", "value", x.alias("x")
    )
    out = typed.groupBy("event_type").applyInPandasWithState(
        _twap_fold,
        outputStructType="event_type string, value double, dur long",
        stateStructType="x long, v double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    tbl = run_to_table(out, "append", spark)
    return (
        tbl.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
            F.sum("dur").cast("bigint").alias("total_dur"),
            (
                dsum(F.col("value") * F.col("dur").cast("double"))
                / F.sum("dur").cast("bigint").cast("double")
            ).alias("twap"),
            (dsum("value") / F.count(F.lit(1))).alias("plain_avg"),
        )
        .orderBy("event_type")
    )


register(
    "q_stream_twap",
    oracle=oracle_of("q_twap"),
    tags=("streaming", "stateful", "timeseries"),
)(q_stream_twap)


# -- streaming sequence-pattern matching --------------------------------------

_SEQ_PATTERNS = (
    ("converted", r"v.*c.*p"),
    ("error_after_purchase", r"p.*e"),
    ("view_burst", r"vvv"),
)


def _seq_match_fold(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user accumulated initials string; each batch appends its
    (sorted) arrivals and re-emits the user's CURRENT pattern flags —
    the live conversion/incident detector. State is 1 byte per event
    (window by session/month at scale, as the batch twin documents);
    flags are recomputed on the full string so the latest emission
    always equals the batch answer over everything seen.

    ORDERING ASSUMPTION (deliberate, unlike _pattern_measures_fold):
    arrivals are sorted within a batch only, so cross-batch
    out-of-order events would land out of event-time order in the
    string. The bounded replay harness feeds batches in file order
    (in-order by construction), and the three flag patterns here are
    subsequence/run tests whose value the read-out takes at max
    seq_len; for order-sensitive production use, carry (x, event_id)
    in state and merge-sort per batch as _pattern_measures_fold
    does."""
    import re as _re

    s, n = state.get if state.exists else ("", 0)
    pdf = (
        pd.concat(list(batches), ignore_index=True)
        .sort_values(["x", "event_id"])
        .reset_index(drop=True)
    )
    # skip None initials: a NULL event_type has no initial, exactly
    # as the batch oracle's string_agg skips NULL inputs — but
    # seq_len counts EVERY row (the oracle's COUNT(*)), so it is a
    # separate state counter, not len(s) (hostile-sweep v5 find)
    s = s + "".join(c for c in pdf["ch"].tolist() if c is not None)
    n += len(pdf)
    state.update((s, n))
    flags = {
        name: 1 if _re.search(pat, s) else 0
        for name, pat in _SEQ_PATTERNS
    }
    yield pd.DataFrame(
        {
            "user_id": pd.Series([key[0]], dtype="Int64"),
            "seq_len": pd.Series([n], dtype="int64"),
            "converted": pd.Series([flags["converted"]], dtype="int32"),
            "error_after_purchase": pd.Series(
                [flags["error_after_purchase"]], dtype="int32"
            ),
            "view_burst": pd.Series([flags["view_burst"]], dtype="int32"),
            "n_purchases": pd.Series([s.count("p")], dtype="int64"),
        }
    )


def q_stream_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE sequence-pattern matching (streaming twin of
    q_sequence_match): each arrival appends its event initial to the
    user's accumulated string in state and the current flags re-emit
    — conversion and error-after-purchase incidents surface the
    moment the completing event arrives, not at the nightly batch.
    Per-batch re-emissions collapse read-side to the LATEST snapshot
    per user (max_by on the monotone seq_len — the house update-mode
    rule), which equals the batch answer exactly; the oracle IS the
    batch key's."""
    s = replay_events(spark, sf_dir)
    x = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
    )
    typed = s.select(
        "user_id",
        "event_id",
        x.alias("x"),
        F.expr("substring(event_type, 1, 1)").alias("ch"),
    )
    out = typed.groupBy("user_id").applyInPandasWithState(
        _seq_match_fold,
        outputStructType="user_id long, seq_len long, converted int, "
        "error_after_purchase int, view_burst int, n_purchases long",
        stateStructType="s string, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    tbl = run_to_table(out, "update", spark)
    snap = F.struct(
        "seq_len",
        "converted",
        "error_after_purchase",
        "view_burst",
        "n_purchases",
    )
    return (
        tbl.groupBy("user_id")
        .agg(F.max_by(snap, "seq_len").alias("t"))
        .select(
            "user_id",
            F.col("t.seq_len").alias("seq_len"),
            F.col("t.converted").alias("converted"),
            F.col("t.error_after_purchase").alias("error_after_purchase"),
            F.col("t.view_burst").alias("view_burst"),
            F.col("t.n_purchases").alias("n_purchases"),
        )
        .orderBy("user_id")
    )


register(
    "q_stream_sequence_match",
    oracle=oracle_of("q_sequence_match"),
    tags=("streaming", "stateful", "sequence"),
)(q_stream_sequence_match)


# -- streaming per-match MEASURES (live MATCH_RECOGNIZE read-out) -------------

#: the same canonical pattern q_pattern_measures registers (symbols
#: classified identically); Python re scans non-overlapping
#: left-to-right exactly like Java/RE2, so match positions agree
_STREAM_MR_PATTERN = r"VC{0,2}P"

#: q_pattern_overlap's pattern, wrapped in a lookahead for the
#: overlapping (SKIP TO NEXT ROW) enumeration — legal in Python re
#: (the batch lowering can't use it: RE2/DuckDB refuses `(?=`)
_STREAM_MR_OVERLAP_LOOKAHEAD = r"(?=((V|C){1,3}P))"


def _pattern_measures_fold(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user accumulated (epoch-micros, event_id, symbol) triples;
    each batch MERGES its arrivals into the accumulated sequence and
    re-sorts by (x, event_id), so CROSS-BATCH out-of-order arrivals
    land in event-time order and the fold equals the batch oracle
    regardless of how the replay slices the file (r10 advisor: the
    old append-only fold assumed in-order batches). Every batch
    re-emits ALL current matches with positions — the live Flink-CEP
    shape — and because a late arrival can insert MID-string
    (renumbering or reshaping matches), the read-out collapses to
    the latest FULL snapshot per user (rows at max seq_len), not to
    per-(user, match_no) maxima. State is ~17 bytes per event
    (symbol char + two int64s), unbounded under
    GroupStateTimeout.NoTimeout by design for the bounded replay; in
    production, window by session/month (partition the symbol stream
    on a time bucket) or arm EventTimeTimeout so quiet users age
    out — the batch twin documents the same bound."""
    return _mr_fold(key, batches, state, _mr_nonoverlap_matches)


def _mr_nonoverlap_matches(s: str) -> list:
    """Non-overlapping left-to-right (start, length) matches — the
    SKIP PAST LAST ROW scan, identical on Python/Java/RE2."""
    import re as _re

    return [
        (m.start(), m.end() - m.start())
        for m in _re.finditer(_STREAM_MR_PATTERN, s)
    ]


def _mr_overlap_matches(s: str) -> list:
    """OVERLAPPING (start, length) matches — the SKIP TO NEXT ROW
    enumeration: one match per position where an anchored match
    begins. Python re DOES support lookahead (unlike RE2), and a
    zero-width finditer hit advances by one — exactly the
    every-starting-row scan; group 1 carries the extent the
    leftmost-first engine picks at that position, agreeing with the
    batch key's per-position '^pattern' probe on both engines."""
    import re as _re

    return [
        (m.start(), len(m.group(1)))
        for m in _re.finditer(_STREAM_MR_OVERLAP_LOOKAHEAD, s)
    ]


def _mr_merge(
    batches: Iterator[pd.DataFrame], state: GroupState
) -> tuple:
    """Merge this batch's arrivals into the accumulated per-user
    (epoch-micros, event_id, symbol) triples and re-sort by
    (x, event_id) — the cross-batch out-of-order contract every
    pattern fold shares (r10 advisor). Updates state; returns the
    merged (xs, eids, s)."""
    import heapq

    # the stored triples are ALWAYS (x, event_id)-sorted (this
    # function is their only writer), so each batch needs one
    # O(b log b) sort of the ARRIVALS plus a linear merge — not the
    # O(n log n) full-history re-sort the old code ran per batch
    # (r12 reviewer: a long-lived key's fold got slower every batch)
    old = (
        []
        if not state.exists
        else list(zip(state.get[0], state.get[1], state.get[2]))
    )
    pdf = pd.concat(list(batches), ignore_index=True)
    arrivals = sorted(
        zip(
            pdf["x"].tolist(),
            pdf["event_id"].tolist(),
            pdf["ch"].tolist(),
        )
    )
    merged = list(heapq.merge(old, arrivals))
    xs = [m[0] for m in merged]
    eids = [m[1] for m in merged]
    s = "".join(m[2] for m in merged)
    state.update((xs, eids, s))
    return xs, eids, s


def _mr_fold(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
    matches_fn,
) -> Iterator[pd.DataFrame]:
    """Shared merge-sort + re-emit body for the pattern folds (see
    _pattern_measures_fold's docstring for the ordering and state
    contracts); ``matches_fn(s) -> [(start, length), ...]`` supplies
    the skip-mode-specific enumeration."""
    xs, eids, s = _mr_merge(batches, state)
    rows = []
    for no, (sp, ln) in enumerate(matches_fn(s), start=1):
        rows.append(
            (key[0], len(s), no, ln, xs[sp], xs[sp + ln - 1])
        )
    if rows:
        yield pd.DataFrame(
            {
                "user_id": pd.Series([r[0] for r in rows], dtype="Int64"),
                "seq_len": pd.Series([r[1] for r in rows], dtype="int64"),
                "match_no": pd.Series([r[2] for r in rows], dtype="Int32"),
                "n_rows": pd.Series([r[3] for r in rows], dtype="Int64"),
                "start_x": pd.Series([r[4] for r in rows], dtype="Int64"),
                "end_x": pd.Series([r[5] for r in rows], dtype="Int64"),
            }
        )
    else:
        # ZERO matches at the CURRENT state: emit one NULL-marker
        # row carrying the new seq_len (r12 reviewer find, the whole
        # fold family): a late arrival can DESTROY every match (an
        # insertion that breaks the only run), and emitting nothing
        # would leave the latest-full-snapshot collapse resurrecting
        # the stale smaller-seq_len match set. The read-out keeps
        # rows at max seq_len then drops NULL match_no, so a
        # matches-became-none user correctly ends with no rows —
        # the batch oracle's zero-match contract.
        yield _mr_empty_marker(
            key[0],
            len(s),
            [
                ("match_no", "Int32"),
                ("n_rows", "Int64"),
                ("start_x", "Int64"),
                ("end_x", "Int64"),
            ],
        )


def _mr_empty_marker(
    uid: int, seq_len: int, null_cols: list
) -> pd.DataFrame:
    """One NULL-measure marker row at the current seq_len — the
    'this state has NO matches' signal every pattern fold emits so
    the snapshot collapse cannot resurrect stale matches (nullable
    pandas Int dtypes cross Arrow -> JVM as null ints/longs);
    ``null_cols`` is the fold's (column, pandas dtype) tail.
    user_id is nullable Int64: a NULL grouping key (NaN through
    Arrow) is a legitimate GROUP BY group and must emit, not crash
    (hostile-sweep v5 find)."""
    data = {
        "user_id": pd.Series([uid], dtype="Int64"),
        "seq_len": pd.Series([seq_len], dtype="int64"),
    }
    for name, dt in null_cols:
        data[name] = pd.Series([None], dtype=dt)
    return pd.DataFrame(data)


def q_stream_pattern_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE MATCH_RECOGNIZE MEASURES (streaming twin of
    q_pattern_measures): each arrival appends its classified symbol
    + epoch-micros to the user's state and every CURRENT match
    re-emits with MATCH_NUMBER / COUNT(*) / FIRST/LAST(ts) — the
    view->clicks->purchase run surfaces the moment its completing
    purchase arrives, the Flink-CEP niche with none of the dialect.
    Timestamps ride through the Python boundary as epoch-MICROSECOND
    bigints (exact: TimestampNTZ is micros-precision) and convert
    back in the read-out, so the stream's rows equal the batch key's
    bit-for-bit; per-batch re-emissions collapse to the latest FULL
    snapshot per user (rows at the user's max seq_len — robust to
    late arrivals renumbering matches, unlike a per-match_no max_by).
    The oracle IS the batch key's (DuckDB gaps/matches list
    arithmetic). State: ~17 bytes/event (see the fold's docstring
    for the production windowing bound)."""
    return _stream_pattern_query(spark, sf_dir, _pattern_measures_fold)


def _classified_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared classify stage of the live pattern twins: each
    arrival becomes (user_id, event_id, epoch-micros x, one-char
    symbol ch) — the exact symbol CASE the batch keys register."""
    s = replay_events(spark, sf_dir)
    x = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    return s.select(
        "user_id",
        "event_id",
        x.alias("x"),
        F.expr(
            "CASE WHEN event_type = 'view' THEN 'V' "
            "WHEN event_type = 'click' THEN 'C' "
            "WHEN event_type = 'purchase' THEN 'P' ELSE '-' END"
        ).alias("ch"),
    )


#: the default pattern-twin measure columns: (fold column, output
#: alias, kind) — 'ts' converts epoch-micros back to TimestampNTZ
_MR_DEFAULT_COLS = (
    ("n_rows", "n_rows", "bigint"),
    ("start_x", "start_ts", "ts"),
    ("end_x", "end_ts", "ts"),
)


def _stream_pattern_query(
    spark: SparkSession,
    sf_dir: str,
    fold,
    cols: tuple = _MR_DEFAULT_COLS,
) -> DataFrame:
    """Shared pipeline for ALL the live pattern twins: classify ->
    fold (skip-mode-specific) -> latest-full-snapshot collapse ->
    micros back to TimestampNTZ. ``cols`` is the fold's measure
    tail after the shared (user_id, seq_len, match_no) head — one
    home for the collapse/marker/conversion logic (r12 reviewer:
    the NULL-marker fix had to be hand-replicated into three
    copy-pasted read-outs)."""
    typed = _classified_stream(spark, sf_dir)
    tail = ", ".join(f"{c} long" for c, _, _ in cols)
    out = typed.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=(
            f"user_id long, seq_len long, match_no int, {tail}"
        ),
        stateStructType="xs array<long>, eids array<long>, s string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    tbl = run_to_table(out, "update", spark)
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    latest = Window.partitionBy("user_id")
    sel = [
        F.col("user_id"),
        F.col("match_no").cast("int").alias("match_no"),
    ]
    for c, alias, kind in cols:
        if kind == "ts":
            sel.append(
                F.expr(
                    f"timestampadd(MICROSECOND, {c}, {epoch})"
                ).alias(alias)
            )
        else:
            sel.append(F.col(c).cast("bigint").alias(alias))
    return (
        tbl.withColumn("max_len", F.max("seq_len").over(latest))
        .filter(F.col("seq_len") == F.col("max_len"))
        # NULL match_no = the fold's no-matches marker at that
        # seq_len (r12): dropped AFTER the collapse, so a user whose
        # matches were destroyed by a late arrival ends with no rows
        # instead of a resurrected stale snapshot
        .filter(F.col("match_no").isNotNull())
        .select(*sel)
        .orderBy("user_id", "match_no")
    )


register(
    "q_stream_pattern_measures",
    oracle=oracle_of("q_pattern_measures"),
    tags=("streaming", "stateful", "sequence"),
)(q_stream_pattern_measures)


def _pattern_overlap_fold(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """OVERLAPPING-match variant of _pattern_measures_fold (same
    merge-sorted state and snapshot-re-emit contracts): enumeration
    is one match per starting row — SKIP TO NEXT ROW, live."""
    return _mr_fold(key, batches, state, _mr_overlap_matches)


def q_stream_pattern_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE OVERLAPPING MATCH_RECOGNIZE (streaming twin of
    q_pattern_overlap, completing the skip-mode pair the way
    q_stream_pattern_measures twins the non-overlapping key): every
    1-to-3-engagements-then-purchase run re-emits from EVERY starting
    row the moment its purchase lands — the burst-overlap detector,
    live. The fold's enumeration uses Python re's LOOKAHEAD
    (``(?=(pat))`` + zero-width finditer advance = one probe per
    starting position) — legal here because only Spark's JVM and
    DuckDB's RE2 refuse lookahead, not CPython; positions and extents
    agree with the batch key's per-position anchored probe because
    all three engines are leftmost-first at a fixed position. Same
    merge-sorted state (~17 bytes/event, window by session/month at
    scale), same latest-full-snapshot collapse, same epoch-micros
    boundary crossing; the oracle IS the batch overlap key's (DuckDB
    per-position list arithmetic)."""
    return _stream_pattern_query(spark, sf_dir, _pattern_overlap_fold)


register(
    "q_stream_pattern_overlap",
    oracle=oracle_of("q_pattern_overlap"),
    tags=("streaming", "stateful", "sequence"),
)(q_stream_pattern_overlap)


def _pattern_symbol_fold(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """PER-SYMBOL MEASURES variant of _pattern_measures_fold (same
    merge-sorted state and snapshot-re-emit contracts): for every
    current non-overlapping match, read out COUNT(C.*) /
    FIRST(V.ts) / LAST(C.event_id) by scanning the match span for
    the symbol's positions — attribution is exact because s[p] IS
    the symbol the regex consumed at p (the same argument the batch
    lowering makes). A match with no C rows emits count 0 and a
    NULL event_id (pandas nullable Int64 crosses Arrow as a null
    long) — the SQL:2016 absent-symbol contract, live."""
    xs, eids, s = _mr_merge(batches, state)
    rows = []
    for no, (sp, ln) in enumerate(_mr_nonoverlap_matches(s), start=1):
        span = range(sp, sp + ln)
        pv = [p for p in span if s[p] == "V"]
        pc = [p for p in span if s[p] == "C"]
        rows.append(
            (
                key[0],
                len(s),
                no,
                len(pc),
                xs[pv[0]] if pv else None,
                eids[pc[-1]] if pc else None,
            )
        )
    if rows:
        yield pd.DataFrame(
            {
                "user_id": pd.Series([r[0] for r in rows], dtype="Int64"),
                "seq_len": pd.Series([r[1] for r in rows], dtype="int64"),
                "match_no": pd.Series([r[2] for r in rows], dtype="Int32"),
                "n_clicks": pd.Series([r[3] for r in rows], dtype="Int64"),
                "first_view_x": pd.Series(
                    [r[4] for r in rows], dtype="Int64"
                ),
                "last_click_eid": pd.Series(
                    [r[5] for r in rows], dtype="Int64"
                ),
            }
        )
    else:
        # zero matches at the current state -> NULL marker (see
        # _mr_empty_marker: a late arrival can destroy every match)
        yield _mr_empty_marker(
            key[0],
            len(s),
            [
                ("match_no", "Int32"),
                ("n_clicks", "Int64"),
                ("first_view_x", "Int64"),
                ("last_click_eid", "Int64"),
            ],
        )


def q_stream_pattern_symbol_measures(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE PER-SYMBOL MEASURES (streaming twin of
    q_pattern_symbol_measures, completing the measures trio the way
    the overlap twin completed the skip modes): every
    view->clicks->purchase run re-emits COUNT(C.*) / FIRST(V.ts) /
    LAST(C.event_id) the moment its purchase lands — "how many
    clicks did this conversion take, and which was the last one",
    live. Same merge-sorted state (~17 bytes/event; window by
    session/month at scale), same latest-full-snapshot collapse,
    same epoch-micros boundary crossing; NULL last_click_id rows
    (zero-click conversions) survive the Python->Arrow->JVM round
    trip as null longs. The oracle IS the batch key's (DuckDB
    list_filter per-symbol positions)."""
    return _stream_pattern_query(
        spark,
        sf_dir,
        _pattern_symbol_fold,
        cols=(
            ("n_clicks", "n_clicks", "bigint"),
            ("first_view_x", "first_view_ts", "ts"),
            ("last_click_eid", "last_click_id", "bigint"),
        ),
    )


register(
    "q_stream_pattern_symbol_measures",
    oracle=oracle_of("q_pattern_symbol_measures"),
    tags=("streaming", "stateful", "sequence"),
)(q_stream_pattern_symbol_measures)


def _mr_skip_to_matches(s: str) -> list:
    """(start, length) matches under AFTER MATCH SKIP TO LAST V for
    the VC*V span pattern — the sequential scan, live: re.search
    from the resume position IS "leftmost match starting at or after
    r" (the standard's scan), and the resume row is the match's last
    V (= its final row for this pattern), INCLUSIVE, so the closing
    view of one span opens the next — matches chain exactly like the
    batch fold's aggregate() enumeration. The SQL:2016 runtime-error
    arms (absent symbol / resume-at-match-start) are structurally
    unreachable here: the pattern ENDS with the skip symbol and is
    >= 2 rows, so the resume row is always the match end and always
    past the start — same argument the batch key's docstring makes."""
    import re as _re

    pat = _re.compile(r"VC*V")
    out = []
    r = 0
    while True:
        m = pat.search(s, r)
        if m is None:
            return out
        sp, ln = m.start(), m.end() - m.start()
        out.append((sp, ln))
        r = sp + ln - 1  # the match's last V, inclusive


def _pattern_skip_to_fold(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """SKIP TO LAST V variant of the pattern folds (same merge-sorted
    state and latest-full-snapshot contracts): chained view-to-view
    spans re-emit the moment their closing view lands, with the
    in-span click count (per-symbol COUNT(C.*), the span scan)."""
    xs, eids, s = _mr_merge(batches, state)
    rows = []
    for no, (sp, ln) in enumerate(_mr_skip_to_matches(s), start=1):
        span = s[sp : sp + ln]
        rows.append(
            (
                key[0],
                len(s),
                no,
                ln,
                span.count("C"),
                xs[sp],
                xs[sp + ln - 1],
            )
        )
    if rows:
        yield pd.DataFrame(
            {
                "user_id": pd.Series([r[0] for r in rows], dtype="Int64"),
                "seq_len": pd.Series([r[1] for r in rows], dtype="int64"),
                "match_no": pd.Series([r[2] for r in rows], dtype="Int32"),
                "n_rows": pd.Series([r[3] for r in rows], dtype="Int64"),
                "n_clicks": pd.Series([r[4] for r in rows], dtype="Int64"),
                "start_x": pd.Series([r[5] for r in rows], dtype="Int64"),
                "end_x": pd.Series([r[6] for r in rows], dtype="Int64"),
            }
        )
    else:
        # zero matches at the current state -> NULL marker (see
        # _mr_empty_marker: a late arrival can destroy every match)
        yield _mr_empty_marker(
            key[0],
            len(s),
            [
                ("match_no", "Int32"),
                ("n_rows", "Int64"),
                ("n_clicks", "Int64"),
                ("start_x", "Int64"),
                ("end_x", "Int64"),
            ],
        )


def q_stream_pattern_skip_to(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE ``AFTER MATCH SKIP TO LAST <symbol>`` (streaming twin of
    q_pattern_skip_to, completing the skip-mode trio live the way
    the overlap twin completed the pair): chained view-to-view
    engagement spans re-emit the moment their closing view lands —
    and because SKIP TO LAST V resumes AT that view, the same
    arrival that CLOSES one span OPENS the next, the semantics only
    this skip mode has. The fold's sequential re.search-from-resume
    scan is exactly the standard's leftmost-at-or-after-r match
    search (the batch aggregate() fold's enumeration, in Python);
    same merge-sorted state (~17 bytes/event, window by
    session/month at scale), same latest-full-snapshot collapse,
    same epoch-micros boundary crossing. The oracle IS the batch
    key's DuckDB RECURSIVE CTE."""
    return _stream_pattern_query(
        spark,
        sf_dir,
        _pattern_skip_to_fold,
        cols=(
            ("n_rows", "n_rows", "bigint"),
            ("n_clicks", "n_clicks", "bigint"),
            ("start_x", "start_ts", "ts"),
            ("end_x", "end_ts", "ts"),
        ),
    )


register(
    "q_stream_pattern_skip_to",
    oracle=oracle_of("q_pattern_skip_to"),
    tags=("streaming", "stateful", "sequence"),
)(q_stream_pattern_skip_to)
