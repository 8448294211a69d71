"""CDC consumer queries (driving sources/cdc.py) and live dimension
maintenance: envelope round-trip, latest-wins apply with deletes,
snapshot diffing, materialization, and the streaming SCD2 / as-of
enrichment twins.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from streamz_postgres_spark.catalog import load_table
from streamz_postgres_spark.registry import oracle_of, register
from streamz_postgres_spark.sources.cdc import (
    ParquetReplayLoader,
    apply_changes,
    full_refresh_diff,
    to_envelope,
)
from streamz_postgres_spark.streaming.runner import replay_events, run_to_table

# ---------------------------------------------------------------------------
# CDC queries (driving sources/cdc.py)
# ---------------------------------------------------------------------------


def _is_create(df: DataFrame) -> F.Column:
    return F.col("event_type") == "signup"


@register(
    "q_cdc_envelope",
    oracle="""
SELECT CASE WHEN event_id <= 4999 THEN 'r'
            WHEN event_type = 'signup' THEN 'c'
            ELSE 'u' END AS op,
       event_id AS seq,
       user_id AS key_user,
       value AS val
FROM events
""",
    tags=("cdc",),
)
def q_cdc_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC envelope round-trip: snapshot rows become 'r' envelopes,
    incremental rows 'c'/'u'; key and payload travel as JSON and are
    parsed back out — verifying the serialize/normalize path the
    Kafka+Debezium ingestion would use. Snapshot cutoff = event_id
    4999 (half the sf0.01 fixture; scales: the cutoff is an absolute
    cursor, the oracle uses the same constant)."""
    loader = ParquetReplayLoader(spark, sf_dir, snapshot_cursor=4999)
    snap_env = to_envelope(loader.snapshot(), ["user_id"], "r")
    inc = loader.incremental(4999)
    op = F.when(_is_create(inc), "c").otherwise("u")
    inc_env = to_envelope(inc, ["user_id"], op)
    env = snap_env.unionByName(inc_env)
    return env.select(
        "op",
        "seq",
        F.get_json_object("key", "$.user_id").cast("long").alias("key_user"),
        F.get_json_object("after", "$.value").cast("double").alias("val"),
    )


@register(
    "q_cdc_apply",
    oracle="""
SELECT user_id, seq AS last_seq, val AS current_value
FROM (
  SELECT user_id, event_id AS seq, value AS val,
         CASE WHEN event_id % 10 = 0 THEN 'd' ELSE 'u' END AS op,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) t
WHERE rn = 1 AND op <> 'd'
""",
    tags=("cdc",),
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-wins CDC apply with deletes: every 10th change is a
    DELETE; apply_changes compacts the envelope stream to current
    state and drops keys whose latest op is a delete — the canonical
    'materialize the captured table' consumer."""
    loader = ParquetReplayLoader(spark, sf_dir, snapshot_cursor=-1)
    changes = loader.incremental(-1)
    op = F.when(F.col("event_id") % 10 == 0, "d").otherwise("u")
    env = to_envelope(changes, ["user_id"], op)
    state = apply_changes(env, key="key", seq_cols=["seq"])
    return state.select(
        F.get_json_object("key", "$.user_id").cast("long").alias("user_id"),
        F.col("seq").alias("last_seq"),
        F.get_json_object("after", "$.value").cast("double").alias(
            "current_value"
        ),
    )


def _materialized_sink(spark: SparkSession, sf_dir: str, key: str):
    """Shared CDC-materialization run: stage the events as 4 files,
    stream them through foreachBatch (maxFilesPerTrigger=1, so four
    real incremental merges run), upsert each micro-batch through
    the pluggable MERGE seam, and return the sink — the caller
    decides the read-out (final state for q_cdc_materialize, an
    earlier epoch for q_cdc_time_travel) and whether to compact the
    version chain. The caller's frame reads the target's snapshots
    lazily, so the target is a lifecycle-scoped dir under ``key``,
    released at this thread's next invocation of ``key``."""
    import os
    import tempfile

    from streamz_postgres_spark.catalog import load_table
    from streamz_postgres_spark.lifecycle import scoped_dir
    from streamz_postgres_spark.streaming.merge import pick_merge_sink

    target = scoped_dir(key, "cdc_target_")
    sink = pick_merge_sink(
        spark, target, key_cols=["user_id"], seq_col="last_seq", op_col="op"
    )
    e = load_table(spark, sf_dir, "events")
    # chunk bounds from MAX(event_id), not COUNT(*): the two agree
    # only for contiguous ids starting at 0 — a log with id gaps or
    # late high-id rows (v2 hostile tie-duplicate class) would leave
    # every event_id >= 4*step permanently unstaged and silently
    # materialize a stale table
    max_id = e.agg(F.max("event_id")).collect()[0][0] or 0
    step = max_id // 4 + 1
    with tempfile.TemporaryDirectory(
        prefix="cdc_src_", ignore_cleanup_errors=True
    ) as staging, tempfile.TemporaryDirectory(
        prefix="cdc_ckpt_", ignore_cleanup_errors=True
    ) as ckpt:
        base_mtime = None
        for i in range(4):
            part_dir = os.path.join(staging, f"part{i}")
            # chunk 0 is UNBOUNDED BELOW (r13, found by the v8 hostile
            # rows with negative event_ids): the time-travel oracle cuts
            # with `event_id < (epoch+1)*step`, so any id below 0 belongs
            # to the first epoch — a `>= 0` lower bound left such rows
            # permanently unstaged and the materialized table stale, the
            # same silent-loss class the MAX-vs-COUNT note above records
            # for high-id gaps
            lo = (
                F.lit(True)
                if i == 0
                else (F.col("event_id") >= i * step)
            )
            (
                e.filter(lo & (F.col("event_id") < (i + 1) * step))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(part_dir)
            )
            # pin the ingestion order: FileStreamSource orders batches by
            # modification time with an unspecified tie-break, and
            # q_cdc_time_travel's oracle depends on epoch i consuming
            # chunk i — four quick sequential writes can land in the same
            # mtime granule, so stamp strictly increasing mtimes
            # explicitly instead of trusting the filesystem clock
            for name in os.listdir(part_dir):
                p = os.path.join(part_dir, name)
                if base_mtime is None:
                    base_mtime = os.stat(p).st_mtime
                os.utime(p, (base_mtime + i, base_mtime + i))

        # staged parts are dirs of part-*.parquet; the batch-written ts
        # is already TimestampNTZ so the plain schema read works
        s = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(staging, "part*"))
        )

        def merge_batch(batch: DataFrame, epoch_id: int) -> None:
            # envelope shaping is the pipeline's job; the upsert
            # mechanics (snapshot chaining / MERGE INTO, idempotent
            # epochs, tombstones) live behind the sink seam
            changes = batch.select(
                F.col("user_id"),
                F.col("event_id").alias("last_seq"),
                F.col("value").alias("current_value"),
                F.when(F.col("event_id") % 10 == 0, "d").otherwise("u").alias("op"),
            )
            sink.merge_batch(changes, epoch_id)

        q = (
            s.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return sink


@register(
    "q_cdc_materialize",
    oracle="""
SELECT user_id, seq AS last_seq, val AS current_value
FROM (
  SELECT user_id, event_id AS seq, value AS val,
         CASE WHEN event_id % 10 = 0 THEN 'd' ELSE 'u' END AS op,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) t
WHERE rn = 1 AND op <> 'd'
""",
    tags=("cdc", "streaming", "sink"),
)
def q_cdc_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE canonical reference use case end-to-end: a CDC change
    stream applied to a materialized table copy. The envelope stream
    runs through writeStream.foreachBatch; each micro-batch upserts
    into the target through the pluggable MERGE seam
    (streaming/merge.py): pick_merge_sink chooses transactional
    MERGE INTO when the session has a Delta runtime and the
    snapshot-versioned keyed-overwrite otherwise — same latest-wins
    + tombstone contract either way, contract-tested through the
    seam in tests/test_merge_sink.py. Four real incremental merges
    run (shared harness: _materialized_sink); the final table must
    equal the oracle's latest-row-wins state with deletes applied."""
    sink = _materialized_sink(spark, sf_dir, "q_cdc_materialize")
    sink.compact()
    final = sink.current(spark)
    if final is None:  # empty stream: no snapshot was written
        return spark.createDataFrame(
            [], "user_id long, last_seq long, current_value double"
        )
    return final.select("user_id", "last_seq", "current_value")


_TT_EPOCH = 2  # read the table as of the third of the four merges


@register(
    "q_cdc_time_travel",
    oracle=f"""
WITH n AS (SELECT MAX(event_id) // 4 + 1 AS step FROM events)
SELECT user_id, seq AS last_seq, val AS current_value
FROM (
  SELECT user_id, event_id AS seq, value AS val,
         CASE WHEN event_id % 10 = 0 THEN 'd' ELSE 'u' END AS op,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events, n
  WHERE event_id < {_TT_EPOCH + 1} * n.step
) t
WHERE rn = 1 AND op <> 'd'
""",
    tags=("cdc", "streaming", "sink"),
)
def q_cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the materialized CDC table — Delta's
    ``versionAsOf`` through the MERGE seam: after the same four-merge
    run as q_cdc_materialize, read the table AS OF epoch
    {_TT_EPOCH} (the state after three of the four micro-batches
    committed, before the last one) via ``sink.as_of``. The
    epoch-versioned snapshot chain provides this for free — the
    reason compact() is a separate, optional retention step — and
    the Delta strategy maps epoch to table version 1:1. The oracle
    recomputes latest-row-wins over exactly the first three chunks'
    event range, so the versioned read is VALUE-checked, not just
    present: audits, reproducible training snapshots, and
    what-did-the-dashboard-say-yesterday debugging all hang off this
    read path."""
    sink = _materialized_sink(spark, sf_dir, "q_cdc_time_travel")
    return sink.as_of(spark, _TT_EPOCH).select(
        "user_id", "last_seq", "current_value"
    )


@register(
    "q_cdc_diff",
    oracle="""
WITH keyed AS (
  SELECT event_id, user_id,
         TRY_CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                       THEN json_extract_string(props, '$.k') END
                  AS BIGINT) AS k
  FROM events
),
-- presence flags + IS NOT DISTINCT FROM: the diff is a SET
-- difference over key TUPLES where NULL is a value (a broken
-- payload keys as NULL but is still one key) — a plain `=` full
-- join would emit a spurious c+d pair for every NULL-keyed tuple,
-- and `p.user_id IS NULL` would misread a legitimately-NULL key
-- as absence (hostile-sweep v5 find)
prev AS (SELECT DISTINCT user_id, k, TRUE AS inp
         FROM keyed WHERE event_id <= 4999),
cur  AS (SELECT DISTINCT user_id, k, TRUE AS inc
         FROM keyed WHERE event_id > 4999)
SELECT CASE WHEN p.inp IS NULL THEN 'c'
            WHEN c.inc IS NULL THEN 'd' END AS op,
       coalesce(p.user_id, c.user_id) AS user_id,
       coalesce(p.k, c.k) AS k
FROM prev p
FULL JOIN cur c ON p.user_id IS NOT DISTINCT FROM c.user_id
               AND p.k IS NOT DISTINCT FROM c.k
WHERE p.inp IS NULL OR c.inc IS NULL
""",
    tags=("cdc",),
)
def q_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-refresh diffing — the delete-detection escape hatch
    (xmin polling can't see deletes; SURVEY §2.1). Diffs the
    (user_id, props.k) key sets active in two halves of the stream
    and emits c/d envelopes. The key extraction try-casts on both
    sides: DuckDB json functions hard-error on malformed documents
    and ANSI CAST throws on a non-scalar extract like '[1,2,3]'
    (hostile-sweep v4 find) — a broken payload keys as NULL, it
    does not kill the CDC loop."""
    from streamz_postgres_spark.catalog import load_table

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.get_json_object("props", "$.k").try_cast("long").alias("k"),
    )
    prev = e.filter(F.col("event_id") <= 4999).select("user_id", "k").distinct()
    cur = e.filter(F.col("event_id") > 4999).select("user_id", "k").distinct()
    diff = full_refresh_diff(prev, cur, ["user_id", "k"])
    return diff.select(
        "op",
        F.get_json_object("key", "$.user_id").cast("long").alias("user_id"),
        F.get_json_object("key", "$.k").cast("long").alias("k"),
    )


@register(
    "q_cdc_scd2",
    oracle="""
WITH ch AS (
  SELECT user_id, event_id AS seq, value AS val,
         CASE WHEN event_id % 10 = 0 THEN 'd' ELSE 'u' END AS op,
         lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
           AS next_seq
  FROM events
)
SELECT user_id, seq AS valid_from_seq, next_seq AS valid_to_seq,
       val AS value,
       CAST(next_seq IS NULL AS INTEGER) AS is_current
FROM ch
WHERE op <> 'd'
""",
    tags=("cdc", "scd2"),
)
def q_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history from the CDC envelope: every non-delete
    change becomes a VERSION row bounded by [its seq, the key's next
    change seq); the open-ended version is current. A delete closes
    the prior version (it bounds it via lead) without emitting one —
    so a deleted key simply has no current row, matching
    apply_changes' latest-wins semantics on the same stream.

    This is the other canonical CDC consumer next to q_cdc_apply:
    apply answers "what is the state now", SCD2 answers "what was
    true when" — an auditable dimension from the same envelope, no
    extra source support. One hash shuffle on the key + per-key sort
    for the lead window, the same cost profile as the apply; at
    100 TB both run incrementally per micro-batch with the open
    versions as the only carried state."""
    loader = ParquetReplayLoader(spark, sf_dir, snapshot_cursor=-1)
    changes = loader.incremental(-1)
    op = F.when(F.col("event_id") % 10 == 0, "d").otherwise("u")
    env = to_envelope(changes, ["user_id"], op)
    w = Window.partitionBy("key").orderBy("seq")
    hist = env.withColumn("next_seq", F.lead("seq").over(w))
    return hist.filter(F.col("op") != "d").select(
        F.get_json_object("key", "$.user_id").cast("long").alias("user_id"),
        F.col("seq").alias("valid_from_seq"),
        F.col("next_seq").alias("valid_to_seq"),
        F.get_json_object("after", "$.value").cast("double").alias("value"),
        F.col("next_seq").isNull().cast("int").alias("is_current"),
    )



# -- streaming SCD2 maintenance ---------------------------------------------


def _scd2_fold(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key SCD2 state machine: ValueState = the OPEN version
    (seq, value). Each change CLOSES the open version (emitting the
    bounded row exactly once) and — for updates — opens a new one; a
    delete closes without opening. The open version is re-emitted at
    the end of every batch its key appears in (the read side keeps
    the last word per (key, valid_from): max(valid_to) collapses the
    open re-emissions against a later closure)."""
    if state.exists:
        open_seq, open_val = state.get
    else:
        open_seq, open_val = None, None
    pdf = pd.concat(list(batches), ignore_index=True).sort_values(
        "event_id"
    ).reset_index(drop=True)
    out_from, out_to, out_val = [], [], []
    for eid, val in zip(pdf["event_id"], pdf["value"]):
        eid = int(eid)
        if open_seq is not None:
            out_from.append(open_seq)
            out_to.append(eid)
            out_val.append(open_val)
        if eid % 10 == 0:  # delete: close without re-opening
            open_seq, open_val = None, None
        else:
            open_seq, open_val = eid, float(val)
    if open_seq is not None:
        state.update((open_seq, open_val))
        out_from.append(open_seq)
        out_to.append(None)
        out_val.append(open_val)
    else:
        state.remove()
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(out_from),
            "valid_from_seq": pd.Series(out_from, dtype="int64"),
            "valid_to_seq": pd.Series(out_to, dtype="object"),
            "value": pd.Series(out_val, dtype="float64"),
        }
    )


def q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE SCD type-2 maintenance from the CDC change stream (the
    streaming twin of q_cdc_scd2): the only carried state is each
    key's OPEN version — closed versions are emitted exactly once,
    in the micro-batch where the superseding change arrives, which
    is precisely the incremental-materialization contract an
    auditable dimension needs. The read side collapses the per-batch
    open-version re-emissions with max(valid_to) per (key,
    valid_from): a later closure always wins over an open row.
    Same oracle as the batch twin."""
    s = replay_events(spark, sf_dir)
    out = s.groupBy("user_id").applyInPandasWithState(
        _scd2_fold,
        outputStructType=(
            "user_id long, valid_from_seq long, valid_to_seq long, "
            "value double"
        ),
        stateStructType="open_seq long, open_val double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    tbl = run_to_table(out, "append", spark)
    # Read-side collapse, duplicate-sequence-safe (v7 hostile class):
    # valid_from is NOT unique when the change log redelivers a
    # sequence number — a verbatim duplicate closes the open version
    # as a genuine ZERO-LENGTH row (valid_to == valid_from) and
    # reopens at the same seq, so the old max(valid_to)-per-from
    # collapse silently merged real versions. Closed rows are
    # emitted exactly once each and pass through untouched
    # (including identical zero-length rows from a triple delivery —
    # a multiset, not a set); open-row re-emissions (one per
    # micro-batch, byte-identical) dedup to one, kept only when no
    # REAL closure (valid_to > valid_from) superseded that open —
    # a zero-length closure never closes the reopened version.
    closed = tbl.filter(F.col("valid_to_seq").isNotNull())
    opens = tbl.filter(F.col("valid_to_seq").isNull()).distinct()
    # renamed columns: opens and real_closures share tbl's lineage,
    # and a same-attribute anti-join trips Spark's ambiguous-self-
    # join detection
    real_closures = (
        closed.filter(F.col("valid_to_seq") > F.col("valid_from_seq"))
        .select(
            F.col("user_id").alias("__rc_uid"),
            F.col("valid_from_seq").alias("__rc_from"),
        )
        .distinct()
    )
    kept_open = opens.join(
        real_closures,
        (F.col("user_id") == F.col("__rc_uid"))
        & (F.col("valid_from_seq") == F.col("__rc_from")),
        "left_anti",
    )
    return closed.unionByName(kept_open).select(
        "user_id",
        "valid_from_seq",
        "valid_to_seq",
        "value",
        F.col("valid_to_seq").isNull().cast("int").alias("is_current"),
    )


register(
    "q_stream_scd2",
    oracle=oracle_of("q_cdc_scd2"),
    tags=("streaming", "cdc", "scd2", "stateful"),
)(q_stream_scd2)


# -- streaming as-of enrichment (facts pick up the live dim version) --------


def _enrich_asof_fold(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key as-of enrichment state machine: ValueState = the
    latest dimension version (seq, value). 'signup' rows ARE the
    dimension change feed (they update state, emit nothing); every
    other row is a fact, emitted exactly once with the dimension
    version current AT ITS SEQUENCE — the streaming form of the
    batch as-of join. State is one (long, double) pair per key,
    bounded for the stream's lifetime. Correctness relies on per-key
    seq-ordered arrival across batches — the CDC-log contract the
    replay (and any log-compacted topic) provides; rows within a
    batch are sorted here."""
    if state.exists:
        dim_seq, dim_val = state.get
    else:
        dim_seq, dim_val = None, None
    pdf = pd.concat(list(batches), ignore_index=True).sort_values(
        "event_id"
    ).reset_index(drop=True)
    out_eid, out_type, out_val, out_dseq, out_dval = [], [], [], [], []
    for eid, etype, val in zip(
        pdf["event_id"], pdf["event_type"], pdf["value"]
    ):
        if etype == "signup":
            # the version is a coherent (seq, value) PAIR: a
            # NULL-value signup advances the version and carries a
            # NULL value (matching the oracle's struct payload)
            dim_seq = int(eid)
            dim_val = None if pd.isna(val) else float(val)
        else:
            out_eid.append(int(eid))
            # str(None) would mint the phantom string 'None' — a
            # NULL-typed fact must emit a NULL type (hostile-sweep
            # v5 find; the v2 vocab-novelty class)
            out_type.append(None if etype is None else str(etype))
            out_val.append(None if pd.isna(val) else float(val))
            out_dseq.append(dim_seq)
            out_dval.append(dim_val)
    if dim_seq is None:
        state.remove()
    else:
        state.update((dim_seq, dim_val))
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(out_eid),
            "event_id": pd.Series(out_eid, dtype="int64"),
            "event_type": pd.Series(out_type, dtype="object"),
            # object dtype: None must reach Spark as SQL NULL, not
            # as a float64 NaN
            "value": pd.Series(out_val, dtype="object"),
            "dim_seq": pd.Series(out_dseq, dtype="object"),
            "dim_value": pd.Series(out_dval, dtype="object"),
        }
    )


@register(
    "q_stream_enrich_asof",
    oracle="""
WITH enriched AS (
  -- ONE struct per dimension version, so seq and value can never
  -- desynchronize: per-column IGNORE NULLS would skip a NULL-value
  -- signup's value back to an OLDER version while advancing seq —
  -- the q_asof_nearest oracle class (v2 hostile streaming find)
  SELECT user_id, event_id, event_type, value,
         LAST_VALUE(CASE WHEN event_type = 'signup'
                    THEN struct_pack(s := event_id, v := value) END
                    IGNORE NULLS) OVER w AS dim
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id
               ROWS UNBOUNDED PRECEDING)
)
SELECT user_id, event_id, event_type, value,
       dim.s AS dim_seq, dim.v AS dim_value
FROM enriched
-- IS DISTINCT FROM: a NULL-typed event is "not a signup" and must
-- stay a fact — `<>` would silently drop it (hostile-sweep v5 find)
WHERE event_type IS DISTINCT FROM 'signup'
""",
    tags=("streaming", "cdc", "join", "stateful"),
)
def q_stream_enrich_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE as-of enrichment — the canonical CDC consumer: a fact
    stream picks up the dimension version current AT EACH FACT'S
    sequence number, from an in-band dimension change feed ('signup'
    events play the dim updates; everything else is a fact). The
    batch twin is q_asof_join / the last-ignoreNulls window trick;
    here the same semantics run incrementally with ONE (seq, value)
    pair of state per key and each fact emitted exactly once, in
    append mode — no retraction, no unbounded buffer. Facts arriving
    before any dimension version carry NULL dim columns, exactly as
    the batch as-of does. Oracle: the batch last-ignoreNulls window
    over the full log."""
    s = replay_events(spark, sf_dir)
    out = s.groupBy("user_id").applyInPandasWithState(
        _enrich_asof_fold,
        outputStructType=(
            "user_id long, event_id long, event_type string, "
            "value double, dim_seq long, dim_value double"
        ),
        stateStructType="dim_seq long, dim_val double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_table(out, "append", spark)


