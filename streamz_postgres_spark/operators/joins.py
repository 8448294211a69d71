"""Join operators: equi (all flavors), broadcast, theta/band,
interval, multiway star, as-of, and lockstep zip.

Reference parity (SURVEY.md §2.4): streamz `zip` -> ``zip_seq``;
`combine_latest`/`zip_latest` -> ``asof_join`` (enrich each event
with the latest row of another stream); stream-stream equi joins
within a time bound -> ``q_interval_join``.

Scale notes per query are in each docstring; the common rules:
- small dims go through ``F.broadcast`` (region/nation are bounded
  by geography at any scale),
- big-big joins are plain equi joins -> AQE picks sort-merge with
  skew splitting,
- the band/theta join broadcasts the literal band table so the
  nested-loop side is O(1) per row,
- as-of avoids a range join entirely: union + running `last()`
  window, one shuffle on (key), no pairwise blowup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streamz_postgres_spark.catalog import load_table
from streamz_postgres_spark.functions.numeric import dsum, sql_dsum
from streamz_postgres_spark.registry import register

# ---------------------------------------------------------------------------
# Library helpers (engine API, reused by batch queries and streaming)
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    right_values: list[str],
    how: str = "left",
    tolerance: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: attach to each left row the most recent right row
    (``right_ts <= left_ts``) with the same key(s) — or, with
    ``direction="forward"``, the NEXT right row (``right_ts >=
    left_ts``), or ``direction="nearest"``, the right row with the
    smallest |ts distance| (ties to the backward side) — pandas
    ``merge_asof(direction=...)`` semantics, all three directions.

    ``tolerance`` (an SQL interval literal body, e.g. ``'2 HOURS'``)
    bounds the lookback (or lookahead): a match further away than the
    tolerance is treated as no match (pandas
    ``merge_asof(tolerance=...)`` semantics). Applied as a
    post-window null-out, so it adds zero shuffles.

    This is the relational form of streamz ``zip_latest(lossless,
    other)`` / ``combine_latest`` (SURVEY.md §2.4): the left stream is
    lossless, the right supplies "latest known value".

    Implementation is the union + running-``last(ignoreNulls)`` window
    pattern rather than a range join: one shuffle on the key, linear
    state, no candidate-pair blowup — this is what survives 100 TB.
    At equal timestamps the right row sorts BEFORE the left row
    (side=0 < 1), giving inclusive `<=` semantics, matching DuckDB's
    ``ASOF JOIN ... ON l.ts >= r.ts``.

    The right side must be unique per (key, right_ts) — pre-aggregate
    duplicates first or the tie-winner is engine-dependent.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest: {direction!r}"
        )
    keys = [on] if isinstance(on, str) else list(on)
    # SQL equality semantics on the key: ASOF JOIN ... ON l.k = r.k
    # never matches a NULL key, but the union+window implementation
    # would happily co-partition NULL-keyed rows from both sides and
    # enrich them. Dropping NULL-keyed RIGHT rows restores equality
    # semantics exactly: a NULL-keyed left row lands in a window
    # partition with no right rows and emits unmatched
    # (hostile-sweep v5 find).
    for _k in keys:
        right = right.filter(F.col(_k).isNotNull())
    payload = F.struct(
        F.col(right_ts).alias("__asof_ts"),
        *[F.col(c).alias(c) for c in right_values],
    )
    # sort position of right rows at EQUAL timestamps: before the left
    # row (0 < 1) for backward (inclusive <=), after it (2 > 1) for
    # forward (inclusive >=)
    # nearest uses the backward placement: an equal-ts right row is
    # distance 0 and the backward window wins it
    r_ord = 0 if direction in ("backward", "nearest") else 2
    r = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(r_ord).alias("__side"),
        payload.alias("__payload"),
    )
    left_cols = left.columns
    l = left.select(
        *[F.col(c) for c in left_cols],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
    )
    # align schemas: right side carries nulls for left payload columns
    for c in left_cols:
        if c not in keys:
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    r = r.select(*left_cols, "__ts", "__side", "__payload")

    w = Window.partitionBy(*keys).orderBy("__ts", "__side")
    w_back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    union = l.unionByName(r)
    if direction == "backward":
        joined = union.withColumn(
            "__latest", F.last("__payload", ignorenulls=True).over(w_back)
        )
    elif direction == "forward":
        joined = union.withColumn(
            "__latest", F.first("__payload", ignorenulls=True).over(w_fwd)
        )
    else:
        # nearest (pandas merge_asof direction='nearest'): evaluate
        # BOTH windows over the SAME union — still one shuffle — and
        # keep the candidate with the smaller |ts distance|, ties to
        # the backward side (documented rule; pandas leaves ties
        # unspecified)
        back = F.last("__payload", ignorenulls=True).over(w_back)
        fwd = F.first("__payload", ignorenulls=True).over(w_fwd)
        joined = (
            union.withColumn("__b", back)
            .withColumn("__f", fwd)
            .withColumn(
                "__latest",
                F.when(F.col("__b").isNull(), F.col("__f"))
                .when(F.col("__f").isNull(), F.col("__b"))
                .when(
                    F.expr(
                        "timestampdiff(MICROSECOND, __b.__asof_ts, __ts)"
                    )
                    <= F.expr(
                        "timestampdiff(MICROSECOND, __ts, __f.__asof_ts)"
                    ),
                    F.col("__b"),
                )
                .otherwise(F.col("__f")),
            )
            .drop("__b", "__f")
        )
    joined = joined.filter(F.col("__side") == 1)
    latest = F.col("__latest")
    if tolerance is not None:
        if direction == "backward":
            in_tol = F.col("__latest.__asof_ts") >= F.col("__ts") - F.expr(
                f"INTERVAL {tolerance}"
            )
        elif direction == "forward":
            in_tol = F.col("__latest.__asof_ts") <= F.col("__ts") + F.expr(
                f"INTERVAL {tolerance}"
            )
        else:
            in_tol = (
                F.col("__latest.__asof_ts")
                >= F.col("__ts") - F.expr(f"INTERVAL {tolerance}")
            ) & (
                F.col("__latest.__asof_ts")
                <= F.col("__ts") + F.expr(f"INTERVAL {tolerance}")
            )
        latest = F.when(in_tol, latest)
    joined = joined.withColumn("__latest", latest)
    out = joined.select(
        *left_cols,
        F.col("__latest.__asof_ts").alias("asof_ts"),
        *[F.col(f"__latest.{c}").alias(c) for c in right_values],
    )
    if how == "inner":
        out = out.filter(F.col("asof_ts").isNotNull())
    return out


# Range-partitioned bases persisted by the most recent TOP-LEVEL seq
# operation live in the thread-scoped "with_seq" lifecycle slot
# (released at the start of the same thread's next operation — the
# returned DataFrame is lazy, so the frames must outlive the call).
# zip_seq holds TWO with_seq bases at once, so release is scoped to
# the whole operation, never per with_seq call: draining between the
# two calls would unpersist the left base before execution, letting
# the RangePartitioner re-sample a different layout than the one
# pass 1's offsets were computed for (duplicate/missing seq values).


def with_seq(
    df: DataFrame,
    order_by: list[Column | str],
    name: str = "seq",
    *,
    fresh: bool = True,
) -> DataFrame:
    """Attach a 1-based position column according to ``order_by``.

    Two-pass partition-offset form — the 100 TB path for positional
    semantics. Pass 1: range-partition on the sort key (so partition
    i's rows all precede partition i+1's) and count rows per
    partition; the counts are one BIGINT per partition — a few KB on
    the driver even with 10k partitions — prefix-summed into offsets.
    Pass 2: per-partition ``row_number`` (window partitioned by the
    physical partition id, every partition enumerated in parallel)
    plus the broadcast offset. No single-partition stage anywhere;
    the only serial step is the prefix sum over K integers.

    Pass 2 rides ``monotonically_increasing_id`` over the
    range-partitioned, partition-sorted rows: the id is
    ``pid << 33 | local_ordinal`` with the ordinal following physical
    row order, i.e. the sort order — so partition id and local
    position come out of one narrow projection, with no window
    function and no second exchange. The plan is RangeExchange →
    local sort → project → BroadcastHashJoin(offsets).

    The range exchange is persisted so pass 1's counts and pass 2's
    enumeration see the same physical layout (RangePartitioner
    re-samples per materialization; persisting pins the pids).
    ``fresh=False`` (zip_seq's inner calls) keeps earlier bases from
    the same top-level operation alive instead of draining them.
    """
    from streamz_postgres_spark.lifecycle import persist_scoped

    base = (
        df.repartitionByRange(*order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("__pid", F.shiftright(F.col("__mid"), 33))
        .withColumn("__local", F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1)))
    )
    persist_scoped("with_seq", base, fresh=fresh)
    counts = {
        r["__pid"]: r["n"]
        for r in base.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        offsets or [(0, 0)], schema="__pid BIGINT, __off BIGINT"
    )
    return (
        base.join(F.broadcast(off_df), "__pid", "left")
        .withColumn(name, F.col("__local") + F.coalesce("__off", F.lit(0)) + 1)
        .drop("__pid", "__local", "__off")
    )


def zip_seq(
    left: DataFrame,
    right: DataFrame,
    left_order: list[Column | str],
    right_order: list[Column | str],
) -> DataFrame:
    """Lockstep zip (streamz ``zip`` parity): pair the i-th row of
    each input by position; truncates to the shorter side (streamz
    buffers the faster stream; on bounded data that reduces to
    truncation).

    Releases the previous operation's persisted bases ONCE up front,
    then pins both sides' range layouts until the next top-level
    invocation — per-call release would unpersist the left base
    before the join executes (see the with_seq lifecycle note)."""
    from streamz_postgres_spark.lifecycle import release_scoped

    release_scoped("with_seq")
    l = with_seq(left, left_order, "seq", fresh=False)
    r = with_seq(right, right_order, "seq", fresh=False)
    return l.join(r, "seq", "inner")


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "q_join_inner",
    oracle="""
SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'F'
""",
    tags=("join",),
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join fact->dim. Filter pushed below the join by
    Catalyst; AQE broadcasts customer when it fits."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "q_join_left",
    oracle="""
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM customer
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 150000.0) big
  ON c_custkey = o_custkey
""",
    tags=("join",),
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join; unmatched customers keep null order columns."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "q_join_right",
    oracle="""
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM (SELECT * FROM customer WHERE c_acctbal > 5000.0) rich
RIGHT JOIN orders ON c_custkey = o_custkey
""",
    tags=("join",),
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join; orders from non-rich customers keep nulls."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000.0)
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "right").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "q_join_full",
    oracle="""
SELECT f.c_nationkey AS cust_nation, s.s_nationkey AS supp_nation,
       f.n_cust, s.n_supp
FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer
      WHERE c_acctbal > 7500.0 GROUP BY c_nationkey) f
FULL JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier
           WHERE s_acctbal > 5000.0 GROUP BY s_nationkey) s
  ON f.c_nationkey = s.s_nationkey
""",
    tags=("join",),
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two keyed aggregates."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 7500.0)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000.0)
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, c.c_nationkey == s.s_nationkey, "full").select(
        F.col("c_nationkey").alias("cust_nation"),
        F.col("s_nationkey").alias("supp_nation"),
        "n_cust",
        "n_supp",
    )


@register(
    "q_join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
""",
    tags=("join",),
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence join: customers having at least one urgent order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_anti",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
""",
    tags=("join",),
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no urgent orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_broadcast",
    oracle="""
SELECT n_name, r_name, COUNT(*) AS n_cust,
       {dsum} AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
""".format(dsum=sql_dsum("c_acctbal")),
    tags=("join",),
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of bounded dims (nation 25 rows, region 5
    rows at ANY scale factor): the fact side never shuffles for the
    join, only for the final small agg."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, F.col("n_regionkey") == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dsum("c_acctbal").alias("sum_acctbal"),
        )
    )


_BANDS = [
    ("tiny", 0.0, 50.0),
    ("small", 50.0, 120.0),
    ("medium", 120.0, 250.0),
    ("large", 250.0, 400.0),
    ("huge", 400.0, 1000.0),
]

_BANDS_SQL = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _BANDS)


@register(
    "q_join_theta",
    oracle=f"""
SELECT band, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM events
JOIN (VALUES {_BANDS_SQL}) AS bands(band, lo, hi)
  ON value >= lo AND value < hi
GROUP BY band
""",
    tags=("join",),
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/band join: assign each event to a value band via a
    non-equi condition. The band table is a broadcast literal, so the
    nested-loop probe is O(bands) per row — the only sane theta-join
    shape at 100 TB (arbitrary big-big theta joins don't scale)."""
    e = load_table(spark, sf_dir, "events")
    bands = F.broadcast(
        spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    )
    return (
        e.join(bands, (e.value >= bands.lo) & (e.value < bands.hi))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )


@register(
    "q_interval_join",
    oracle=f"""
SELECT c.event_id, c.user_id,
       COUNT(p.event_id) AS n_purchases,
       {sql_dsum('p.value')} AS sum_purchase
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY c.event_id, c.user_id
""",
    tags=("join", "time"),
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval join: purchases within 30 min after each click,
    same user. Equi key (user_id) + range condition -> sort-merge on
    the key with the range as a post-filter; in streaming the same
    shape becomes a watermarked stream-stream join (streaming/)."""
    e = load_table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id"), F.col("user_id"), F.col("ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
        F.col("event_id").alias("p_event_id"),
    )
    return (
        c.join(
            p,
            (c.user_id == p.p_user_id)
            & (p.p_ts >= c.ts)
            & (p.p_ts <= c.ts + F.expr("INTERVAL 30 MINUTE")),
        )
        .groupBy("event_id", "user_id")
        .agg(
            F.count("p_event_id").alias("n_purchases"),
            dsum("p_value").alias("sum_purchase"),
        )
    )


@register(
    "q_asof_join",
    oracle=f"""
WITH clicks AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
), purch AS (
  SELECT user_id, ts, arg_max(value, event_id) AS purchase_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, c.ts, c.value,
       p.ts AS asof_ts, p.purchase_value
FROM clicks c
ASOF LEFT JOIN purch p ON c.user_id = p.user_id AND c.ts >= p.ts
""",
    tags=("join", "time", "asof"),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (streamz zip_latest/combine_latest parity): each
    click enriched with the user's latest prior-or-equal purchase."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("purchase_value"))
    )
    return asof_join(
        clicks,
        purch,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_values=["purchase_value"],
    )


@register(
    "q_asof_forward",
    oracle=f"""
WITH clicks AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
), purch AS (
  SELECT user_id, ts, arg_max(value, event_id) AS purchase_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, c.ts, c.value,
       p.ts AS asof_ts, p.purchase_value
FROM clicks c
ASOF LEFT JOIN purch p ON c.user_id = p.user_id AND c.ts <= p.ts
""",
    tags=("join", "time", "asof"),
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (pandas merge_asof direction='forward'):
    each click enriched with the user's NEXT at-or-after purchase —
    the attribution-window shape ('what did this click lead to?'),
    the time-mirror of q_asof_join. Same union + window
    implementation, flipped frame (first-ignoreNulls over the
    following rows): one shuffle on the key, linear state, no
    candidate-pair blowup. The oracle is DuckDB's native forward
    ASOF (``c.ts <= p.ts``)."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("purchase_value"))
    )
    return asof_join(
        clicks,
        purch,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_values=["purchase_value"],
        direction="forward",
    )


@register(
    "q_join_multiway",
    oracle=f"""
SELECT n_name, year(o_orderdate) AS order_year,
       {sql_dsum('l_extendedprice * (1.0 - l_discount)')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY n_name, year(o_orderdate)
""",
    tags=("join",),
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way star join: revenue of returned lines by nation x year.
    nation broadcast; lineitem->orders->customer are key joins AQE
    plans (broadcast when the filtered side fits, else sort-merge)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("order_year"))
        .agg(
            dsum(revenue).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q_join_salted",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n_lines, {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""",
    tags=("join", "scale"),
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join via plans.salted_join: lineitem's join key
    is salted deterministically and orders is replicated per salt, so
    a pathologically hot key spreads over 8 tasks. The oracle is the
    PLAIN join — proving salting changes the plan, not the answer."""
    from streamz_postgres_spark.plans.scale import salted_join

    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "k"
    )
    o = load_table(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "k")
    return (
        salted_join(li, o.select("k", "o_orderstatus"), on="k", salt=8)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_quantity").alias("sum_qty"),
        )
    )


@register(
    "q_zip_seq",
    oracle="""
WITH e AS (
  SELECT row_number() OVER (ORDER BY event_id) AS seq, event_id, user_id, value
  FROM events WHERE event_type = 'signup'
), o AS (
  SELECT row_number() OVER (ORDER BY o_orderkey) AS seq, o_orderkey, o_totalprice
  FROM orders WHERE o_orderstatus = 'P'
)
SELECT e.seq, event_id, user_id, value, o_orderkey, o_totalprice
FROM e JOIN o USING (seq)
""",
    tags=("join", "zip"),
)
def q_zip_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lockstep zip (streamz ``zip`` parity): i-th signup paired with
    i-th pending order; truncated to the shorter input."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .select("event_id", "user_id", "value")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select("o_orderkey", "o_totalprice")
    )
    return zip_seq(e, o, ["event_id"], ["o_orderkey"]).select(
        "seq", "event_id", "user_id", "value", "o_orderkey", "o_totalprice"
    )


def binned_range_join(
    points: DataFrame,
    ranges: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
) -> DataFrame:
    """Large×large non-equi range join (``lo <= point < hi``, no equi
    key) as a hash equi-join: quantize to fixed bins — a point
    belongs to exactly ONE bin, a range explodes onto the O(1) bins
    it overlaps — then join on bin id and apply the residual
    predicate. No pair can meet in two bins (the point's bin is
    unique), so no dedup is needed; the rewrite is exactly
    answer-preserving (property-tested against brute force)."""
    p = points.withColumn(
        "__bin", F.floor(F.col(point_col) / F.lit(bin_width))
    )
    r = ranges.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bin_width)),
                F.floor(F.col(hi_col) / F.lit(bin_width)),
            )
        ),
    )
    return (
        p.join(r, "__bin")
        .filter(
            (F.col(point_col) >= F.col(lo_col))
            & (F.col(point_col) < F.col(hi_col))
        )
        .drop("__bin")
    )


#: Fixed bin width for the binned range join. At sf0.01 ranges are
#: ~2-1000 units wide, so a range spans at most 3 bins; pick the
#: width per deployment so ranges span O(1) bins while bins stay
#: fine enough that candidate lists are short.
_RANGE_BIN = 512.0


@register(
    "q_range_join_binned",
    oracle=f"""
SELECT l_returnflag, COUNT(*) AS n_pairs,
       {sql_dsum('l_extendedprice')} AS sum_point
FROM lineitem JOIN orders
  ON l_extendedprice >= o_totalprice
 AND l_extendedprice <  o_totalprice * 1.002
GROUP BY l_returnflag
""",
    tags=("join", "scale"),
)
def q_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large×large non-equi range join via binning (SURVEY §2.7
    range-predicate parity; the reference's engine would nested-loop
    this, Catalyst alone would pick BroadcastNestedLoopJoin).

    Point-in-range with NO equi key: each order defines a price range
    ``[o_totalprice, o_totalprice*1.002)`` and every lineitem price
    falling inside pairs with it. A raw theta join is O(n*m) and
    un-shuffleable. The standard scale rewrite: quantize to fixed
    bins — a point belongs to exactly ONE bin, a range is exploded to
    the O(1) bins it overlaps — so the cross product becomes a hash
    equi-join on bin id plus a residual predicate. No pair can meet
    in two bins (the point's bin is unique), so no dedup is needed.

    At 100 TB both sides shuffle once on bin id; skew only appears if
    many ranges overlap one bin, which the width parameter controls.
    The oracle is the textbook theta join — same answer, different
    physical plan.
    """
    # re-split the probe side (r13, guide §2.5/§6): the join
    # legitimately enumerates ~19M pairs at sf0.1 (the residual
    # check per candidate is the floor), but the one-file fixture
    # scan yields 3 input splits, so all of it ran on 3 cores
    # (measured 12.6 s CPU / ~13 s wall). One cheap shuffle of the
    # two probe columns buys full fan-out — the _docs_parallel rule:
    # compute-heavy-per-row pipelines over few-split inputs must
    # re-split first. At 100 TB the scan has many splits and this
    # repartition is a no-op choice.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    o = load_table(spark, sf_dir, "orders").select("o_totalprice")

    ranges = o.withColumn("lo", F.col("o_totalprice")).withColumn(
        "hi", F.col("o_totalprice") * F.lit(1.002)
    )
    pairs = binned_range_join(
        li, ranges, "l_extendedprice", "lo", "hi", _RANGE_BIN
    )
    return pairs.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        dsum("l_extendedprice").alias("sum_point"),
    )


#: Bucket count for the coarse runtime filter: the broadcast side is
#: at most this many distinct ints regardless of key cardinality.
_RF_BUCKETS = 8192


@register(
    "q_runtime_filter",
    oracle=f"""
SELECT p_brand, COUNT(*) AS n_lines, {sql_dsum('l_extendedprice')} AS sum_price
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type LIKE 'PROMO%'
GROUP BY p_brand
""",
    tags=("join", "scale"),
)
def q_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-style runtime filter: prune the fact scan BEFORE the
    shuffle join (the pattern behind Spark's own runtime row-group
    filtering, expressed explicitly).

    When the filtered dim's key set is too large to broadcast as an
    exact semi-join, broadcast its COARSE image instead: the set of
    ``hash(key) mod B`` buckets (≤ B ints, bounded regardless of key
    cardinality — a one-hash Bloom filter). Fact rows whose bucket
    is absent can't join and are dropped map-side, so the expensive
    hash shuffle moves only surviving rows. False positives are
    removed by the exact join that follows — the oracle is the plain
    join, proving the filter is answer-preserving.

    The prefilter hash is deliberately xxhash64 (JVM, codegen): it
    never crosses engines, only the final join does.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type").like("PROMO%"))
        .select("p_partkey", "p_brand")
    )
    buckets = F.broadcast(
        p.select(
            F.pmod(F.xxhash64("p_partkey"), F.lit(_RF_BUCKETS)).alias("b")
        ).distinct()
    )
    li_pruned = li.withColumn(
        "b", F.pmod(F.xxhash64("l_partkey"), F.lit(_RF_BUCKETS))
    ).join(buckets, "b", "left_semi")
    return (
        li_pruned.join(p, li_pruned.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


@register(
    "q_asof_tolerance",
    oracle="""
WITH clicks AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
), purch AS (
  SELECT user_id, ts, arg_max(value, event_id) AS purchase_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
), raw AS (
  SELECT c.event_id, c.user_id, c.ts, c.value,
         p.ts AS asof_ts, p.purchase_value
  FROM clicks c
  ASOF LEFT JOIN purch p ON c.user_id = p.user_id AND c.ts >= p.ts
)
SELECT event_id, user_id, ts, value,
       CASE WHEN asof_ts >= ts - INTERVAL 2 HOUR THEN asof_ts END AS asof_ts,
       CASE WHEN asof_ts >= ts - INTERVAL 2 HOUR THEN purchase_value END
         AS purchase_value
FROM raw
""",
    tags=("join", "time", "asof"),
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 2-hour tolerance (pandas merge_asof
    ``tolerance=`` parity): a stale latest-purchase no longer
    qualifies — the enrichment is nulled when the most recent match
    is older than the bound. Same single-shuffle window plan as the
    unbounded as-of; the tolerance is a codegen null-out, which is
    why bounded-staleness joins cost nothing extra at scale."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("purchase_value"))
    )
    return asof_join(
        clicks,
        purch,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_values=["purchase_value"],
        tolerance="2 HOURS",
    )


# -- bucketed co-located join -----------------------------------------------

_N_BUCKETS = 8


@register(
    "q_join_bucketed",
    oracle=f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
""",
    tags=("join", "layout"),
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exchange-free co-located join: both sides are laid out as
    bucketed tables ({_N_BUCKETS} buckets on the join key, sorted
    within buckets), so the sort-merge join reads matching buckets
    file-against-file with NO shuffle of either side — `.explain`
    shows zero Exchange under the join. This is THE layout lever for
    a fact-fact join that repeats every day at 100 TB: pay one
    bucketed write, then every subsequent join of the two tables
    skips both exchanges forever (plus bucket pruning on point
    predicates). The merge hint pins SMJ so the demo can't silently
    degrade to a broadcast at toy scale; the post-join rollup is an
    ordinary partial agg. The returned DataFrame reads the bucketed
    files lazily, so the layout dir and the two catalog tables over
    it share one lifecycle slot (released at this thread's next
    call). Table names carry a per-invocation uuid suffix so the
    query never clobbers a user's same-named catalog table and two
    concurrent invocations never race on one table name."""
    import uuid

    from streamz_postgres_spark.lifecycle import defer, scoped_dir

    tag = uuid.uuid4().hex[:12]
    t_orders, t_lineitem = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
    base = scoped_dir("q_join_bucketed", "bucketed_join_")
    for t in (t_orders, t_lineitem):
        defer("q_join_bucketed", lambda t=t: spark.sql(f"DROP TABLE IF EXISTS {t}"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    (
        o.write.bucketBy(_N_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{base}/orders")
        .mode("overwrite")
        .saveAsTable(t_orders)
    )
    (
        li.write.bucketBy(_N_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", f"{base}/lineitem")
        .mode("overwrite")
        .saveAsTable(t_lineitem)
    )
    bo = spark.table(t_orders)
    bl = spark.table(t_lineitem)
    return (
        bo.hint("merge")
        .join(bl, bo.o_orderkey == bl.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


@register(
    "q_asof_sql",
    oracle="""
WITH clicks AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
), purch AS (
  SELECT user_id, ts, arg_max(value, event_id) AS purchase_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, c.ts, c.value,
       p.ts AS asof_ts, p.purchase_value
FROM clicks c
ASOF LEFT JOIN purch p ON c.user_id = p.user_id AND c.ts >= p.ts
""",
    tags=("join", "time", "asof", "sql"),
)
def q_asof_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASOF JOIN in SQL SYNTAX — the ergonomics gap SURVEY §4.3
    deferred, closed by streamz_postgres_spark.sqlext: the query
    below is written with the same ASOF LEFT JOIN spelling DuckDB/
    QuestDB/Snowflake users know, and the preprocessor lowers it
    onto the library asof_join plan (union + last-ignoreNulls
    window, one shuffle). Semantics and output are identical to
    q_asof_join — which is exactly what the shared DuckDB native
    ASOF LEFT JOIN oracle checks."""
    from streamz_postgres_spark import sqlext

    e = load_table(spark, sf_dir, "events")
    return sqlext.sql(
        spark,
        """
        SELECT c.event_id, c.user_id, c.ts, c.value,
               c.asof_ts, p.purchase_value
        FROM {clicks} c ASOF LEFT JOIN {purch} p
          ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
        clicks=e.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts", "value"
        ),
        purch=e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("purchase_value")),
    )


@register(
    "q_asof_forward_sql",
    oracle="""
WITH clicks AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
), purch AS (
  SELECT user_id, ts, arg_max(value, event_id) AS purchase_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, c.ts, c.value,
       p.ts AS asof_ts, p.purchase_value
FROM clicks c
ASOF LEFT JOIN purch p ON c.user_id = p.user_id AND c.ts <= p.ts
""",
    tags=("join", "time", "asof", "sql"),
)
def q_asof_forward_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD ASOF JOIN in SQL SYNTAX (r10): the sqlext ASOF
    grammar previously accepted only the backward bound and told
    forward users to drop to the library API; the DuckDB/Snowflake
    convention is that the inequality's DIRECTION is the as-of
    direction, so ``c.ts <= p.ts`` now lowers onto
    asof_join(direction="forward") — each click gets the NEXT
    purchase at-or-after it (the time-to-conversion shape),
    inclusive at equality. Rare cross-check quality: the oracle is
    DuckDB's NATIVE forward ASOF LEFT JOIN, native-vs-native on both
    engines, not a reconstruction. Same plan posture as the
    backward form: union + first-ignoreNulls window over the
    (key, ts) order — one shuffle, linear state, no range blowup."""
    from streamz_postgres_spark import sqlext

    e = load_table(spark, sf_dir, "events")
    return sqlext.sql(
        spark,
        """
        SELECT c.event_id, c.user_id, c.ts, c.value,
               c.asof_ts, p.purchase_value
        FROM {clicks} c ASOF LEFT JOIN {purch} p
          ON c.user_id = p.user_id AND c.ts <= p.ts
        """,
        clicks=e.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts", "value"
        ),
        purch=e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("purchase_value")),
    )


@register(
    "q_scd2_pointintime",
    oracle="""
WITH ch AS (
  SELECT user_id, event_id AS seq, value AS val,
         CASE WHEN event_id % 10 = 0 THEN 'd' ELSE 'u' END AS op,
         lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
           AS next_seq
  FROM events
),
versions AS (
  SELECT user_id, seq AS valid_from_seq, next_seq AS valid_to_seq,
         val AS dim_value
  FROM ch WHERE op <> 'd'
),
facts AS (
  SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id, f.value,
       v.valid_from_seq, v.dim_value
FROM facts f
LEFT JOIN versions v
  ON v.user_id = f.user_id
 AND v.valid_from_seq <= f.event_id
 AND (v.valid_to_seq IS NULL OR f.event_id < v.valid_to_seq)
""",
    tags=("join", "time", "scd2", "cdc"),
)
def q_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join against an SCD2 history — the query side of
    the SCD2 story (q_cdc_scd2 / q_stream_scd2 BUILD the history;
    every warehouse then joins facts to the version valid AT the
    fact's time). Each purchase fact picks up the dimension version
    whose [valid_from, valid_to) interval contains its sequence
    number.

    Spark-first plan: NOT a range join — an as-of join on valid_from
    (union + last-ignoreNulls window, one shuffle on the key, no
    interval-expansion candidates) followed by a codegen null-out of
    versions already closed at the fact's seq (a fact inside a
    deleted gap gets NULLs, exactly like the interval predicate).
    This as-of-plus-validity-check rewrite is the 100 TB form of any
    point-in-time join: the validity intervals per key are disjoint
    and ordered, so 'latest start at-or-before, then check the end'
    is equivalent to the interval containment the oracle states
    directly."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    versions = (
        e.withColumn("next_seq", F.lead("event_id").over(w))
        .filter(F.col("event_id") % 10 != 0)
        .select(
            "user_id",
            F.col("event_id").alias("valid_from_seq"),
            F.col("next_seq").alias("valid_to_seq"),
            F.col("value").alias("dim_value"),
        )
    )
    facts = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )
    hit = asof_join(
        facts,
        versions,
        on="user_id",
        left_ts="event_id",
        right_ts="valid_from_seq",
        right_values=["dim_value", "valid_to_seq"],
        how="left",
    )
    open_at_fact = F.col("valid_to_seq").isNull() | (
        F.col("event_id") < F.col("valid_to_seq")
    )
    return hit.select(
        "event_id",
        "user_id",
        "value",
        F.when(open_at_fact, F.col("asof_ts")).alias("valid_from_seq"),
        F.when(open_at_fact, F.col("dim_value")).alias("dim_value"),
    )


# -- interval x interval overlap join (co-presence analytics) ----------------

def interval_overlap_pairs(
    intervals: DataFrame,
    id_col: str,
    s_col: str,
    e_col: str,
    bin_width: int,
) -> DataFrame:
    """Interval x interval OVERLAP join as a hash equi-join: each
    half-open interval [s, e) explodes onto the bins it touches,
    pairs (id_a < id_b) meet on a shared bin with the residual
    overlap predicate, and keeping only the bin containing
    GREATEST(s_a, s_b) yields EXACTLY ONE row per overlapping pair
    — that bin is shared whenever the pair overlaps, and no other
    bin satisfies the equality (the binned_range_join uniqueness
    argument extended to interval x interval; property-tested
    against brute force). Returns the joined frame with sides
    aliased ``a`` and ``b``."""
    binned = intervals.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(F.col(s_col) / bin_width),
                F.floor(F.col(e_col) / bin_width),
            )
        ),
    )
    a, b = binned.alias("a"), binned.alias("b")
    return a.join(
        b,
        (F.col("a.bin") == F.col("b.bin"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (F.col(f"a.{s_col}") < F.col(f"b.{e_col}"))
        & (F.col(f"b.{s_col}") < F.col(f"a.{e_col}"))
        & (
            F.col("a.bin")
            == F.floor(
                F.greatest(F.col(f"a.{s_col}"), F.col(f"b.{s_col}"))
                / bin_width
            )
        ),
    )



#: binning for the overlap equi-join rewrite; epoch precedes every
#: fixture row (the house sub-second-safe aligned-epoch rule)
_OVL_EPOCH = "1990-01-01 00:00:00"
_OVL_BIN_SEC = 3600
_OVL_GAP = "30 minutes"

#: DuckDB CTE chain deriving the per-user activity sessions (30-min
#: gap) as integer-second intervals [s, e) — shared by the
#: interval-overlap oracle and its aggregate read-out
#: (q_concurrency_profile); matches Spark's session_window exactly,
#: including the touch-merge boundary: an event exactly gap after
#: the last EXTENDS the session, so the split test is strict-> (v6).
_OVL_SESS_CTES = f"""flagged AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), sess AS (
  SELECT user_id,
         date_diff('second', TIMESTAMP '{_OVL_EPOCH}', MIN(ts)) AS s,
         date_diff('second', TIMESTAMP '{_OVL_EPOCH}',
                   MAX(ts) + INTERVAL 30 MINUTE) AS e
  FROM numbered GROUP BY user_id, session_id
)"""


def _ovl_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity sessions (native session_window, 30-min
    gap) as integer-second intervals ``(user_id, s, e)`` relative to
    the aligned epoch — the shared input of the interval-overlap
    join and the concurrency profile."""
    e = load_table(spark, sf_dir, "events")
    es = lambda c: F.expr(  # noqa: E731
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '{_OVL_EPOCH}', {c})"
    )
    return (
        e.groupBy(F.session_window("ts", _OVL_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            es("w.start").alias("s"),
            es("w.end").alias("e"),
        )
    )


@register(
    "q_interval_overlap",
    oracle=f"""
WITH {_OVL_SESS_CTES}
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(COUNT(*) AS BIGINT) AS n_overlaps,
       CAST(SUM(LEAST(a.e, b.e) - GREATEST(a.s, b.s)) AS BIGINT)
         AS overlap_seconds
FROM sess a JOIN sess b
  ON a.user_id < b.user_id AND a.s < b.e AND b.s < a.e
GROUP BY 1, 2
""",
    tags=("join", "time", "session", "scale"),
)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL x INTERVAL overlap join — the non-equi join class
    binned_range_join does not cover (that one is point-in-range):
    which pairs of users had overlapping activity sessions, and for
    how long (co-presence / concurrency analytics; the same primitive
    computes shift overlap, ad-slot contention, connection
    concurrency). Sessions come from the native session_window
    (30-min gap, q_session's plumbing); the overlap JOIN is rewritten
    as a HASH EQUI-JOIN: each session explodes onto the O(duration)
    hour bins it touches, pairs meet on a shared bin, and the residual
    predicate keeps true overlaps. An overlapping pair meets in EVERY
    shared bin, so the rewrite keeps exactly the bin containing
    GREATEST(start_a, start_b) — one row per overlapping pair, no
    distinct needed (the binned_range_join uniqueness argument,
    extended to interval x interval). The oracle is the PLAIN theta
    self-join over the same sessions — proving the binned rewrite is
    answer-preserving, not just fast. Scale: shuffle keys are hour
    bins (time-partitioned work), per-bin fan-out is concurrent
    session count — the quadratic term a 100 TB run controls by
    narrowing the bin, exactly like blocking cardinality in dedup."""
    sess = _ovl_sessions(spark, sf_dir)
    pairs = interval_overlap_pairs(sess, "user_id", "s", "e", _OVL_BIN_SEC)
    return (
        pairs.groupBy(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_overlaps"),
            F.sum(
                F.least(F.col("a.e"), F.col("b.e"))
                - F.greatest(F.col("a.s"), F.col("b.s"))
            )
            .cast("bigint")
            .alias("overlap_seconds"),
        )
    )


#: the concurrency-profile oracle — shared verbatim by the batch key
#: and its streaming twin (q_stream_concurrency), so the two can
#: never desynchronize
_CONCURRENCY_ORACLE = f"""
WITH {_OVL_SESS_CTES},
bins AS (
  SELECT user_id, s, e,
         unnest(generate_series(s // {_OVL_BIN_SEC},
                                (e - 1) // {_OVL_BIN_SEC})) AS bin
  FROM sess
)
SELECT CAST(bin * {_OVL_BIN_SEC} AS BIGINT) AS bin_start_sec,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(LEAST(e, (bin + 1) * {_OVL_BIN_SEC})
              - GREATEST(s, bin * {_OVL_BIN_SEC})) AS BIGINT)
         AS active_seconds
FROM bins GROUP BY bin
"""


def concurrency_rollup(sess: DataFrame) -> DataFrame:
    """Hour-bin concurrency profile over a ``(user_id, s, e)``
    session frame (integer epoch seconds, e exclusive): explode each
    session onto the bins it touches, then one map-side-combinable
    groupBy. Shared by q_concurrency_profile and the live twin —
    one implementation, one fix point."""
    b = _OVL_BIN_SEC
    binned = sess.withColumn(
        "bin",
        F.explode(F.expr(f"sequence(s DIV {b}, (e - 1) DIV {b})")),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(
                F.least(F.col("e"), (F.col("bin") + 1) * b)
                - F.greatest(F.col("s"), F.col("bin") * b)
            )
            .cast("bigint")
            .alias("active_seconds"),
        )
        .select(
            (F.col("bin") * b).cast("bigint").alias("bin_start_sec"),
            "n_sessions",
            "n_users",
            "active_seconds",
        )
    )


@register(
    "q_concurrency_profile",
    oracle=_CONCURRENCY_ORACLE,
    tags=("time", "session", "scale"),
)
def q_concurrency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrency PROFILE — the aggregate, 100x-safe read-out of
    interval overlap: per hour bin, how many sessions were active,
    how many distinct users, and the total in-bin active seconds.
    q_interval_overlap answers WHICH pairs co-occurred and its
    output is inherently quadratic in per-bin concurrency (SCALE.md
    measured 22.9x wall at 100x true pairs — output-bound); this is
    the question operators actually ask at fleet scale ("how loaded
    was each hour"), and its output is O(bins) regardless of
    concurrency. Same session stage (native session_window, 30-min
    gap), same hour binning; each session explodes onto the
    O(duration) bins it touches and everything else is one
    map-side-combinable groupBy on the bin — shuffle keys are time
    bins, payloads are counters, nothing quadratic anywhere. All
    integer arithmetic (epoch-second intervals, DIV bucketing), so
    the profile is engine-exact."""
    return concurrency_rollup(_ovl_sessions(spark, sf_dir))


@register(
    "q_asof_nearest",
    oracle="""
WITH clicks AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'click'
), purch AS (
  -- equality-key contract (matches asof_join and DuckDB's native
  -- ASOF ... ON l.k = r.k): a NULL-keyed right row matches nothing,
  -- so it never becomes a candidate; NULL-keyed clicks still emit,
  -- unmatched (hostile-sweep v5 find)
  SELECT user_id, ts, arg_max(value, event_id) AS purchase_value
  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
  GROUP BY user_id, ts
), u AS (
  SELECT user_id, ts, NULL AS purchase_value, 1 AS side,
         event_id, value
  FROM clicks
  UNION ALL
  SELECT user_id, ts, purchase_value, 0 AS side, NULL, NULL FROM purch
), w AS (
  -- the candidate is ONE struct per direction, so its ts and value
  -- can never desynchronize: per-column IGNORE NULLS would skip a
  -- NULL purchase_value back to an OLDER purchase while keeping the
  -- nearer ts (hostile-fixture sweep find, r12 — the engine's
  -- struct-payload windows had this right all along)
  SELECT *,
    LAST_VALUE(CASE WHEN side = 0
               THEN struct_pack(cts := ts, cval := purchase_value) END
               IGNORE NULLS) OVER wb AS b,
    FIRST_VALUE(CASE WHEN side = 0
                THEN struct_pack(cts := ts, cval := purchase_value) END
                IGNORE NULLS) OVER wf AS f
  FROM u
  WINDOW wb AS (PARTITION BY user_id ORDER BY ts, side
                ROWS UNBOUNDED PRECEDING),
         wf AS (PARTITION BY user_id ORDER BY ts, side
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
), pick AS (
  SELECT event_id, user_id, ts, value,
         CASE WHEN b IS NULL THEN f
              WHEN f IS NULL THEN b
              WHEN date_diff('microseconds', b.cts, ts)
                   <= date_diff('microseconds', ts, f.cts) THEN b
              ELSE f END AS c
  FROM w
  WHERE side = 1
)
SELECT event_id, user_id, ts, value,
       c.cts AS asof_ts, c.cval AS purchase_value
FROM pick
""",
    tags=("join", "time", "asof"),
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join — the third pandas merge_asof
    direction (backward = q_asof_join, forward = q_asof_forward):
    each click picks the purchase closest in time on EITHER side,
    ties to the backward side (documented; pandas leaves ties
    unspecified). Implementation evaluates both direction windows
    over the SAME union in one pass — still exactly ONE shuffle on
    the key, no range join, no second exchange (the plan is the
    asof_join plan with two window functions instead of one). The
    oracle replays the same two-window construction in DuckDB
    (DuckDB's native ASOF is backward-only, so nearest needs the
    explicit form on both engines)."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("purchase_value"))
    )
    return asof_join(
        clicks,
        purch,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_values=["purchase_value"],
        direction="nearest",
    )
