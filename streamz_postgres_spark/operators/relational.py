"""Core relational operators: scan / project / filter / pluck /
explode / limit / sort / cast.

Reference parity (SURVEY.md §2.2): streamz ``map`` -> select/
withColumn, ``filter`` -> filter, ``pluck`` -> column/element access,
``flatten`` -> explode, ``slice`` -> orderBy+limit.

Scale notes: all eight queries compile to a single parquet scan with
the predicate and projection pushed into the reader (check
``PushedFilters`` / ``ReadSchema`` in ``.explain``); top-k queries
use Spark's TakeOrderedAndProject (no global sort shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamz_postgres_spark.catalog import load_table
from streamz_postgres_spark.functions.numeric import (
    dsum,
    qround,
    sql_dsum,
    sql_qround,
)
from streamz_postgres_spark.registry import register


@register(
    "q_scan",
    oracle="SELECT COUNT(*) AS n_rows FROM lineitem",
    tags=("relational",),
)
def q_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare scan + count; the minimal end-to-end plan."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@register(
    "q_project",
    oracle="""
SELECT
  l_orderkey,
  l_linenumber,
  l_extendedprice * (1.0 - l_discount) AS net_price,
  l_quantity * l_extendedprice AS gross_value,
  (l_tax + l_discount) * 100.0 AS pct_load,
  l_returnflag || '/' || l_linestatus AS flag_status
FROM lineitem
""",
    tags=("relational",),
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection with computed columns (streamz `map` parity).

    Pure per-row double arithmetic is bit-deterministic across
    engines, so no rounding is needed. flag_status uses ``concat``
    (NULL-propagating, = SQL ``||``), NOT ``concat_ws`` — concat_ws
    SKIPS null arguments, so a NULL l_returnflag would silently
    collapse to just the linestatus while the oracle's ``||``
    yields NULL (hostile-sweep v3 find).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "net_price"
        ),
        (F.col("l_quantity") * F.col("l_extendedprice")).alias("gross_value"),
        ((F.col("l_tax") + F.col("l_discount")) * F.lit(100.0)).alias("pct_load"),
        F.concat(
            F.col("l_returnflag"), F.lit("/"), F.col("l_linestatus")
        ).alias("flag_status"),
    )


@register(
    "q_filter",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderstatus IN ('F', 'O')
  AND o_totalprice BETWEEN 50000.0 AND 200000.0
  AND (o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%')
  AND o_custkey IS NOT NULL
  AND NOT (o_orderstatus = 'O' AND o_totalprice < 60000.0)
""",
    tags=("relational",),
)
def q_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate surface: comparison, IN, BETWEEN, LIKE, null checks,
    boolean algebra. All pushdown-eligible."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "O")
        & F.col("o_totalprice").between(50000.0, 200000.0)
        & (F.col("o_orderpriority").like("1-%") | F.col("o_orderpriority").like("2-%"))
        & F.col("o_custkey").isNotNull()
        & ~((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") < 60000.0))
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@register(
    "q_pluck",
    oracle="""
SELECT
  vec_id,
  CAST(embedding[1] AS DOUBLE) AS first_dim,
  CAST(embedding[64] AS DOUBLE) AS last_dim,
  len(embedding) AS dim
FROM embeddings
""",
    tags=("relational",),
)
def q_pluck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element access inside nested values (streamz `pluck` parity)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("first_dim"),
        F.element_at("embedding", 64).cast("double").alias("last_dim"),
        F.size("embedding").alias("dim"),
    )


@register(
    "q_explode",
    oracle="""
SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS dim_value
FROM embeddings
""",
    tags=("relational",),
)
def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnest an array column (streamz `flatten` parity)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", F.explode("embedding").alias("d")).select(
        "vec_id", F.col("d").cast("double").alias("dim_value")
    )


@register(
    "q_limit",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
""",
    tags=("relational", "topk"),
)
def q_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by sort+limit (streamz `slice` parity). Ties broken by
    the unique key so the cut is deterministic. Spark plans this as
    TakeOrderedAndProject: per-partition heaps, no global sort."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(25)
    )


@register(
    "q_sort_multi",
    oracle="""
SELECT
  c_custkey,
  nullif(c_mktsegment, 'BUILDING') AS segment,
  c_acctbal
FROM customer
ORDER BY segment ASC NULLS LAST, c_acctbal DESC, c_custkey
LIMIT 100
""",
    tags=("relational",),
)
def q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit null placement (made observable
    through the LIMIT; nulls synthesized via nullif)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("segment"),
            "c_acctbal",
        )
        .orderBy(
            F.col("segment").asc_nulls_last(),
            F.col("c_acctbal").desc(),
            F.col("c_custkey"),
        )
        .limit(100)
    )


@register(
    "q_cast",
    oracle="""
SELECT
  o_orderkey,
  CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
  CAST(o_orderkey AS VARCHAR) AS key_str,
  STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_str,
  CAST(CAST(o_totalprice AS DECIMAL(18,3)) AS DOUBLE) AS price_dec,
  CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
  CAST(o_orderstatus = 'F' AS INTEGER) AS is_final
FROM orders
""",
    tags=("relational",),
)
def q_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast matrix: int<->string, timestamp->date->string,
    double->decimal, bool->int. Double->string is deliberately
    excluded (engines format doubles differently); double->int goes
    through an explicit floor (engines disagree on bare-cast
    truncate-vs-round). The cast exercises stay, but the OUTPUT
    surface avoids DateType and DecimalType: both are canonicalized
    differently by independent hashers (date repr, int128 decimal),
    so dates leave as ISO strings and the decimal quantization
    round-trips back to double.

    The decimal scale must be >= the data's true decimal precision
    (3 here, not 2): double->decimal ROUNDING is engine-divergent on
    halves — Spark rounds the double's SHORTEST DECIMAL REPR
    (BigDecimal.valueOf, HALF_UP: 225671.245 -> .25) while DuckDB
    rounds the BINARY value (...24499999998 -> .24). At a scale that
    covers the data's decimals the cast is exact on the repr and the
    binary error (~1e-11) sits far from any rounding boundary, so
    both engines agree (hostile-sweep v3 find: x0.5-duplicated
    2-decimal monies created 3-decimal halves)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").cast("bigint").alias("key_roundtrip"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
            "order_date"
        ),
        F.col("o_orderdate").cast("date").cast("string").alias("date_str"),
        F.col("o_totalprice").cast("decimal(18,3)").cast("double").alias("price_dec"),
        F.floor("o_totalprice").cast("bigint").alias("price_floor"),
        (F.col("o_orderstatus") == "F").cast("int").alias("is_final"),
    )


@register(
    "q_lateral_posexplode",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ')[1:5] AS toks FROM documents
)
SELECT doc_id,
       generate_subscripts(toks, 1) AS pos,
       unnest(toks) AS tok
FROM t
""",
    tags=("relational", "lateral"),
)
def q_lateral_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal flatten (LATERAL VIEW posexplode): each document's
    first five tokens with their 1-based position. The position
    column is what separates this from plain ``flatten``/explode —
    order within the array survives the shuffle as data, which is
    how downstream chunking/packing operators keep token order
    without any ordered-window dependency. Slicing BEFORE exploding
    prunes the row blowup at the scan side."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.slice(F.split(F.col("text"), " "), 1, 5)
    return d.select(
        "doc_id", F.posexplode(toks).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")


_PRUNE_DAY = "2024-01-15"


@register(
    "q_partition_prune",
    oracle=f"""
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
WHERE strftime(date_trunc('day', ts), '%Y-%m-%d') = '{_PRUNE_DAY}'
GROUP BY event_type
""",
    tags=("relational", "scale", "storage"),
)
def q_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning end-to-end — the single biggest scan lever
    at 100 TB (a day-partitioned event lake answers a one-day query
    by touching 1/365th of the files, before any row is read).

    The query stages the events table as a hive-layout parquet tree
    partitioned by day (what an ingest job would maintain), then
    reads it back with a partition-key filter. Catalyst turns the
    filter into PartitionFilters — directory-level pruning at
    planning time (see test_scale_guards: the plan must carry the
    day PartitionFilter, not a post-scan filter). The day column is
    derived with tz-free date_format on the NTZ timestamp, so the
    layout and the answer are session-timezone-independent. The
    returned DataFrame reads the staged files lazily, so they live in
    a lifecycle-scoped dir (released at this thread's next call)."""
    from streamz_postgres_spark.lifecycle import scoped_dir

    staging = scoped_dir("q_partition_prune", "prune_lake_")
    e = load_table(spark, sf_dir, "events")
    staged = e.withColumn("day", F.date_format("ts", "yyyy-MM-dd")).select(
        "event_id", "event_type", "value", "day"
    )
    staged.write.mode("overwrite").partitionBy("day").parquet(staging)
    # Explicit schema: an EMPTY events table writes a partition tree
    # with no files at all, and schema inference then fails with
    # UNABLE_TO_INFER_SCHEMA (degenerate-cardinality sweep). The
    # writer's own schema is authoritative either way, and pinning it
    # also fixes the partition-value type to STRING instead of
    # leaving it to partition-type inference.
    lake = spark.read.schema(staged.schema).parquet(staging)
    return (
        lake.filter(F.col("day") == _PRUNE_DAY)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


# -- Pareto frontier --------------------------------------------------------


@register(
    "q_skyline",
    oracle="""
WITH cand AS (
  SELECT p_size, MIN(p_retailprice) AS best_price
  FROM part GROUP BY p_size
)
SELECT c.p_size, c.best_price
FROM cand c
WHERE NOT EXISTS (
  SELECT 1 FROM cand d
  WHERE d.p_size > c.p_size AND d.best_price <= c.best_price
)
""",
    tags=("filter", "join"),
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of parts: maximize size, minimize
    price — every (size, price) point no other point beats on both
    axes. The scale trick is the pre-reduction: within one size,
    only the cheapest part can survive, so a single group-by
    collapses the corpus to <= |distinct sizes| champions BEFORE the
    quadratic dominance test; the anti-join then runs on a
    broadcast-sized candidate set (50 rows here, bounded by the size
    domain at any corpus scale — this is the skyline analogue of the
    local-skyline-then-merge algorithm). MIN is exact, no float
    arithmetic anywhere."""
    p = load_table(spark, sf_dir, "part")
    cand = p.groupBy("p_size").agg(
        F.min("p_retailprice").alias("best_price")
    )
    dom = cand.select(
        F.col("p_size").alias("d_size"),
        F.col("best_price").alias("d_price"),
    )
    return cand.join(
        F.broadcast(dom),
        (F.col("d_size") > F.col("p_size"))
        & (F.col("d_price") <= F.col("best_price")),
        "left_anti",
    )


# -- schema evolution across file batches -----------------------------------

@register(
    "q_schema_evolution",
    oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN quality_tier IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pre_evolution,
       CAST(SUM(COALESCE(quality_tier, 0)) AS BIGINT) AS sum_tier
FROM (
  SELECT source, CAST(NULL AS BIGINT) AS quality_tier
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT source, n_chars % 5 AS quality_tier
  FROM documents WHERE doc_id % 2 = 1
) t
GROUP BY source
""",
    tags=("source", "layout"),
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift across file batches, handled at read time: an
    early batch written WITHOUT the `quality_tier` column and a later
    batch written WITH it are read as one dataset via mergeSchema —
    pre-evolution rows surface as NULLs, no rewrite of old files, no
    reader fork. This is the lake reality every long-lived 100 TB
    corpus hits (columns appear mid-stream); the rollup proves the
    merged scan aggregates across both schema generations. Schema
    merging costs one footer read per file at planning — at scale,
    pin the merged schema in a table catalog instead of re-inferring.
    The staged batches live in a lifecycle-scoped dir, as in
    q_partition_prune."""
    from streamz_postgres_spark.lifecycle import scoped_dir

    staging = scoped_dir("q_schema_evolution", "schema_evol_")

    d = load_table(spark, sf_dir, "documents")
    (
        d.filter(F.col("doc_id") % 2 == 0)
        .select("source")
        .write.mode("overwrite")
        .parquet(f"{staging}/batch=1")
    )
    (
        d.filter(F.col("doc_id") % 2 == 1)
        .select(
            "source", (F.col("n_chars") % 5).cast("bigint").alias("quality_tier")
        )
        .write.mode("overwrite")
        .parquet(f"{staging}/batch=2")
    )
    lake = spark.read.option("mergeSchema", "true").parquet(
        f"{staging}/batch=1", f"{staging}/batch=2"
    )
    return lake.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("quality_tier").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pre_evolution"),
        F.sum(F.coalesce(F.col("quality_tier"), F.lit(0)))
        .cast("bigint")
        .alias("sum_tier"),
    )


# -- data-quality column profile --------------------------------------------


@register(
    "q_data_profile",
    oracle="""
SELECT 'event_id' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
FROM events
UNION ALL
SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT user_id) AS BIGINT)
FROM events
UNION ALL
SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN event_type IS NULL OR event_type = ''
                     THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT event_type) AS BIGINT)
FROM events
UNION ALL
SELECT 'value', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN value IS NULL OR isnan(value)
                     THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT value) AS BIGINT)
FROM events
UNION ALL
SELECT 'props', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN props IS NULL OR props = '' OR props = '{}'
                     THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT props) AS BIGINT)
FROM events
""",
    tags=("relational", "quality", "profile"),
)
def q_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data-quality profile of the events table — the
    first query every ingestion pipeline runs against a new feed:
    per column, row count, problem count (NULL; plus NaN for
    doubles, empty/{} for strings) and exact distinct cardinality.
    ONE scan computes every column's aggregates side by side (each
    is a conditional partial agg; COUNT(DISTINCT x) for several x
    in one query expands per-column, so Spark plans a single pass
    with multiple aggregate expansions), then the per-column rows
    are presented via unpivot-shaped selects unioned together. At
    100 TB swap the exact distincts for approx_count_distinct and
    this is the daily feed-health job."""
    e = load_table(spark, sf_dir, "events")

    def null_pred(c: str):
        return F.col(c).isNull()

    specs = [
        ("event_id", null_pred("event_id"), "event_id"),
        ("user_id", null_pred("user_id"), "user_id"),
        (
            "event_type",
            F.col("event_type").isNull() | (F.col("event_type") == ""),
            "event_type",
        ),
        (
            "value",
            F.col("value").isNull() | F.isnan("value"),
            "value",
        ),
        (
            "props",
            F.col("props").isNull()
            | (F.col("props") == "")
            | (F.col("props") == "{}"),
            "props",
        ),
    ]
    agg_exprs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for name, bad, col in specs:
        agg_exprs.append(
            F.sum(bad.cast("int")).cast("bigint").alias(f"null_{name}")
        )
        agg_exprs.append(
            F.countDistinct(col).cast("bigint").alias(f"dist_{name}")
        )
    wide = e.agg(*agg_exprs)
    rows = None
    for name, _, _ in specs:
        part = wide.select(
            F.lit(name).alias("column_name"),
            F.col("n_rows"),
            F.col(f"null_{name}").alias("n_null"),
            F.col(f"dist_{name}").alias("n_distinct"),
        )
        rows = part if rows is None else rows.unionByName(part)
    return rows


# -- referential-integrity audit --------------------------------------------

_FK_EDGES = (
    # (child, fk, parent, pk) — grouped so each child table scans ONCE
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("events", "user_id", "customer", "c_custkey"),
)


def _sql_fk_edge(child: str, fk: str, parent: str, pk: str) -> str:
    return f"""SELECT '{child}.{fk}->{parent}' AS edge,
       CAST(COUNT(*) AS BIGINT) AS n_child,
       CAST(SUM(CASE WHEN c.{fk} IS NOT NULL AND p.{pk} IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
       CAST(COUNT(DISTINCT CASE WHEN p.{pk} IS NULL THEN c.{fk} END)
            AS BIGINT) AS n_missing_keys,
       CAST((SELECT COUNT(*) FROM {parent}) AS BIGINT) AS n_parent,
       CAST(COUNT(DISTINCT p.{pk}) AS BIGINT) AS n_referenced,
       CAST(COUNT(DISTINCT p.{pk}) AS DOUBLE)
         / (SELECT COUNT(*) FROM {parent}) AS ref_coverage
FROM {child} c LEFT JOIN {parent} p ON c.{fk} = p.{pk}"""


@register(
    "q_referential_integrity",
    oracle="\nUNION ALL\n".join(
        _sql_fk_edge(*e) for e in _FK_EDGES
    )
    + "\nORDER BY edge",
    tags=("relational", "quality", "join"),
)
def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the whole star schema — the
    feed-health companion to q_data_profile: for every FK edge, the
    child row count, the orphan rows (non-NULL FK with no parent),
    the DISTINCT missing key values (what a backfill would fetch),
    the parent key count, how many parent keys are actually
    referenced, and the referenced/parent coverage ratio (fact
    tables that reference 4%% of a dimension tell you the dimension
    snapshot and the fact feed are out of sync long before any join
    "loses" rows).

    Plan shape: each CHILD table is scanned once no matter how many
    FK edges leave it (lineitem's three edges ride one scan with
    three left joins and a single wide aggregate, unpivot-presented
    like q_data_profile); geography-bounded parents (region/nation)
    are broadcast explicitly, the rest are plain equi-joins AQE can
    size. Parent row counts are a bounded one-row-per-table frame
    broadcast onto the edge rows. The oracle keeps the textbook
    per-edge LEFT JOIN form, so the gate proves the shared-scan
    rewrite correct. At 100 TB swap the exact COUNT(DISTINCT ...)
    trio for approx_count_distinct (the multi-distinct expand
    multiplies the fact scan; the orphan/coverage question rarely
    needs exact cardinalities) — same note as q_data_profile;
    q_approx_distinct / q_kmv_distinct are the registered,
    error-audited forms of that swap."""
    by_child: dict[str, list[tuple[str, str, str]]] = {}
    for child, fk, parent, pk in _FK_EDGES:
        by_child.setdefault(child, []).append((fk, parent, pk))

    rows = None
    for child, edges in by_child.items():
        df = load_table(spark, sf_dir, child).select(
            *[F.col(fk) for fk, _, _ in edges]
        )
        agg_exprs = [F.count(F.lit(1)).cast("bigint").alias("n_child")]
        for i, (fk, parent, pk) in enumerate(edges):
            par = load_table(spark, sf_dir, parent).select(
                F.col(pk).alias(f"__pk_{i}")
            )
            if parent in ("region", "nation"):
                par = F.broadcast(par)
            df = df.join(par, F.col(fk) == F.col(f"__pk_{i}"), "left")
            orphan = F.col(fk).isNotNull() & F.col(f"__pk_{i}").isNull()
            agg_exprs.extend(
                [
                    F.sum(orphan.cast("int"))
                    .cast("bigint")
                    .alias(f"orph_{i}"),
                    F.countDistinct(
                        F.when(F.col(f"__pk_{i}").isNull(), F.col(fk))
                    )
                    .cast("bigint")
                    .alias(f"mkeys_{i}"),
                    F.countDistinct(F.col(f"__pk_{i}"))
                    .cast("bigint")
                    .alias(f"ref_{i}"),
                ]
            )
        wide = df.agg(*agg_exprs)
        for i, (fk, parent, _) in enumerate(edges):
            part = wide.select(
                F.lit(f"{child}.{fk}->{parent}").alias("edge"),
                F.lit(parent).alias("__parent"),
                F.col("n_child"),
                F.col(f"orph_{i}").alias("n_orphans"),
                F.col(f"mkeys_{i}").alias("n_missing_keys"),
                F.col(f"ref_{i}").alias("n_referenced"),
            )
            rows = part if rows is None else rows.unionByName(part)

    pcounts = None
    for parent in sorted({p for _, _, p, _ in _FK_EDGES}):
        pc = (
            load_table(spark, sf_dir, parent)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_parent"))
            .select(F.lit(parent).alias("__parent"), "n_parent")
        )
        pcounts = pc if pcounts is None else pcounts.unionByName(pc)

    return (
        rows.join(F.broadcast(pcounts), "__parent")
        .select(
            "edge",
            "n_child",
            "n_orphans",
            "n_missing_keys",
            "n_parent",
            "n_referenced",
            # try_divide: an EMPTY parent table makes coverage 0/0 —
            # DuckDB yields NULL, Spark's ANSI / raises
            # (degenerate-cardinality sweep, 0-row fixture)
            F.try_divide(
                F.col("n_referenced").cast("double"), F.col("n_parent")
            ).alias("ref_coverage"),
        )
        .orderBy("edge")
    )


@register(
    "q_columns_sql",
    oracle="""
SELECT COLUMNS('^l_.*(key|price|discount)$') FROM lineitem
WHERE l_quantity < 5.0
""",
    tags=("relational", "sql"),
)
def q_columns_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMNS('<regex>') in SQL SYNTAX — the fifth sqlext grammar,
    DuckDB's star-expansion for wide feature tables (project every
    column whose NAME matches; the idiom that keeps a 2,000-column
    feature store queryable without typing 400 names). Spark SQL has
    no COLUMNS; sqlext resolves the source view's schema at rewrite
    time and splices in the explicit column list, so Catalyst sees a
    plain projection and ReadSchema prunes the parquet scan to the
    matched columns only — name-driven column pruning, the property
    that matters at 100 TB where the unmatched columns are the wide
    payload. The oracle is DuckDB's NATIVE COLUMNS (same
    native-cross-check pattern as q_qualify_sql); the anchored
    pattern keeps re/RE2 partial-match semantics identical."""
    from streamz_postgres_spark import sqlext

    return sqlext.sql(
        spark,
        """SELECT COLUMNS('^l_.*(key|price|discount)$') FROM {lineitem}
            WHERE l_quantity < 5.0""",
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "q_exclude_sql",
    oracle="""
SELECT * EXCLUDE (text) FROM documents WHERE n_chars >= 400
""",
    tags=("relational", "sql"),
)
def q_exclude_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``* EXCLUDE (<cols>)`` in SQL SYNTAX — the sixth sqlext
    grammar, the DuckDB/Snowflake star-minus idiom ("everything but
    the wide payload"). Spark spells it ``* EXCEPT``; the adapter
    validates every listed column against the source schema at
    rewrite time (a typo'd name must ERROR, not silently keep the
    payload column in the scan) and splices in the native form. The
    registered query excludes the ``text`` payload of documents, so
    the executed plan's ReadSchema drops the corpus body entirely —
    at 100 TB that single clause is the difference between scanning
    metadata and scanning the whole corpus. The oracle is DuckDB's
    NATIVE ``* EXCLUDE`` (same native-cross-check pattern as
    q_qualify_sql/q_columns_sql)."""
    from streamz_postgres_spark import sqlext

    return sqlext.sql(
        spark,
        "SELECT * EXCLUDE (text) FROM {documents} WHERE n_chars >= 400",
        documents=load_table(spark, sf_dir, "documents"),
    )


@register(
    "q_replace_sql",
    oracle="""
SELECT * REPLACE (upper(lang) AS lang) FROM documents
WHERE n_chars >= 400
""",
    tags=("relational", "sql"),
)
def q_replace_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``* REPLACE (<expr> AS <col>)`` in SQL SYNTAX — the seventh
    sqlext grammar, the DuckDB/Snowflake star-replace ("every column
    as-is, but normalize this one in place"). Spark has no
    ``* REPLACE``; the adapter resolves the source schema at rewrite
    time and splices the explicit projection, erroring on unknown or
    duplicate targets exactly as DuckDB does. Column ORDER and the
    rest of the star are preserved — the property that keeps
    downstream positional consumers (parquet writers, ML feature
    builders) stable while one column is normalized. The oracle is
    DuckDB's NATIVE ``* REPLACE`` (the native-cross-check pattern of
    the other star grammars)."""
    from streamz_postgres_spark import sqlext

    return sqlext.sql(
        spark,
        "SELECT * REPLACE (upper(lang) AS lang) FROM {documents} "
        "WHERE n_chars >= 400",
        documents=load_table(spark, sf_dir, "documents"),
    )


# -- column entropy profile ---------------------------------------------------

_ENTROPY_COLS = (
    ("documents", "lang"),
    ("documents", "source"),
    ("events", "event_type"),
    ("orders", "o_orderstatus"),
)


def _sql_entropy_counts() -> str:
    return "\nUNION ALL\n".join(
        f"SELECT '{t}.{c}' AS col, CAST({c} AS VARCHAR) AS v, "
        f"CAST(COUNT(*) AS BIGINT) AS c FROM {t} GROUP BY 2"
        for t, c in _ENTROPY_COLS
    )


@register(
    "q_column_entropy_profile",
    oracle=f"""
WITH counts AS (
  {_sql_entropy_counts()}
), tot AS (
  SELECT col, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY col
), terms AS (
  SELECT counts.col, n,
         {sql_qround(
             "-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
             " * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))", 9)} AS term
  FROM counts JOIN tot USING (col)
)
SELECT col, n AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       {sql_dsum('term')} AS entropy,
       CASE WHEN COUNT(*) > 1
            THEN {sql_dsum('term')}
                 / {sql_qround('ln(CAST(COUNT(*) AS DOUBLE))', 9)}
            ELSE 0.0 END AS norm_entropy
FROM terms
GROUP BY col, n
ORDER BY col
""",
    tags=("relational", "stats"),
)
def q_column_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level Shannon-entropy profile beside q_data_profile's
    null/distinct audit: per categorical column, the entropy of its
    value distribution and the [0,1] normalization by ln(k) — the
    feature-usefulness screen (norm_entropy ~ 0: one value dominates,
    the column carries nothing; ~ 1: uniform). Run before training
    exports to drop dead features and before partitioning choices to
    spot skewed keys.

    Per column the plan is one keyed value-count (map-side
    combinable, shuffle O(distinct values)) then a constant fold;
    columns union independently. Each -p*ln(p) term is qround(9)
    ulp-guarded (the libm rule) before the exact decimal sum; the
    normalizer ln(k) gets the same guard; one division."""
    counts = None
    for t, c in _ENTROPY_COLS:
        part = (
            load_table(spark, sf_dir, t)
            .groupBy(F.col(c).cast("string").alias("v"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .select(F.lit(f"{t}.{c}").alias("col"), "v", "c")
        )
        counts = part if counts is None else counts.unionByName(part)
    tot = counts.groupBy("col").agg(F.sum("c").cast("bigint").alias("n"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    terms = counts.join(F.broadcast(tot), "col").select(
        "col", "n", qround(-p * F.log(p), 9).alias("term")
    )
    ln_k = qround(F.log(F.count(F.lit(1)).cast("double")), 9)
    return (
        terms.groupBy("col", "n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            dsum("term").alias("entropy"),
            F.when(F.count(F.lit(1)) > 1, dsum("term") / ln_k)
            .otherwise(0.0)
            .alias("norm_entropy"),
        )
        .select(
            "col",
            F.col("n").alias("n_rows"),
            "n_distinct",
            "entropy",
            "norm_entropy",
        )
        .orderBy("col")
    )
