"""Subquery forms: scalar (correlated) and IN.

Catalyst decorrelates these into joins; the DataFrame formulations
below ARE the decorrelated plans, proving the equivalence the oracle
checks (the DuckDB side keeps the textbook subquery syntax).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamz_postgres_spark.catalog import load_table
from streamz_postgres_spark.functions.numeric import dsum, sql_dsum
from streamz_postgres_spark.registry import register


@register(
    "q_subquery_scalar",
    oracle=f"""
SELECT {sql_dsum('l_extendedprice')} / 7.0 AS avg_yearly
FROM lineitem l1
WHERE l_quantity < (
  SELECT 0.2 * ({sql_dsum('l_quantity')} / COUNT(l_quantity))
  FROM lineitem l2
  WHERE l2.l_partkey = l1.l_partkey
)
""",
    tags=("subquery",),
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): lines below 20%%
    of their part's average quantity. Expressed as the decorrelated
    aggregate-join — one shuffle on l_partkey, no per-row subquery."""
    li = load_table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * (dsum("l_quantity") / F.count("l_quantity"))).alias(
            "qty_threshold"
        )
    )
    return (
        li.join(part_avg, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


@register(
    "q_subquery_in",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS sum_price
FROM orders
WHERE o_custkey IN (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
)
GROUP BY o_orderstatus
""",
    tags=("subquery",),
)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery as its decorrelated form: left-semi join."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "MACHINERY"
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


@register(
    "q_recursive_cte",
    oracle="""
WITH RECURSIVE edges AS (
  SELECT CAST(c_custkey AS INTEGER) AS node, c_name AS name,
         CASE WHEN c_custkey = 0 THEN NULL
              ELSE CAST(floor((c_custkey - 1) / 2.0) AS INTEGER)
         END AS parent
  FROM customer
),
walk AS (
  SELECT node, CAST(0 AS INTEGER) AS depth, name AS path
  FROM edges WHERE parent IS NULL
  UNION ALL
  SELECT e.node, CAST(w.depth + 1 AS INTEGER) AS depth,
         w.path || '>' || e.name AS path
  FROM edges e JOIN walk w ON e.parent = w.node
)
SELECT node, depth, path FROM walk ORDER BY node
""",
    tags=("subquery", "sql", "iterative"),
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WITH RECURSIVE`` — hierarchy walk (root path + depth for
    every node of a parent-child tree), the one iterative-SQL
    surface the repo previously expressed only as library loops
    (pagerank/connected-components drive the iteration from Python;
    here the ENGINE does). Spark SQL supports recursive CTEs
    natively since 4.0 (probed on this image) with the same
    anchor-UNION ALL-recursive-member grammar DuckDB and Postgres
    use, so the SAME query text runs on both engines — the oracle
    is literally this query. Fixture: a binary-heap hierarchy over
    customer (parent(k) = floor((k-1)/2), root 0) — deterministic,
    derives from data (no synthetic table), and its depth GROWS with
    the fixture (log2 N: 10 levels at sf0.01) so the recursion is
    exercised for real, not a 2-level toy. Execution/scale: Spark
    lowers the recursive member to an iterative union-loop — each
    round joins the FRONTIER (previous round's rows) against the
    edge table, exactly the pointer-chasing join pattern of the
    library's CC fixpoint but engine-managed; rounds = tree depth =
    log2 N (37 at 10^11 rows — far under the
    spark.sql.cteRecursionLevelLimit default of 100), each round a
    keyed equi-join (broadcastable frontier when narrow), output
    linear in nodes. Postgres-parity note: this is the reference
    ecosystem's daily org-chart/bill-of-materials idiom
    (streamz_postgres users run it against live PG), so the engine
    owning it matters for drop-in parity."""
    return spark.sql(
        """WITH RECURSIVE edges AS (
          SELECT CAST(c_custkey AS INTEGER) AS node, c_name AS name,
                 CASE WHEN c_custkey = 0 THEN NULL
                      ELSE CAST(floor((c_custkey - 1) / 2.0)
                           AS INTEGER)
                 END AS parent
          FROM {customer}
        ),
        walk AS (
          SELECT node, CAST(0 AS INTEGER) AS depth, name AS path
          FROM edges WHERE parent IS NULL
          UNION ALL
          SELECT e.node, CAST(w.depth + 1 AS INTEGER) AS depth,
                 w.path || '>' || e.name AS path
          FROM edges e JOIN walk w ON e.parent = w.node
        )
        SELECT node, depth, path FROM walk ORDER BY node""",
        customer=load_table(spark, sf_dir, "customer"),
    )
