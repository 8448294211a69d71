"""Scale posture: the helpers and policies that make the operator
library hold up at 100 TB (SURVEY §7 M4).

Policies enforced across the library (see tests/test_scale_guards):
- scans are declarative -> pushdown + pruning always available;
- bounded dims broadcast; big-big joins shuffle on keys under AQE
  (skew-join splitting on);
- candidate generation for similarity/dedup is always a bucketed
  equi-join, never a cross join;
- ordered windows always partition by a key;
- no collect()/driver materialization inside operators;
- doubles aggregate through exact decimal accumulators, so results
  don't depend on partitioning — re-partitioning is always safe.

This module adds the two tools that need code:
- ``salted_join``: explicit skew mitigation for when AQE's runtime
  splitting isn't enough (e.g. one key is 30%% of a 100 TB fact);
- ``explain_summary``: compact plan audit used by the guard tests,
  the plan budget (tests/plan_budget.json) and scripts/measure.py.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Skew-mitigating equi join: split each hot left key into
    ``salt`` sub-keys and replicate the (small-ish) right side once
    per sub-key, so one giant key spreads over ``salt`` tasks.

    The left side gets a DETERMINISTIC salt (hash of the whole row,
    not rand(): retries/speculative tasks must re-produce the same
    salt or shuffle files disagree). The right side explodes a
    literal 0..salt-1 array. Result is value-identical to the plain
    join — q_join_salted's oracle proves it.

    Use when a key histogram shows heavy hitters; for moderate skew
    prefer AQE's skew-join splitting (on by default in session.py).

    Only left-preserving join types are valid: an unmatched RIGHT row
    would be emitted once per salt replica under right/full joins.
    """
    # normalize the same way Spark's JoinType does (case-insensitive,
    # underscores ignored) so every accepted alias passes the guard
    norm = how.lower().replace("_", "")
    if norm not in (
        "inner", "left", "leftouter", "leftsemi", "leftanti", "semi", "anti"
    ):
        raise ValueError(
            f"salted_join supports left-preserving joins only, got {how!r}: "
            "right/full would duplicate unmatched right rows per salt"
        )
    left_cols = left.columns
    salted_l = left.withColumn(
        "__salt",
        F.pmod(F.hash(*[F.col(c) for c in left_cols]), F.lit(salt)).cast("int"),
    )
    salted_r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = salted_l.join(salted_r, [on, "__salt"], how)
    return out.drop("__salt")


#: plan counters: summary key -> formatted-explain detail-header
#: pattern. Formatted explain prints every node twice (tree + detail);
#: matching only the "(4) Exchange" detail headers counts each node
#: once. ReusedExchange / BroadcastExchange headers do not match
#: "Exchange\b", so a shared shuffle counts once.
PLAN_COUNTERS = {
    "exchanges": r"Exchange\b",
    "scans": r"Scan (?!ExistingRDD\b)",
    "joins": r"(?:BroadcastHash|SortMerge|ShuffledHash|BroadcastNestedLoop)Join\b"
    r"|CartesianProduct\b",
    "nested_loop_joins": r"BroadcastNestedLoopJoin\b",
    "python_nodes": r"\w*(?:Python|Pandas|InArrow)\w*",
    "checkpoint_scans": r"Scan ExistingRDD\b",
}


def explain_summary(df: DataFrame) -> dict:
    """Compact audit of a physical plan: node counts (the
    ``PLAN_COUNTERS`` keys, which tests/plan_budget.json caps per batch
    key), plus the two flags no plan may raise: a cartesian product
    and a window over a single partition."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    s = buf.getvalue()
    # a window is single-partition iff ITS child exchange is
    # SinglePartition — "SinglePartition" anywhere in the plan also
    # fires on harmless global agg/limit stages
    sp_ids = {
        m.group(1)
        for m in re.finditer(r"^\((\d+)\) Exchange\b", s, re.M)
        if "SinglePartition" in s[m.end() : m.end() + 200]
    }
    # a Window's partitioning exchange sits somewhere below it in the
    # tree (often under a Sort): walk down from each Window to the
    # FIRST exchange and check that one
    tree = re.findall(r"^[ :+\-*]*([\w ]+?)\s*\((\d+)\)\s*$", s, re.M)
    sp_window = False
    for i, (name, _) in enumerate(tree):
        if name != "Window":
            continue
        for child, cid in tree[i + 1 :]:
            if child == "Exchange":
                sp_window = sp_window or cid in sp_ids
                break
    out = {
        key: len(re.findall(rf"^\(\d+\) (?:{pat})", s, re.M))
        for key, pat in PLAN_COUNTERS.items()
    }
    out["has_cartesian"] = "CartesianProduct" in s
    out["single_partition_windows"] = sp_window
    # A localCheckpoint truncates lineage, so the audited plan stops
    # at ExistingRDD and the scan/join evidence below it would go
    # dark. Operators that checkpoint an intermediate stash the
    # pre-checkpoint frame(s) in ``_plan_inner`` — add their counts
    # and flags so the summary still covers the WHOLE computation.
    for inner in getattr(df, "_plan_inner", ()) or ():
        for key, value in explain_summary(inner).items():
            if isinstance(value, bool):
                out[key] = out[key] or value
            else:
                out[key] += value
    return out
