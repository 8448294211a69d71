from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"

#: per batch key, ceilings on explain_summary's plan counters at SF_DIR
#: (rewrite with ``python scripts/measure.py budget``)
PLAN_BUDGET = Path(__file__).resolve().parent / "plan_budget.json"


def spark_session():
    """The test session. ``scripts/measure.py budget`` builds its plans
    in this same session, so the budget and its test cannot drift."""
    from streamz_postgres_spark.session import get_spark

    s = get_spark("pytest", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    return s


def batch_keys() -> list[str]:
    """Every registered key whose DataFrame is a plan to audit: the
    keys that are not live (``registry.is_live``)."""
    from streamz_postgres_spark.registry import REGISTRY, _load_all, is_live

    _load_all()
    return [k for k in sorted(REGISTRY) if not is_live(k)]


def batch_plan_summaries(spark):
    """Yield (key, explain_summary) for every batch key, each plan
    built once, in key order, starting from an empty cache. A plan
    depends on what is cached: once q_dedup_minhash has run, its
    materialized signature cache (the same plan as
    q_dedup_incremental's) gives q_dedup_incremental 3 exchanges
    instead of 2. Releasing every pinned frame first makes the counts
    the same in a fresh session and after any other test."""
    from streamz_postgres_spark.lifecycle import release_all
    from streamz_postgres_spark.plans.scale import explain_summary
    from streamz_postgres_spark.registry import REGISTRY

    release_all()
    spark.catalog.clearCache()
    for key in batch_keys():
        yield key, explain_summary(REGISTRY[key].spark_fn(spark, SF_DIR))


class FakeGroupState:
    """Duck-typed applyInPandasWithState GroupState for driving a fold
    directly: ``exists`` and ``get`` are PROPERTIES, as on the real
    one, and ``update`` stores the tuple."""

    def __init__(self, value=None):
        self._value = value

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, value):
        self._value = value


@pytest.fixture(scope="session")
def spark():
    yield spark_session()


@pytest.fixture(scope="session")
def duck():
    from streamz_postgres_spark.oracle import duckdb_connection

    return duckdb_connection(SF_DIR)
