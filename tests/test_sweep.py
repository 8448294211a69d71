"""scripts/sweep.py without a sweep: which keys each axis runs, what
each fixture builder writes, and the axis-conf check. DuckDB only;
the conf check reads the test session and builds none."""

from __future__ import annotations

import json
import shutil
import sys

import duckdb
import pytest

from scripts import sweep
from scripts.sweep import AXES, Axis, check_conf, swept_keys
from streamz_postgres_spark.catalog import TABLES
from streamz_postgres_spark.registry import REGISTRY, _load_all, is_live
from tests.conftest import PLAN_BUDGET, SF_DIR

_load_all()

#: every derived fixture of the axis table, once each
BUILDERS = {}
for _name, _axis in AXES.items():
    for _side, _fn in (("batch", _axis.batch), ("live", _axis.live)):
        if _fn not in (None, sweep._source, *BUILDERS.values()):
            BUILDERS[f"{_name}-{_side}"] = _fn


def test_every_axis_sweeps_the_plan_budget_batch_keys():
    budget = set(json.loads(PLAN_BUDGET.read_text()))
    for name, axis in AXES.items():
        keys = swept_keys(axis, sorted(REGISTRY))
        assert {k for k in keys if not is_live(k)} == budget, name
        assert any(map(is_live, keys)) == (axis.live is not None), name


@pytest.fixture(scope="module")
def built():
    dirs = {name: fn(SF_DIR) for name, fn in BUILDERS.items()}
    yield dirs
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)


def _scan(d: str, t: str) -> str:
    return f"read_parquet('{d}/{t}.parquet')"


@pytest.mark.parametrize("name", BUILDERS)
def test_fixture_keeps_every_table_schema(built, name):
    con = duckdb.connect()

    def schema(d, t):
        return con.execute(f"DESCRIBE SELECT * FROM {_scan(d, t)}").fetchall()

    for t in TABLES:
        assert schema(built[name], t) == schema(SF_DIR, t), t


def test_degenerate_fixtures_have_zero_and_one_rows(built):
    con = duckdb.connect()
    for name, n in (("empty-batch", 0), ("single-batch", 1)):
        for t in TABLES:
            (got,) = con.execute(
                f"SELECT COUNT(*) FROM {_scan(built[name], t)}"
            ).fetchone()
            assert got == n, (name, t)


def test_order_fixture_is_a_reordered_copy(built):
    con = duckdb.connect()
    d = built["order-batch"]
    for t in TABLES:
        for a, b in ((d, SF_DIR), (SF_DIR, d)):
            (extra,) = con.execute(
                f"SELECT COUNT(*) FROM (SELECT * FROM {_scan(a, t)} "
                f"EXCEPT ALL SELECT * FROM {_scan(b, t)})"
            ).fetchone()
            assert extra == 0, t
    ids = [con.execute(f"SELECT event_id FROM {_scan(x, 'events')}").fetchall()
           for x in (d, SF_DIR)]
    assert ids[0] != ids[1]


def test_check_conf_raises_for_a_conf_the_session_lacks(spark):
    tz = "spark.sql.session.timeZone"
    check_conf(spark, {})
    check_conf(spark, {tz: spark.conf.get(tz)})
    for name in ("layout", "tz"):
        with pytest.raises(RuntimeError, match="not applied"):
            check_conf(spark, AXES[name].conf)


def test_unknown_key_exits_before_any_fixture_or_session(monkeypatch, capsys):
    def refuse(*_a, **_k):
        raise AssertionError("built before the key check")

    monkeypatch.setitem(AXES, "gate", Axis(refuse, refuse, {}, ""))
    monkeypatch.setattr(sweep, "get_spark", refuse)
    monkeypatch.setattr(sys, "argv", ["sweep.py", "gate", "q_group_agg", "q_nope"])
    assert sweep.main() == 2
    assert "q_nope" in capsys.readouterr().err
