"""Scratch lifetime: everything an engine call hands out lazily (a
persisted or checkpointed frame, a staged dir, a catalog table) is
released by that thread's next call of the same key, and nothing
piles up across repeated invocations or outlives the interpreter.
``streamz_postgres_spark.lifecycle`` owns the policy."""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys
import tempfile
import textwrap
import threading
from pathlib import Path

import pytest

from tests.conftest import SF_DIR

PKG = Path(__file__).resolve().parent.parent / "streamz_postgres_spark"

_LIST_NAME = re.compile(r"^_\w*_(DIRS|LAYOUTS)$")


def _engine_prefixes() -> tuple[str, ...]:
    """Every scratch-name prefix the engine passes to ``tempfile``
    (``prefix="..."``) or to ``lifecycle.scoped_dir``."""
    found = set()
    for path in PKG.rglob("*.py"):
        src = path.read_text()
        found.update(re.findall(r'prefix="(\w+)"', src))
        found.update(re.findall(r'scoped_dir\(\s*[^,()]+,\s*"(\w+)"', src))
    return tuple(sorted(found))


def _engine_entries(tmp: str) -> list[str]:
    return sorted(e for e in os.listdir(tmp) if e.startswith(_engine_prefixes()))


#: the only engine modules allowed each temp-view call: the public
#: ``catalog.register_views`` (its views must outlive the call) and
#: the memory sink of ``run_to_table``. Call-scoped views are bound
#: as ``{name}`` frames through ``spark.sql`` / ``sqlext.sql``.
_VIEW_OWNERS = {
    "createOrReplaceTempView": "catalog.py",
    "dropTempView": "runner.py",
}


#: the one engine module that sets session conf and the worker
#: environment (``catalog.ship_package``)
_ENV_OWNER = "catalog.py"


def test_scratch_lifetime_has_one_owner():
    """Only lifecycle.py creates invocation-scoped dirs: no other
    engine module calls ``tempfile.mkdtemp`` (call-scoped scratch is a
    ``TemporaryDirectory``) or keeps a module-level ``_*_DIRS`` /
    ``_*_LAYOUTS`` list of dirs to clean up later. No engine module
    pairs a temp view by hand outside ``_VIEW_OWNERS``. Only
    ``_ENV_OWNER`` touches ``sparkContext.environment`` or calls
    ``conf.set`` / ``conf.unset``: process-wide settings saved and
    restored around one call break the calls that overlap it."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "lifecycle.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        rel = path.relative_to(PKG.parent)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                if name == "mkdtemp":
                    offenders.append(f"{rel}:{node.lineno} calls mkdtemp")
                if _VIEW_OWNERS.get(name, path.name) != path.name:
                    offenders.append(f"{rel}:{node.lineno} calls {name}")
                if (
                    name in ("set", "unset")
                    and isinstance(f, ast.Attribute)
                    and isinstance(f.value, ast.Attribute)
                    and f.value.attr == "conf"
                    and path.name != _ENV_OWNER
                ):
                    offenders.append(f"{rel}:{node.lineno} calls conf.{name}")
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "environment"
                and path.name != _ENV_OWNER
            ):
                offenders.append(f"{rel}:{node.lineno} touches .environment")
        for node in tree.body:
            targets = (
                node.targets
                if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign) else []
            )
            for t in targets:
                if isinstance(t, ast.Name) and _LIST_NAME.match(t.id):
                    offenders.append(f"{rel}:{node.lineno} defines {t.id}")
    assert not offenders, offenders
    assert "prune_lake_" in _engine_prefixes()  # the scan sees scoped_dir


def test_track_scoped_frees_checkpoint_blocks(spark):
    """A tracked localCheckpoint frame's blocks leave executor storage
    at the slot's release; DataFrame.unpersist alone keeps them."""
    from streamz_postgres_spark import lifecycle

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    frame = spark.range(10).localCheckpoint(eager=True)
    lifecycle.track_scoped("test_ckpt", frame)
    assert jsc.getPersistentRDDs().size() == before + 1
    lifecycle.track_scoped("test_ckpt", spark.range(3).localCheckpoint(eager=True))
    assert jsc.getPersistentRDDs().size() == before + 1
    lifecycle.release_scoped("test_ckpt")
    assert jsc.getPersistentRDDs().size() == before


def test_sqlext_frames_dropped_when_analysis_fails(spark):
    """A frame bound through ``sqlext.sql`` is dropped even when the
    query fails analysis — on the plain path and on the ASOF path,
    which binds its joined frame through the same formatter."""
    from pyspark.errors import AnalysisException

    from streamz_postgres_spark import sqlext

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    df = spark.createDataFrame([(1, 1)], "k int, ts int")
    with pytest.raises(AnalysisException):
        sqlext.sql(spark, "SELECT no_such_col FROM {t}", t=df)
    with pytest.raises(AnalysisException):
        sqlext.sql(
            spark,
            "SELECT l.no_such_col FROM {l} l ASOF JOIN {r} r "
            "ON l.k = r.k AND l.ts >= r.ts",
            l=df,
            r=df.select("k", "ts"),
        )
    assert temp_views() == before


@pytest.mark.parametrize("key", ["q_partition_prune", "q_stream_file_sink"])
def test_other_thread_call_keeps_this_threads_scratch(spark, key):
    """Thread A builds a key's lazy frame; thread B then calls the
    same key. B's call must not release A's staged files: A's frame
    still reads them (a shared module-global dir list deleted them,
    and A's collect failed with the file gone)."""
    from streamz_postgres_spark.registry import REGISTRY, _load_all

    _load_all()
    fn = REGISTRY[key].spark_fn
    built, go, out = threading.Event(), threading.Event(), {}

    def thread_a():
        df = fn(spark, SF_DIR)
        built.set()
        go.wait(timeout=600)
        try:
            out["rows"] = sorted(map(tuple, df.collect()))
        except Exception as e:  # reported by the assert below
            out["error"] = e

    a = threading.Thread(target=thread_a)
    a.start()
    assert built.wait(timeout=600), key
    rows_b = sorted(map(tuple, fn(spark, SF_DIR).collect()))  # thread B
    go.set()
    a.join(timeout=600)
    assert not a.is_alive(), key
    assert "error" not in out, (key, out.get("error"))
    assert out["rows"] == rows_b, key


#: keys that hold a slot (dir, checkpoint blocks, catalog table) or
#: run a memory sink; each is invoked _ROUNDS times in one session
_LEAK_KEYS = (
    "q_stream_tumbling_watermarked",
    "q_stream_transform_timers",
    "q_stream_file_sink",
    "q_cdc_materialize",
    "q_partition_prune",
    "q_join_bucketed",
    "q_pagerank",
    "q_dedup_clusters",
    "q_asof_sql",
    "q_pattern_measures",
)
_ROUNDS = 5


@pytest.mark.slow
def test_repeated_invocations_do_not_grow_scratch(spark, tmp_path, monkeypatch):
    """After a key's first invocation, further invocations grow none
    of: the session's temp views and catalog tables, the engine's
    entries in the temp dir, and the persisted (incl. checkpointed)
    RDDs."""
    from streamz_postgres_spark.registry import REGISTRY, _load_all

    _load_all()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    jsc = spark.sparkContext._jsc

    def counts():
        tables = spark.catalog.listTables()
        return {
            "temp views": sum(t.isTemporary for t in tables),
            "catalog tables": sum(not t.isTemporary for t in tables),
            "temp dir entries": len(_engine_entries(str(tmp_path))),
            "persisted RDDs": jsc.getPersistentRDDs().size(),
        }

    for key in _LEAK_KEYS:
        fn = REGISTRY[key].spark_fn
        rows = None
        for i in range(_ROUNDS):
            got = sorted(map(tuple, fn(spark, SF_DIR).collect()))
            assert rows is None or got == rows, key
            rows = got
            if i == 0:
                first = counts()
            else:
                now = counts()
                grown = {k: (first[k], v) for k, v in now.items() if v > first[k]}
                assert not grown, (key, i + 1, grown)


@pytest.mark.slow
def test_process_exit_leaves_no_scratch(tmp_path):
    """Scoped dirs still held when the interpreter exits are removed:
    a child that runs two keys holding dirs leaves no engine entry in
    its temp dir."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    child = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(PKG.parent)!r})
        from tests.conftest import SF_DIR, spark_session
        from streamz_postgres_spark.registry import REGISTRY, _load_all

        _load_all()
        spark = spark_session()
        for key in ("q_partition_prune", "q_stream_file_sink"):
            assert REGISTRY[key].spark_fn(spark, SF_DIR).count() > 0
        import os
        held = [e for e in os.listdir({str(tmp)!r})
                if e.startswith(("prune_lake_", "filesink_"))]
        print("HELD", len(held))
        """
    )
    env = {
        **os.environ,
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    r = subprocess.run(
        [sys.executable, "-c", child],
        cwd=PKG.parent,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    held = int(re.search(r"HELD (\d+)", r.stdout).group(1))
    assert held == 2  # both dirs existed while their frames were live
    assert _engine_entries(str(tmp)) == []
