"""Measure registry keys: wall time and Spark work, plans, plan budget.

Usage:
  python scripts/measure.py sweep [KEY...] > sweep.json
  python scripts/measure.py plan KEY...
  python scripts/measure.py budget

``sweep`` times each key (all registered keys when none are named):
one warm-up, then three noop-sink executions, reporting the median.
Each timed run is tagged with a Spark job group, and the session's
event log is folded into the median run's jobs, stages, tasks,
executor CPU seconds and shuffle bytes written; the JSON goes to
stdout, per-key progress to stderr. The session is the engine's
(``session.get_spark``), Spark UI off. Timings are not
sentinel-bracketed: use them to rank keys, not as gate evidence.

``plan`` prints each key's formatted physical plan and its
``explain_summary``.

``budget`` rewrites tests/plan_budget.json from the current plans:
every batch key's ``explain_summary`` counters, built in the test
session at the test scale factor, so the file matches what
tests/test_scale_guards.py checks. Run it after a plan win and review
the JSON diff.

``sweep`` and ``plan`` read the scale factor in $SPARK_GRAFT_SF_DIR,
else the test scale factor (tests/conftest.SF_DIR).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.harness import fold_event_log, job_group  # noqa: E402
from streamz_postgres_spark.plans.scale import (  # noqa: E402
    PLAN_COUNTERS,
    explain_summary,
)
from streamz_postgres_spark.registry import REGISTRY, _load_all  # noqa: E402
from streamz_postgres_spark.session import get_spark  # noqa: E402
from tests.conftest import (  # noqa: E402
    PLAN_BUDGET,
    SF_DIR,
    batch_plan_summaries,
    spark_session,
)


def sweep(keys: list[str], sf_dir: str) -> None:
    log_dir = Path(tempfile.mkdtemp(prefix="measure_eventlog_"))
    spark = get_spark(
        "measure",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for key in keys:
        fn = REGISTRY[key].spark_fn
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs[key] = []
            for i in range(3):
                with job_group(spark, f"{key}#{i}"):
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    runs[key].append(time.perf_counter() - t0)
        except Exception as e:  # noqa: BLE001
            runs.pop(key, None)
            errors[key] = f"{type(e).__name__}: {e}"[:160]
        print(f"{key}: {errors.get(key) or round(statistics.median(runs[key]), 3)}",
              file=sys.stderr, flush=True)
    spark.stop()  # completes the event log
    try:
        groups = fold_event_log(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    records = {}
    for key, times in runs.items():
        median_run = sorted(range(3), key=times.__getitem__)[1]
        work = groups.get(f"{key}#{median_run}", {})
        records[key] = {
            "wall_s": round(times[median_run], 3),
            "runs_s": [round(t, 3) for t in times],
            **{c: int(work.get(c, 0)) for c in ("jobs", "stages", "tasks")},
            "task_cpu_s": round(work.get("task_cpu_s", 0.0), 3),
            "shuffle_bytes": int(work.get("shuffle_bytes", 0)),
        }
    print(json.dumps(
        {"sf_dir": sf_dir, "cpus": cpus, "keys": records, "errors": errors},
        indent=1,
    ))


def plan(keys: list[str], sf_dir: str) -> None:
    spark = spark_session()
    for key in keys:
        df = REGISTRY[key].spark_fn(spark, sf_dir)
        print(f"== {key}")
        df.explain("formatted")
        print(json.dumps(explain_summary(df)))


def budget() -> None:
    rows = [
        f"  {json.dumps(key)}: {json.dumps({c: s[c] for c in PLAN_COUNTERS})}"
        for key, s in batch_plan_summaries(spark_session())
    ]
    PLAN_BUDGET.write_text("{\n" + ",\n".join(rows) + "\n}\n")
    print(f"wrote {PLAN_BUDGET} ({len(rows)} keys)")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("sweep", help="median-of-3 noop-sink timing + Spark work")
    p.add_argument("keys", nargs="*")
    p = sub.add_parser("plan", help="formatted plan and explain_summary")
    p.add_argument("keys", nargs="+")
    sub.add_parser("budget", help="rewrite tests/plan_budget.json")
    args = ap.parse_args()
    _load_all()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR)
    if args.cmd == "sweep":
        sweep(args.keys or sorted(REGISTRY), sf_dir)
    elif args.cmd == "plan":
        plan(args.keys, sf_dir)
    else:
        budget()


if __name__ == "__main__":
    main()
