"""Benchmark entry point.

    python3 perfbench/run.py --workload {cdc_pg,queries}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Prints progress notes and, as the last
line of stdout, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, which holds every ``end_to_end`` metric of
BENCHMARK.json with ``--trace 0`` and every ``per_layer`` metric with
``--trace 1`` (0 for a layer the workload does not run). Everything
the run writes stays in ``.perfbench_work/`` (removed at exit) and
``.perfbench_cache/`` (generated fixtures, reused across runs).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("cdc_pg", "queries")


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _isolate(work: Path) -> None:
    """Point every scratch location of Python, Spark and the engine
    into ``work`` before anything creates one."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = None
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    # the engine default (24g) is sized for a 32-core host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def main() -> int:
    args = _args()
    if not (ROOT / "streamz_postgres_spark").is_dir() or not (ROOT / "bench.py").is_file():
        sys.exit(f"engine sources not found under {ROOT}; run from a full checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    catalog = spec["per_layer"] if args.trace else spec["end_to_end"]

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    _isolate(work)
    sys.path[:0] = [str(HERE), str(ROOT)]
    # SIGTERM unwinds through the finally blocks (cluster, JVM, dirs)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.chdir(work)  # anything written relative to cwd stays in the run dir

    from harness import Ctx, MemSampler, leak_counts, start_spark, stop_spark

    ctx = Ctx(root=ROOT, work=work, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace))
    sessions = []

    def spark_start():
        t = time.perf_counter()
        sessions.append(start_spark(ctx, f"perfbench-{args.workload}"))
        ctx.setup["setup.session_s"] = time.perf_counter() - t
        sc = sessions[0].sparkContext
        ctx.notes["host"] = {
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "defaultParallelism": sc.defaultParallelism,
        }
        return sessions[0]

    try:
        with MemSampler() as mem:
            try:
                try:
                    if args.workload == "cdc_pg":
                        import cdc_pg

                        cdc_pg.run(ctx, spark_start)
                    else:
                        import queries

                        queries.run(ctx, spark_start)
                except Exception:  # noqa: BLE001 - counted; the result line still prints
                    ctx.outcome(False, args.workload, traceback.format_exc())
                if sessions and ctx.trace:
                    ctx.metrics.update(leak_counts(ctx, sessions[0]))
            finally:
                if sessions:
                    stop_spark(sessions[0])
        for hook in ctx.after_stop:
            try:
                hook()
            except Exception:  # noqa: BLE001 - counted; the result line still prints
                ctx.outcome(False, "after-stop fold", traceback.format_exc())
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        if not any((ROOT / ".perfbench_work").iterdir()):
            (ROOT / ".perfbench_work").rmdir()

    ctx.setup = {k: ctx.setup.get(k, 0.0) for k in (
        "setup.session_s", "setup.pg_boot_s", "setup.load_s", "setup.warmup_s")}
    ctx.metrics.update(ctx.setup)
    ctx.metrics["setup_s"] = sum(ctx.setup.values())
    ctx.metrics["peak_mem_mb"] = mem.peak / 2**20
    if not args.trace:
        # only a failed run leaves one unmeasured: it reports 0 and
        # counts as a failure, so the run reads as incorrect
        unmeasured = [m["name"] for m in catalog
                      if m["name"] not in ctx.metrics and m["name"] != "success_rate"]
        for name in unmeasured:
            ctx.outcome(False, f"metric {name}", "not measured")
        ctx.notes["unmeasured"] = unmeasured
    ctx.metrics["success_rate"] = (ctx.attempted - ctx.failed) / max(1, ctx.attempted)
    print(json.dumps({"notes": ctx.notes}), flush=True)

    metrics = {
        m["name"]: {"value": float(ctx.metrics.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in catalog
    }
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
