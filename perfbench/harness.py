"""Plumbing shared by the perfbench workloads: the Spark session and
its shutdown, spans, the Spark event-log fold, RSS sampling, leak
counts and small statistics helpers.

Everything here sits OUTSIDE the engine: spans wrap calls into the
engine's public functions from the benchmark's side, so the engine
code under measurement is exactly what users run.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

#: engine scratch that must not outlive the call that made it
#: (ROADMAP: no temp-dir growth across repeated invocations)
LEAK_PREFIXES = (
    "psql_poll_",
    "spark_ckpt_",
    "spark_resume_",
    "cdc_src_",
    "cdc_target_",
)


@dataclass
class Ctx:
    """One benchmark invocation: arguments, run-local directories and
    the counters every workload fills in."""

    root: Path  # checkout root
    work: Path  # run-local scratch, removed when the run ends
    seed: int
    seconds: int
    trace: bool
    attempted: int = 0
    failed: int = 0
    setup: dict[str, float] = field(default_factory=dict)
    metrics: dict[str, float] = field(default_factory=dict)
    notes: dict[str, object] = field(default_factory=dict)
    #: callbacks that need the stopped session (complete event log)
    after_stop: list = field(default_factory=list)

    @property
    def cache(self) -> Path:
        """Survives across runs in one checkout (generated fixtures)."""
        return self.root / ".perfbench_cache"

    def outcome(self, ok: bool, what: str, detail: str = "") -> bool:
        """Count one attempted operation; report a failure on stderr."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED {what}: {detail}"[:2000], file=sys.stderr, flush=True)
        return ok


# -- Spark session -----------------------------------------------------------


def start_spark(ctx: Ctx, app: str):
    """Engine session (``session.get_spark``) with every scratch path
    pointed into the run directory; the traced run also writes the
    Spark event log there."""
    from streamz_postgres_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(ctx.work / "warehouse"),
        "spark.local.dir": str(ctx.work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.work / 'tmp'} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    }
    if ctx.trace:
        (ctx.work / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (ctx.work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                # one plain file, not a directory of rolled files
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session AND its JVM process, waiting until it exits
    (``SparkSession.stop`` alone leaves the JVM to exit with Python)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any wait failure: force it
            proc.kill()
            proc.wait()


@contextmanager
def job_group(spark, group: str):
    """Tag every job the block launches from this thread."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def fold_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: jobs, completed stages, tasks, shuffle bytes
    written and executor CPU seconds, folded from the event log the
    traced session wrote (read after the session stopped, so the log
    is complete)."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    for f in sorted(log_dir.iterdir()):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        out[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    out[group]["tasks"] += 1
                    out[group]["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    out[group]["shuffle_bytes"] += (
                        tm.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
    return out


# -- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end and parent span. ``enabled``
    can be flipped between operations, so one process can time the
    same loop traced and untraced."""

    def __init__(self) -> None:
        self.enabled = True
        self.spans: list[tuple[str, float, float, int | None]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append((name, time.perf_counter(), math.nan, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            name, start, _, parent = self.spans[idx]
            self.spans[idx] = (name, start, time.perf_counter(), parent)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def children_by_root(self, root: str) -> list[dict[str, float]]:
        """For every span called ``root``: its duration under the key
        ``root`` plus the summed durations of its direct children,
        keyed by child name."""
        rows: dict[int, dict[str, float]] = {}
        for i, (name, start, end, parent) in enumerate(self.spans):
            if name == root:
                rows[i] = defaultdict(float, {root: end - start})
        for name, start, end, parent in self.spans:
            if parent in rows:
                rows[parent][name] += end - start
        return list(rows.values())


# -- process memory ----------------------------------------------------------


def _tree_pss_bytes(pid: int) -> int:
    """PSS of ``pid`` and all its descendants: RSS with each shared
    page split among the processes that map it, so Python workers
    forked from one daemon are not counted once per fork."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, ()))
        try:
            with open(f"/proc/{p}/smaps_rollup", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class MemSampler:
    """Peak summed PSS of this process tree (Python, the JVM, Python
    workers, psql/pgbench children), sampled on a background thread."""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_pss_bytes(me))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def leak_counts(ctx: Ctx, spark) -> dict[str, float]:
    tmp = ctx.work / "tmp"
    files = sum(1 for p in tmp.iterdir() if p.name.startswith(LEAK_PREFIXES))
    rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    return {"leak.tmp_files": files, "leak.persisted_rdds": rdds}


def sentinel(spark) -> float:
    """bench.py's fixed-cost compute kernel: median of three after
    its own warm-up. Recorded next to the numbers, never divided into
    them, so a contended run shows."""
    from bench import _sentinel

    for _ in range(2):
        _sentinel(spark)
    return statistics.median(_sentinel(spark) for _ in range(3))


# -- statistics --------------------------------------------------------------


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def percentile(values, pct: int) -> float:
    """Inclusive-method percentile; the single value when n == 1."""
    values = sorted(values)
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def geomean(values) -> float:
    values = [v for v in values if v > 0]
    if not values:
        return 0.0
    return math.exp(sum(math.log(v) for v in values) / len(values))
