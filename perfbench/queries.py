"""queries: batch registry keys at sf0.1 and streaming keys at sf0.01,
in one run.

Each key is timed from the registry callable to the end of a
``noop``-sink write: unlike ``count()``, the noop sink evaluates every
projected column, so Catalyst cannot prune UDF columns a user's query
would compute. The measured region runs whole passes over all keys
until ``--seconds`` have elapsed (a pass is longer than the default
run, so a run times each key once): the batch keys in an order drawn
from the seed, then ``STREAM_FIRST``, then the other stream keys in
an order drawn from the seed. Both kinds share one session, so a run
pays for Spark start-up and the JIT ramp once.

Correctness: every key is checked once per run against its DuckDB
oracle (``oracle.check_query``), outside the timed region.

- batch keys are lazy plans, and at sf0.1 the DuckDB side of the
  dedup oracles alone runs for minutes, so set-up checks them on the
  sf0.01 fixture. That pass is also the warm-up: it compiles the same
  plans, so the timed passes are not measured mid JIT ramp.
- stream keys run their bounded replay inside the registry callable
  and return the materialized result, so the first pass checks the
  very result it just timed (an extra check pass would double the
  run). They run on the sf0.01 fixture: their cost is set by the
  number of state-store instances and micro-batches, not by data
  volume, and at sf0.1 they would double the run.

The traced run times one untraced pass, then one traced pass (job
groups, the Spark event log, a StreamingQueryListener); the per-layer
numbers come from the traced pass and ``trace.overhead`` compares
the two.
"""

from __future__ import annotations

import dataclasses
import json
import random
import threading
import time
from collections import defaultdict
from contextlib import nullcontext

from bench import HEADLINE
from harness import Ctx, fold_event_log, geomean, job_group, median, sentinel

#: bench.py's HEADLINE (joins, aggregates, windows, similarity, text,
#: a mapInPandas UDF; mostly scheduling-bound at sf0.1), with
#: q_dedup_minhash replaced by q_dedup_minhash_clusters: the same
#: MinHash/LSH pair plan followed by the iterative connected-components
#: loop, which is bound by per-job latency
BATCH_KEYS = (
    *(k for k in HEADLINE if k != "q_dedup_minhash"),
    "q_dedup_minhash_clusters",
)
#: state-store commit cost (stream-stream join), a watermarked window
#: with end-of-stream flush, event-time timers with the resumed second
#: pass, the Python state fold (applyInPandasWithState) and the
#: foreachBatch MERGE into a materialized CDC table
STREAM_KEYS = (
    "q_stream_join_outer",
    "q_stream_tumbling_watermarked",
    "q_stream_transform_timers",
    "q_stream_dedup_ingest",
    "q_cdc_materialize",
)
#: the cheapest stream key runs first in every pass, so the streaming
#: path's one-time start-up cost (state store, replay) lands on the
#: same key in every run instead of on a seed-chosen one
STREAM_FIRST = "q_stream_tumbling_watermarked"
BATCH_SF = 0.1
#: stream keys are timed and checked here; batch keys are checked here
SMALL_SF = 0.01


class _StreamLayers:
    """StreamingQueryListener that files each query's progress under
    the registry key that started it (``current``)."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        layers = self
        self.current: str | None = None
        self.owner: dict[str, str | None] = {}
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.ended: set[str] = set()
        self.lock = threading.Lock()

        class Listener(StreamingQueryListener):
            # onQueryStarted runs before start() returns, so
            # ``current`` still names the key that started the query
            def onQueryStarted(self, event):
                with layers.lock:
                    layers.owner[str(event.runId)] = layers.current

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with layers.lock:
                    layers.progress[p["runId"]].append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with layers.lock:
                    layers.ended.add(str(event.runId))

        self.listener = Listener()

    def wait_drained(self, timeout: float = 15.0) -> None:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.lock:
                if set(self.owner) <= self.ended:
                    return
            time.sleep(0.1)

    def per_key(self) -> dict[str, dict[str, float]]:
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for run_id, key in self.owner.items():
            progress = self.progress.get(run_id, [])
            m = out[key]
            m["batches"] += len({p["batchId"] for p in progress})
            for p in progress:
                d = p.get("durationMs", {})
                m["add_batch_ms"] += d.get("addBatch", 0)
                m["query_planning_ms"] += d.get("queryPlanning", 0)
                m["state_commit_ms"] += sum(
                    op.get("commitTimeMs", 0) for op in p.get("stateOperators", [])
                )
            if progress:
                ops = progress[-1].get("stateOperators", [])
                m["state_rows"] += sum(op.get("numRowsTotal", 0) for op in ops)
                m["state_mem_bytes"] += sum(op.get("memoryUsedBytes", 0) for op in ops)
                m["state_instances"] += sum(
                    op.get("numStateStoreInstances", 0) for op in ops
                )
        return out


def _check(ctx: Ctx, spark, con, query, sf_dir: str, df=None) -> None:
    """One oracle check, counted; ``df`` is an already-built result
    to check instead of running the registry callable again."""
    if df is not None:
        query = dataclasses.replace(query, spark_fn=lambda *_: df)
    from streamz_postgres_spark.oracle import check_query

    try:
        ok, msg = check_query(spark, con, query, sf_dir)
    except Exception as e:  # noqa: BLE001 - counted and reported
        ok, msg = False, repr(e)
    ctx.outcome(ok, f"oracle check {query.name}", msg)


def _layer(key: str) -> str:
    return f"{'batch' if key in BATCH_KEYS else 'stream'}.{key}"


def run(ctx: Ctx, spark_start) -> None:
    import fixture

    from streamz_postgres_spark.oracle import duckdb_connection
    from streamz_postgres_spark.registry import REGISTRY, _load_all

    rng = random.Random(ctx.seed)
    # generated once per checkout, before the set-up clock starts:
    # input preparation, not engine set-up
    fixtures = {sf: str(fixture.ensure(str(ctx.cache), sf)) for sf in (BATCH_SF, SMALL_SF)}
    _load_all()
    spark = spark_start()

    t = time.perf_counter()
    cons = {sf: duckdb_connection(d) for sf, d in fixtures.items()}
    ctx.setup["setup.load_s"] = time.perf_counter() - t

    def sf_of(key: str) -> float:
        return BATCH_SF if key in BATCH_KEYS else SMALL_SF

    t = time.perf_counter()
    for key in rng.sample(BATCH_KEYS, len(BATCH_KEYS)):
        _check(ctx, spark, cons[SMALL_SF], REGISTRY[key], fixtures[SMALL_SF])
    ctx.setup["setup.warmup_s"] = time.perf_counter() - t

    if ctx.trace:
        ctx.metrics["host.sentinel_before_s"] = sentinel(spark)
    # stream keys are checked on the first pass's own results
    unchecked = set(STREAM_KEYS)

    def one_pass(samples: dict[str, list[float]], traced: bool = False, layers=None) -> None:
        rest = [k for k in STREAM_KEYS if k != STREAM_FIRST]
        order = [*rng.sample(BATCH_KEYS, len(BATCH_KEYS)), STREAM_FIRST,
                 *rng.sample(rest, len(rest))]
        for key in order:
            if layers is not None:
                layers.current = key
            sf = sf_of(key)
            try:
                with job_group(spark, _layer(key)) if traced else nullcontext():
                    t0 = time.perf_counter()
                    df = REGISTRY[key].spark_fn(spark, fixtures[sf])
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - counted and reported
                ctx.outcome(False, f"run {key}", repr(e))
                continue
            ctx.outcome(True, f"run {key}")
            samples[key].append(t2 - t0)
            if traced:
                ctx.metrics[f"{_layer(key)}.plan_s"] = t1 - t0
                ctx.metrics[f"{_layer(key)}.exec_s"] = t2 - t1
            if key in unchecked:  # outside the timed region
                unchecked.discard(key)
                _check(ctx, spark, cons[sf], REGISTRY[key], fixtures[sf], df)

    samples: dict[str, list[float]] = defaultdict(list)
    start = time.perf_counter()
    while True:
        one_pass(samples)
        if time.perf_counter() - start >= ctx.seconds:
            break
    for key in unchecked:  # the key failed on every pass
        _check(ctx, spark, cons[sf_of(key)], REGISTRY[key], fixtures[sf_of(key)])
    for con in cons.values():
        con.close()
    medians = {k: median(v) for k, v in samples.items()}
    ctx.metrics.update(
        {"total_s": sum(medians.values()), "geomean_s": geomean(medians.values())}
    )
    ctx.notes["key_medians_s"] = {k: round(v, 4) for k, v in medians.items()}
    ctx.notes["key_samples"] = min((len(v) for v in samples.values()), default=0)
    if not ctx.trace:
        return

    layers = _StreamLayers()
    spark.streams.addListener(layers.listener)
    traced: dict[str, list[float]] = defaultdict(list)
    one_pass(traced, traced=True, layers=layers)
    ctx.metrics["trace.overhead"] = (
        sum(median(traced[k]) for k in medians if traced[k])
        / sum(v for k, v in medians.items() if traced[k])
        - 1
    )
    ctx.metrics["host.sentinel_after_s"] = sentinel(spark)
    layers.wait_drained()
    spark.streams.removeListener(layers.listener)
    per_key = layers.per_key()
    instances = 0.0
    for key in STREAM_KEYS:
        m = per_key.get(key, {})
        ctx.metrics[f"stream.{key}.wall_s"] = median(traced[key])
        for name in ("batches", "add_batch_ms", "query_planning_ms",
                     "state_commit_ms", "state_rows", "state_mem_bytes"):
            ctx.metrics[f"stream.{key}.{name}"] = m.get(name, 0.0)
        instances += m.get("state_instances", 0.0)
    ctx.metrics["stream.state_instances"] = instances
    # job-group folds need the complete event log: read after stop
    ctx.after_stop.append(lambda: _fold_batch(ctx))


def _fold_batch(ctx: Ctx) -> None:
    groups = fold_event_log(ctx.work / "eventlog")
    for key in BATCH_KEYS:
        g = groups.get(f"batch.{key}", {})
        for name in ("jobs", "shuffle_bytes", "task_cpu_s"):
            ctx.metrics[f"batch.{key}.{name}"] = g.get(name, 0.0)
    for name in ("stages", "tasks"):
        ctx.metrics[f"batch.{name}"] = sum(
            groups.get(f"batch.{k}", {}).get(name, 0) for k in BATCH_KEYS
        )
