"""cdc_pg: the paper's workload, polling CDC from a live Postgres.

Set-up boots a throwaway Postgres 15 cluster and preloads
``PRELOAD_ROWS`` rows (contents from the seed). Phase A snapshots the
table through ``PollingCdcSource.start`` over ``PsqlPollingLoader``;
every batch goes through ``apply_changes`` and is appended by
``PsqlTableSink`` to a change-log table. Phase B runs ``pgbench`` as
an open-loop writer (``RATE`` tx/s, 50/50 insert/update, seeded)
for ``--seconds`` while ``poll_once`` runs back to back, then drains.

Phase A is dominated by per-row cost (COPY -> CSV transport, to_json
envelopes, the driver-funnel sink); Phase B by fixed per-poll cost
(psql spawns, Spark jobs per poll, the safe-horizon probe).

End-to-end numbers: total/geomean over the two operation kinds, the
snapshot and the median poll cycle. The freshness lag per row version
(its ``gen_ts``, stamped by the writing statement, to the return of
the sink write that first materializes it) is about one and a half
poll cycles; it is reported per layer, as its run-to-run spread is
wider than any bound the comparison allows.
"""

from __future__ import annotations

import re
import subprocess
import time

from harness import Ctx, Tracer, jobs_in_group, job_group, median, percentile
from pg import PgCluster

PRELOAD_ROWS = 50_000
WARM_ROWS = 2_000
WARM_POLLS = 5
RATE = 200  # tx/s, open loop
SCHEMA = "id bigint, v double, note string, gen_ts double"
_DDL = (
    "CREATE TABLE {t} (id bigserial PRIMARY KEY, v double precision,"
    " note text, gen_ts double precision)"
)
_FILL = (
    "INSERT INTO {t} (v, note, gen_ts) SELECT round(random() * 1e6) / 1000.0,"
    " 'pre' || g, extract(epoch FROM clock_timestamp())"
    " FROM generate_series(1, {n}) g"
)
_INSERT = """\\set v random(0, 1000000)
INSERT INTO src (v, note, gen_ts)
VALUES (:v / 1000.0, 'ins', extract(epoch FROM clock_timestamp()));
"""
_UPDATE = f"""\\set id random(1, {PRELOAD_ROWS})
\\set v random(0, 1000000)
UPDATE src SET v = :v / 1000.0, note = 'upd',
       gen_ts = extract(epoch FROM clock_timestamp()) WHERE id = :id;
"""


class _Pipeline:
    """PsqlPollingLoader -> PollingCdcSource -> apply_changes ->
    PsqlTableSink for one source table, recording when each batch's
    sink write returned (the lag end point)."""

    def __init__(self, spark, pg: PgCluster, table: str, log: str, tracer=None):
        from pyspark.sql import functions as F

        from streamz_postgres_spark.sources.cdc import (
            PollingCdcSource,
            PsqlPollingLoader,
            PsqlTableSink,
            apply_changes,
        )

        loader = PsqlPollingLoader(spark=spark, dsn=pg.dsn, table=table, schema=SCHEMA)
        sink = PsqlTableSink(spark=spark, dsn=pg.dsn, table=log)
        self.written: dict[int, float] = {}
        self.spark = spark
        self.tracer = tracer
        apply = apply_changes
        if tracer is not None:
            for name in ("snapshot", "safe_cursor", "incremental", "close"):
                setattr(loader, name, tracer.wrap(f"cdc.{name}", getattr(loader, name)))
            apply = tracer.wrap("cdc.apply_plan", apply_changes)
            sink.write = tracer.wrap("cdc.sink_write", sink.write)
        self.source = PollingCdcSource(loader, key_cols=["id"])

        def apply_fn(env, idx):
            row = F.from_json("after", SCHEMA).alias("r")
            out = apply(env).select(row, "seq").select(
                "r.*", "seq", F.lit(idx).alias("poll_idx")
            )
            sink.write(out, mode="append")
            self.written[idx] = time.time()

        self.apply_fn = apply_fn
        self.polls = 0

    def snapshot(self) -> None:
        self.source.start(self.apply_fn)

    def poll(self) -> tuple[int, float, int]:
        """One traced-or-not poll: (rows, seconds, Spark jobs run)."""
        self.polls += 1
        idx = self.polls
        tracing = self.tracer is not None and self.tracer.enabled
        t0 = time.perf_counter()
        if not tracing:
            n = self.source.poll_once(self.apply_fn, idx)
            return n, time.perf_counter() - t0, 0
        group = f"poll-{idx}"
        with job_group(self.spark, group), self.tracer.span("cdc.poll_cycle"):
            n = self.source.poll_once(self.apply_fn, idx)
        return n, time.perf_counter() - t0, jobs_in_group(self.spark, group)


def _pgbench(ctx: Ctx, pg: PgCluster) -> subprocess.Popen:
    ins, upd = ctx.work / "insert.sql", ctx.work / "update.sql"
    ins.write_text(_INSERT)
    upd.write_text(_UPDATE)
    return subprocess.Popen(
        ["pgbench", "-n", "-c", "1", "-j", "1", "-R", str(RATE),
         "-T", str(ctx.seconds), f"--random-seed={ctx.seed}",
         "-f", f"{ins}@1", "-f", f"{upd}@1", *pg.dsn[:-2], pg.dsn[-1]],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
    )


def _check(ctx: Ctx, pg: PgCluster) -> None:
    """Latest row per key in the change log == the source table, both
    directions of EXCEPT, and the snapshot delivered every preloaded
    row."""
    latest = (
        "(SELECT DISTINCT ON (id) id, v, note, gen_ts FROM cdc_log"
        " ORDER BY id, seq DESC)"
    )
    src = "(SELECT id, v, note, gen_ts FROM src)"
    extra = int(pg.sql(f"SELECT count(*) FROM ({latest} EXCEPT {src}) x"))
    missing = int(pg.sql(f"SELECT count(*) FROM ({src} EXCEPT {latest}) x"))
    ctx.outcome(
        extra == 0 and missing == 0, "cdc latest-row check",
        f"{extra} rows only in the change log, {missing} only in the source",
    )
    snap = int(pg.sql("SELECT count(*) FROM cdc_log WHERE poll_idx = 0"))
    ctx.outcome(snap == PRELOAD_ROWS, "cdc snapshot count", f"{snap} != {PRELOAD_ROWS}")


def _lags(pg: PgCluster, written: dict[int, float]) -> list[float]:
    """gen_ts -> first materializing write, for every row version the
    polls (not the snapshot) delivered."""
    rows = pg.sql(
        "SELECT min(poll_idx), min(gen_ts) FROM cdc_log GROUP BY id, seq"
        " HAVING min(poll_idx) > 0"
    )
    out = []
    for line in rows.splitlines():
        idx, gen = line.split("|")
        out.append(written[int(idx)] - float(gen))
    return out


def run(ctx: Ctx, spark_start) -> None:
    pg = PgCluster(ctx.work / "pg")
    try:
        t = time.perf_counter()
        pg.start()
        ctx.setup["setup.pg_boot_s"] = time.perf_counter() - t
        ctx.notes["postgres"] = pg.sql("SHOW server_version")

        t = time.perf_counter()
        pg.sql(_DDL.format(t="src") + "; " + _DDL.format(t="warm"))
        pg.sql(
            f"SELECT setseed({(ctx.seed % 1999) / 1000 - 0.999}); "
            + _FILL.format(t="src", n=PRELOAD_ROWS)
        )
        ctx.setup["setup.load_s"] = time.perf_counter() - t

        spark = spark_start()

        # warm the CDC path (CSV scan, envelope, window, sink) on a
        # small table so Phase A is not timed mid JIT ramp
        t = time.perf_counter()
        pg.sql(_FILL.format(t="warm", n=WARM_ROWS))
        warm = _Pipeline(spark, pg, "warm", "warm_log")
        warm.snapshot()
        for _ in range(WARM_POLLS):
            pg.sql(_FILL.format(t="warm", n=100))
            warm.poll()
        ctx.setup["setup.warmup_s"] = time.perf_counter() - t

        if ctx.trace:
            from harness import sentinel

            ctx.metrics["host.sentinel_before_s"] = sentinel(spark)
        tracer = Tracer() if ctx.trace else None
        pipe = _Pipeline(spark, pg, "src", "cdc_log", tracer)

        # Phase A: snapshot
        t = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.span("cdc.snapshot_call"):
                    pipe.snapshot()
            else:
                pipe.snapshot()
            snapshot_ok = ctx.outcome(True, "cdc snapshot")
        except Exception as e:  # noqa: BLE001 - counted and reported
            snapshot_ok = ctx.outcome(False, "cdc snapshot", repr(e))
        snapshot_s = time.perf_counter() - t
        if not snapshot_ok:
            return

        # Phase B: open-loop writer + back-to-back polls; in the
        # traced run every other poll is untraced, for trace.overhead
        writer = _pgbench(ctx, pg)
        cycles: dict[bool, list[float]] = {True: [], False: []}
        rows: list[int] = []
        jobs: list[int] = []
        traced = False
        try:
            while writer.poll() is None:
                if tracer is not None:
                    traced = not traced
                    tracer.enabled = traced
                try:
                    n, secs, n_jobs = pipe.poll()
                except Exception as e:  # noqa: BLE001 - counted and reported
                    ctx.outcome(False, "cdc poll", repr(e))
                    continue
                ctx.outcome(True, "cdc poll")
                cycles[traced].append(secs)
                if traced:
                    rows.append(n)
                    jobs.append(n_jobs)
            gen_out = writer.communicate()[0]
        finally:
            if writer.poll() is None:
                writer.kill()
                writer.wait()
        ctx.outcome(writer.returncode == 0, "pgbench writer", gen_out[-500:])
        backlog = int(pg.sql(
            "SELECT count(*) FROM src WHERE xmin::text::bigint > "
            f"{pipe.source.cursor}"
        ))
        if tracer is not None:
            tracer.enabled = False
        for _ in range(20):  # drain: until a poll finds nothing new
            try:
                n, _, _ = pipe.poll()
            except Exception as e:  # noqa: BLE001 - counted and reported
                ctx.outcome(False, "cdc drain poll", repr(e))
                continue
            ctx.outcome(True, "cdc drain poll")
            if n == 0:
                break

        # outside the timed region from here on
        try:
            _check(ctx, pg)
            lags = _lags(pg, pipe.written)
        except Exception as e:  # noqa: BLE001 - counted and reported
            ctx.outcome(False, "cdc checks", repr(e))
            return
        poll_s = median(cycles[False] or cycles[True])
        ctx.metrics.update(
            {
                "cdc.lag_p50_s": median(lags),
                "cdc.lag_p99_s": percentile(lags, 99),
                "total_s": snapshot_s + poll_s,
                "geomean_s": (snapshot_s * poll_s) ** 0.5,
                "cdc.snapshot_rows_per_s": PRELOAD_ROWS / snapshot_s,
            }
        )
        ctx.notes.update(
            {"lag_samples": len(lags), "polls": len(cycles[True]) + len(cycles[False])}
        )
        if tracer is None:
            return
        ctx.metrics["host.sentinel_after_s"] = sentinel(spark)
        _traced_metrics(ctx, pg, tracer, cycles, rows, jobs, backlog, gen_out)
    finally:
        pg.stop()


def _traced_metrics(ctx, pg, tracer, cycles, rows, jobs, backlog, gen_out) -> None:
    # poll_once and apply_fn carry no spans of their own, so the
    # loader, apply and sink spans are direct children of the cycle
    (snap,) = tracer.children_by_root("cdc.snapshot_call")
    polls = tracer.children_by_root("cdc.poll_cycle")
    parts = ("safe_cursor", "incremental", "apply_plan", "sink_write", "close")
    cycle = median(p["cdc.poll_cycle"] for p in polls)
    med = {k: median(p[f"cdc.{k}"] for p in polls) for k in parts}
    reread, applied = pg.sql(
        "SELECT count(*) FILTER (WHERE poll_idx > first), count(*) FROM"
        " (SELECT poll_idx, min(poll_idx) OVER (PARTITION BY id, seq) first"
        "  FROM cdc_log) t WHERE poll_idx > 0"
    ).split("|")
    lateness = re.search(r"rate limit schedule lag: avg ([\d.]+)", gen_out)
    ctx.metrics.update(
        {
            "cdc.snapshot_call_s": snap["cdc.snapshot_call"],
            "cdc.sink_write_snapshot_s": snap["cdc.sink_write"],
            "cdc.safe_cursor_s": med["safe_cursor"],
            "cdc.incremental_s": med["incremental"],
            "cdc.apply_plan_s": med["apply_plan"],
            "cdc.sink_write_poll_s": med["sink_write"],
            "cdc.close_s": med["close"],
            # the part of the median cycle that its children's
            # medians leave uncovered: persist, count, max(seq) and
            # unpersist inside poll_once
            "cdc.poll_overhead_s": cycle - sum(med.values()),
            "cdc.poll_cycle_s": cycle,
            "cdc.jobs_per_poll": median(jobs),
            "cdc.rows_per_poll": median(rows),
            "cdc.reread_ratio": int(reread) / max(1, int(applied)),
            "cdc.backlog_rows_end": backlog,
            "gen.schedule_lag_ms": float(lateness.group(1)) if lateness else 0.0,
            "trace.overhead": median(cycles[True]) / median(cycles[False]) - 1,
        }
    )
