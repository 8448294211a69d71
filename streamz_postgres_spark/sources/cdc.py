"""Postgres change-data-capture by polling — the reference's core
capability (streamz_postgres:sources.py / loaders.py [M], SURVEY §2.1),
rebuilt on Spark's batch/streaming machinery.

The reference polls a PG table with an ``xmin``-or-PK cursor, emits
row events after an initial snapshot, and cannot see DELETEs except
by full refresh. This module reproduces exactly that surface:

- ``JdbcPollingLoader``   snapshot + incremental cursor reads over
  ``spark.read.jdbc`` with range partitioning (the cursor predicate
  is pushed down to Postgres, like the reference's WHERE xmin > $1);
- ``ParquetReplayLoader``  the same Loader protocol over the events
  fixture (event_id as the cursor) so the poll loop is testable
  without a server;
- ``PollingCdcSource``    the driver-side poll loop: snapshot ->
  envelope('r') -> apply; then per poll: incremental -> envelope
  ('c'/'u') -> apply, with a checkpointable cursor;
- ``full_refresh_diff``   synthesizes c/u/d envelopes by diffing two
  snapshots (the only way xmin polling sees deletes — mirrored
  limitation, mirrored escape hatch);
- ``normalize_envelope``  parses Debezium-shaped JSON into the
  uniform envelope (the Kafka+Debezium ingestion path);
- ``apply_changes``       latest-row-wins MERGE: the canonical CDC
  consumer (materialize the table from the stream).

Envelope schema (Debezium-flavored): op CHAR, ts TIMESTAMP_NTZ,
seq LONG (LSN stand-in), key fields, after STRUCT, before STRUCT.

Scale notes: incremental reads partition the cursor range across
executors (numPartitions range scan); apply_changes is one hash
shuffle on the key + per-key linear state; the poll loop keeps only
an 8-byte cursor on the driver.

Correctness under Postgres xid semantics (the two classic
xmin-polling traps):

- **Open transactions.** xmin is assigned at txn START; a
  long-running txn can commit rows with an xid LOWER than changes
  already polled. The loop therefore never advances the cursor past
  ``safe_cursor()`` — the oldest-running-txn horizon minus one
  (``pg_snapshot_xmin(pg_current_snapshot())``). Rows between the
  horizon and the newest seen xid are re-read next poll:
  at-least-once, safe under the idempotent latest-row-wins apply.
- **xid wraparound.** The 32-bit xid counter wraps; comparing the
  TABLE's max xmin against the cursor cannot detect this (old rows
  keep their high xmin). The loop instead compares the DATABASE's
  horizon: ``safe_cursor() < cursor`` is impossible in normal
  operation (the cursor is capped at the horizon), so observing it
  means wraparound or a restored-from-backup source — the cursor
  resets to 0 and the next poll re-reads everything. The table-max
  fallback check remains for loaders without a horizon probe.
"""

from __future__ import annotations

import os
import re
import secrets
import selectors
import subprocess
import tempfile
import weakref
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Protocol

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Uniform change envelope (Debezium-shaped, flattened key).
CDC_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),  # c=create u=update d=delete r=read
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("seq", T.LongType()),  # LSN / cursor stand-in
        T.StructField("key", T.StringType()),  # json-encoded key
        T.StructField("before", T.StringType()),  # json row image or null
        T.StructField("after", T.StringType()),  # json row image or null
    ]
)


_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_$]*$")


def quote_qualified_ident(name: str) -> str:
    """Validate and double-quote a possibly schema-qualified SQL
    identifier (``public.orders`` -> ``"public"."orders"``). Already-
    quoted parts are accepted if they contain no embedded quotes.
    Raises ValueError on anything else — the identifier reaches SQL
    text by interpolation, so this is the injection boundary."""
    parts = name.split(".")
    if not 1 <= len(parts) <= 2:
        raise ValueError(f"invalid table identifier: {name!r}")
    quoted = []
    for p in parts:
        if p.startswith('"') and p.endswith('"') and len(p) >= 2:
            p = p[1:-1]
        if not p or '"' in p or not _IDENT_RE.match(p):
            raise ValueError(f"invalid table identifier part: {p!r}")
        quoted.append(f'"{p}"')
    return ".".join(quoted)


def _psql_arg(path: str) -> str:
    """``path`` single-quoted for a psql meta-command (``\\o``,
    ``\\copy``). The two commands unquote differently, so a path
    holding a quote, a backslash or a line break is refused."""
    if re.search(r"['\\\r\n]", path):
        raise ValueError(f"cannot pass {path!r} to psql")
    return f"'{path}'"


#: a CSV line that is exactly ``\.``: psql's ``\copy ... FROM`` takes it
#: for end-of-data even inside a quoted value
_COPY_EOF_LINE = re.compile(rb"\n\\\.(?=\r?\n)")


def _end_psql(proc: subprocess.Popen) -> None:
    """Finalizer of a :class:`_PsqlSession`: EOF on stdin ends psql
    and its server session; the process is reaped (killed after 5 s)."""
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=5)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    proc.stdout.close()
    proc.stderr.close()


def _unlink_all(paths: list[str]) -> None:
    """Remove (and forget) every scratch file in ``paths``."""
    while paths:
        try:
            os.unlink(paths.pop())
        except OSError:
            pass


class _PsqlSession:
    """One long-lived ``psql`` process: the control channel of a
    :class:`PsqlPollingLoader` or a :class:`PsqlTableSink`.

    ``run`` writes a command batch to psql's stdin, followed by
    ``\\echo`` of a per-process random nonce, and returns what psql
    printed before the nonce. Only commands and scalar results cross
    the pipes; row data goes through scratch files. psql runs with
    ``ON_ERROR_STOP``, so any failing command ends the process (the
    server rolls back its open transaction) and ``run`` raises
    ``CalledProcessError`` with psql's message, as bytes, in
    ``stderr``; the next ``run`` starts a new process. The process is
    started on first use and ended when the session is collected.
    """

    def __init__(self, argv: list[str]) -> None:
        self.argv = [*argv, "-X", "-q", "-A", "-t", "-v", "ON_ERROR_STOP=1"]
        self.proc: subprocess.Popen | None = None
        # psql's stderr since the last batch that succeeded
        self.err = bytearray()

    def run(self, script: str) -> str:
        if self.proc is None:
            self.proc = subprocess.Popen(
                self.argv,
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
            )
            self._nonce = f"__psql_{secrets.token_hex(16)}"
            self._end = weakref.finalize(self, _end_psql, self.proc)
            # CREATE TABLE IF NOT EXISTS would NOTICE on every write
            script = f"SET client_min_messages = warning;\n{script}"
        proc, done = self.proc, f"{self._nonce}\n".encode()
        try:
            proc.stdin.write(f"{script}\n\\echo {self._nonce}\n".encode())
            proc.stdin.flush()
        except BrokenPipeError:
            pass  # psql has exited; its stderr says why
        out = bytearray()
        with selectors.DefaultSelector() as sel:
            sel.register(proc.stdout, selectors.EVENT_READ, out)
            sel.register(proc.stderr, selectors.EVENT_READ, self.err)
            while sel.get_map() and not out.endswith(done):
                for key, _ in sel.select():
                    chunk = os.read(key.fd, 1 << 16)
                    if not chunk:
                        sel.unregister(key.fileobj)
                    key.data.extend(chunk)
        if out.endswith(done):
            self.err.clear()
            return out[: -len(done)].decode()
        self._end()
        self.proc = None
        err = bytes(self.err)
        self.err.clear()
        raise subprocess.CalledProcessError(proc.returncode, self.argv, bytes(out), err)


class Loader(Protocol):
    """Snapshot + incremental access to a captured table."""

    def snapshot(self) -> DataFrame: ...

    def max_cursor(self) -> int: ...

    def incremental(self, cursor: int) -> DataFrame: ...

    def safe_cursor(self) -> int | None:
        """Highest cursor value guaranteed complete (no still-open
        transaction at or below it), or None when the source has no
        in-flight-work concept."""
        ...

    def batch_stats(self, frame: DataFrame) -> tuple[int, int] | None:
        """Optional. ``(row count, max __cursor)`` of a frame this
        loader returned, known without a Spark job, or None when the
        loader cannot vouch for it. A loader that answers promises
        that every re-read of ``frame`` sees exactly those rows until
        its ``close()``, which must forget the stats. Loaders without
        the method (or answering None) get a persisted batch and one
        aggregate job from :class:`PollingCdcSource` instead."""
        ...


@dataclass
class JdbcPollingLoader:
    """Cursor-paged JDBC loader (the production path).

    ``cursor_expr`` defaults to the xmin trick the reference uses:
    Postgres exposes row versions in the xmin system column; casting
    through text yields a bigint that grows with every write. The
    incremental query ships the cursor predicate to the server —
    Spark's JDBC source pushes both the predicate and the column
    pruning, so each poll reads only changed rows, exactly like the
    reference's incremental SQL.
    """

    spark: SparkSession
    url: str
    table: str
    cursor_expr: str = "(xmin::text::bigint)"
    num_partitions: int = 8
    properties: dict | None = None

    def __post_init__(self) -> None:
        # table names are interpolated into SQL: validate against a
        # strict [schema.]ident grammar and double-quote each part,
        # so a config-supplied name can neither inject SQL nor break
        # on mixed-case/reserved identifiers. cursor_expr remains
        # TRUSTED CONFIGURATION (it is an expression by contract and
        # cannot be quoted) — documented, not validated.
        self.table = quote_qualified_ident(self.table)

    def _read(self, query: str) -> DataFrame:
        reader = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("query", query)
            .option("fetchsize", "10000")
        )
        for k, v in (self.properties or {}).items():
            reader = reader.option(k, v)
        return reader.load()

    def snapshot(self) -> DataFrame:
        return self._read(
            f"SELECT t.*, {self.cursor_expr} AS __cursor FROM {self.table} t"
        )

    def max_cursor(self) -> int:
        row = self._read(
            f"SELECT COALESCE(MAX({self.cursor_expr}), 0) AS c FROM {self.table} t"
        ).collect()[0]
        return int(row["c"])

    def safe_cursor(self) -> int | None:
        """Oldest-running-transaction horizon minus one, in the same
        32-bit domain as ``xmin::text::bigint``: every transaction at
        or below it has finished, so the cursor may safely advance
        this far (and no further — see the module docstring).
        ``pg_snapshot_xmin(pg_current_snapshot())`` is the 64-bit
        epoch-qualified xid8; ``% 2^32`` recovers the raw xid that
        xmin values carry. Only meaningful for the xmin cursor — a
        user-supplied PK cursor has no in-flight-work horizon."""
        if "xmin" not in self.cursor_expr:
            return None
        row = self._read(
            "SELECT (pg_snapshot_xmin(pg_current_snapshot())::text::bigint"
            " % 4294967296) - 1 AS c"
        ).collect()[0]
        return int(row["c"])

    def incremental(self, cursor: int) -> DataFrame:
        # Range-partitioned incremental scan: split the open cursor
        # interval so executors read in parallel.
        hi = self.max_cursor()
        if hi <= cursor:
            return self.snapshot().limit(0)
        step = max(1, (hi - cursor) // self.num_partitions)
        # one predicate per partition: each executor runs its own
        # range-bounded query server-side (parallel incremental scan)
        predicates = [
            f"__cursor > {lo} AND __cursor <= {min(lo + step, hi)}"
            for lo in range(cursor, hi, step)
        ]
        return self.spark.read.jdbc(
            url=self.url,
            table=(
                f"(SELECT t.*, {self.cursor_expr} AS __cursor "
                f"FROM {self.table} t) sub"
            ),
            predicates=predicates,
            # fetchsize on the hot polling path too: without it the
            # PG driver materializes each partition's full result set
            properties={"fetchsize": "10000", **(self.properties or {})},
        )


@dataclass
class PsqlPollingLoader:
    """Cursor-paged loader over the ``psql`` CLI (jar-less fallback).

    Issues the SAME server-side SQL as :class:`JdbcPollingLoader`
    (identical ``cursor_expr`` default, snapshot/incremental/
    safe_cursor queries) but transports rows via
    ``COPY (query) TO STDOUT (FORMAT CSV)`` into a scratch file that
    Spark reads with an explicit schema. Exists for two reasons:

    - environments with a Postgres server but no JDBC driver jar on
      the Spark classpath (this sandbox: /usr/local/bin/psql exists,
      Maven is unreachable) — the live integration suite uses it to
      exercise the REAL xmin-cursor semantics against a real server;
    - operational escape hatch (debugging a poll from a shell host).

    Production stays on JdbcPollingLoader: the CSV hop funnels the
    snapshot through one driver-side process (no server-side
    parallel range scan) and CSV round-trips only the scalar types
    the ``schema`` names — fine for a poll loop's row volumes, wrong
    for a 100 TB backfill. ``schema`` is the table's Spark DDL
    WITHOUT the cursor column (appended automatically).

    Transport: one psql process per loader, started on first use and
    kept across polls. ``safe_cursor`` and ``max_cursor`` are one
    round trip on it, and ``\\o`` sends ``COPY ... TO STDOUT`` into a
    scratch CSV, so no row crosses the control pipe. The returned
    frame reads that CSV as ONE partition (``coalesce(1)``): the
    multiLine scan is one task anyway, and declaring it lets a
    key-partitioned consumer such as ``apply_changes`` run without an
    exchange. The trade is that every operator downstream of a psql
    batch runs in one task, which fits the poll-loop volumes this
    loader is for.

    Stats contract: each returned frame is a lazy Spark read of one
    scratch CSV that psql wrote in full before the method returned,
    and that nothing rewrites before ``close()`` deletes it. Every
    re-read of the frame therefore sees the same rows, so
    :meth:`batch_stats` can count them and take the max ``__cursor``
    from the file itself — pyarrow parses the cursor column only, with
    the same RFC-4180 rules as the Spark read — and the poll loop
    needs neither a persist nor a stats job.
    """

    spark: SparkSession
    dsn: list[str]  # psql args, e.g. ["-h", sockdir, "-p", "5433", ...]
    table: str
    schema: str
    cursor_expr: str = "(xmin::text::bigint)"
    psql_path: str = "psql"

    def __post_init__(self) -> None:
        self.table = quote_qualified_ident(self.table)
        # scratch CSVs of returned frames: frames are read LAZILY,
        # and a caller may legitimately hold several at once (e.g.
        # union a snapshot with a later delta before collecting), so
        # files are only released by close() — which PollingCdcSource
        # calls after each envelope batch is consumed, keeping the
        # poll loop leak-free without invalidating live frames — or
        # when the loader is collected unclosed.
        self._scratch: list[str] = []
        weakref.finalize(self, _unlink_all, self._scratch)
        # (frame, its scratch CSV) for batch_stats; dropped by close()
        self._files: list[tuple[DataFrame, str]] = []
        self._psql = _PsqlSession([self.psql_path, *self.dsn])

    def close(self) -> None:
        """Remove every scratch CSV handed out so far and forget
        their stats. Frames returned before this call must not be
        re-read afterwards (same consume-within-the-batch contract
        PollingCdcSource already imposes on envelope frames). The
        psql session stays open for the next batch."""
        self._files.clear()
        _unlink_all(self._scratch)

    def _scalar(self, sql: str) -> str:
        return self._psql.run(f"{sql};").strip()

    def _frame(self, query: str) -> DataFrame:
        # FORCE_QUOTE * so every non-NULL value is quoted: an unquoted
        # empty field is then unambiguously NULL and a quoted ""
        # unambiguously the empty string (round-7 review find — COPY's
        # default leaves empty strings unquoted, identical to the NULL
        # sentinel)
        copy = f"COPY ({query}) TO STDOUT (FORMAT CSV, HEADER, FORCE_QUOTE *);"
        # \o sends COPY's output straight into the scratch file
        # (registered first, so close() removes it even when COPY
        # fails); \o alone closes the file before run() returns
        with tempfile.NamedTemporaryFile(
            suffix=".csv", delete=False, prefix="psql_poll_"
        ) as f:
            self._scratch.append(f.name)
        self._psql.run(f"\\o {_psql_arg(f.name)}\n{copy}\n\\o")
        frame = (
            self.spark.read.option("header", True)
            # RFC-4180 options (round-7 review find): PG COPY doubles
            # quotes ("" inside a quoted field) and keeps newlines
            # inside quotes; Spark's defaults (backslash escape, no
            # multiLine) silently misparse both
            .option("escape", '"')
            .option("multiLine", True)
            # with FORCE_QUOTE * on the COPY side, a quoted "" is an
            # empty string and an unquoted empty field is NULL; the
            # sentinel nullValue stops Spark's default (nullValue="")
            # from mapping the quoted form to null too — univocity
            # still reads unquoted-empty as null regardless
            .option("nullValue", "\\N__NULL__")
            .schema(f"{self.schema}, __cursor bigint")
            .csv(f.name)
            # one file is one unsplittable multiLine partition anyway;
            # saying so lets a key-partitioned consumer (apply_changes'
            # window) skip its exchange
            .coalesce(1)
        )
        self._files.append((frame, f.name))
        return frame

    def batch_stats(self, frame: DataFrame) -> tuple[int, int] | None:
        """Row count and max ``__cursor`` of a frame returned since
        the last ``close()``, read from its scratch CSV without a
        Spark job; None for any other frame."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.csv as pacsv

        path = next((p for f, p in self._files if f is frame), None)
        if path is None:
            return None
        # the same RFC-4180 reading as the Spark side: newlines inside
        # quoted values, doubled quotes, and only an unquoted empty
        # field is NULL
        parse = pacsv.ParseOptions(newlines_in_values=True, double_quote=True)
        convert = pacsv.ConvertOptions(
            include_columns=["__cursor"],
            column_types={"__cursor": pa.int64()},
            null_values=[""],
            quoted_strings_can_be_null=False,
        )
        # a row must fit in one parse block; grow the block for long
        # multi-line values, up to the whole file
        block = 1 << 20
        while True:
            try:
                cursors = pacsv.read_csv(
                    path,
                    read_options=pacsv.ReadOptions(block_size=block),
                    parse_options=parse,
                    convert_options=convert,
                )["__cursor"]
                return len(cursors), int(pc.max(cursors).as_py() or 0)
            except pa.ArrowInvalid:
                if block > os.path.getsize(path):
                    raise
                block *= 4

    def snapshot(self) -> DataFrame:
        return self._frame(
            f"SELECT t.*, {self.cursor_expr} AS __cursor FROM {self.table} t"
        )

    def max_cursor(self) -> int:
        return int(
            self._scalar(
                f"SELECT COALESCE(MAX({self.cursor_expr}), 0) "
                f"FROM {self.table} t"
            )
        )

    def safe_cursor(self) -> int | None:
        if "xmin" not in self.cursor_expr:
            return None
        return int(
            self._scalar(
                "SELECT (pg_snapshot_xmin(pg_current_snapshot())"
                "::text::bigint % 4294967296) - 1"
            )
        )

    def incremental(self, cursor: int) -> DataFrame:
        return self._frame(
            f"SELECT t.*, {self.cursor_expr} AS __cursor "
            f"FROM {self.table} t "
            f"WHERE {self.cursor_expr} > {int(cursor)}"
        )


@dataclass
class ParquetReplayLoader:
    """Loader over the events fixture: event_id is the cursor.

    Lets every CDC code path run (and be oracle-checked) without a
    Postgres server; swap for JdbcPollingLoader in production.
    """

    spark: SparkSession
    sf_dir: str
    snapshot_cursor: int

    def _events(self) -> DataFrame:
        from streamz_postgres_spark.catalog import load_table

        return load_table(self.spark, self.sf_dir, "events").withColumn(
            "__cursor", F.col("event_id")
        )

    def snapshot(self) -> DataFrame:
        return self._events().filter(F.col("__cursor") <= self.snapshot_cursor)

    def max_cursor(self) -> int:
        row = self._events().agg(F.max("__cursor").alias("c")).collect()[0]
        return int(row["c"] or 0)

    def incremental(self, cursor: int) -> DataFrame:
        return self._events().filter(F.col("__cursor") > cursor)

    def safe_cursor(self) -> int | None:
        return None  # replay has no in-flight transactions


def to_envelope(df: DataFrame, key_cols: list[str], op: "F.Column | str") -> DataFrame:
    """Wrap captured rows in the uniform envelope. ``op`` may be a
    literal ('r' for snapshot reads) or a column expression."""
    payload_cols = [c for c in df.columns if c != "__cursor"]
    op_col = F.lit(op) if isinstance(op, str) else op
    return df.select(
        op_col.alias("op"),
        (F.col("ts") if "ts" in df.columns else F.lit(None).cast("timestamp_ntz")).alias("ts"),
        F.col("__cursor").cast("long").alias("seq"),
        F.to_json(F.struct(*key_cols)).alias("key"),
        F.lit(None).cast("string").alias("before"),
        F.to_json(F.struct(*payload_cols)).alias("after"),
    )


def normalize_envelope(raw: DataFrame, json_col: str = "value") -> DataFrame:
    """Parse Debezium-shaped JSON messages (e.g. a Kafka topic read
    via readStream.format('kafka')) into the uniform envelope."""
    return raw.select(
        F.from_json(F.col(json_col), CDC_ENVELOPE_SCHEMA).alias("e")
    ).select("e.*")


def full_refresh_diff(
    prev: DataFrame, cur: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Diff two snapshots into c/u/d envelopes.

    xmin polling cannot observe DELETEs (reference limitation,
    SURVEY §2.1); periodic full-refresh diffing is the documented
    escape hatch. Implemented as a NULL-SAFE full outer join on the
    raw key columns (eqNullSafe per key, presence decided by the
    payload sides, r13 — the round-12 advisor's high find): the
    tuple-set convention is 'NULL is a value', so a NULL-keyed row
    present in both snapshots is the SAME key — unchanged, no
    envelope — matching q_cdc_diff's oracle (IS NOT DISTINCT FROM +
    presence flags). The previous plain `=` USING-join emitted a
    spurious 'c' + 'd' pair for exactly that row. Rows: right-only
    -> 'c', left-only -> 'd', both-but-changed -> 'u'.
    """
    l = prev.select(
        *[F.col(c).alias(f"__lk_{c}") for c in key_cols],
        F.to_json(F.struct(*[c for c in prev.columns])).alias("before"),
    )
    r = cur.select(
        *[F.col(c).alias(f"__rk_{c}") for c in key_cols],
        F.to_json(F.struct(*[c for c in cur.columns])).alias("after"),
    )
    cond = None
    for c in key_cols:
        eq = F.col(f"__lk_{c}").eqNullSafe(F.col(f"__rk_{c}"))
        cond = eq if cond is None else (cond & eq)
    j = l.join(r, cond, "full")
    # coalesce per key column for the envelope key (either side may
    # be absent; a genuinely-NULL key part stays NULL on both sides)
    keyed = [
        F.coalesce(F.col(f"__lk_{c}"), F.col(f"__rk_{c}")).alias(c)
        for c in key_cols
    ]
    return j.select(
        F.when(F.col("before").isNull(), "c")
        .when(F.col("after").isNull(), "d")
        .otherwise("u")
        .alias("op"),
        F.lit(None).cast("timestamp_ntz").alias("ts"),
        F.lit(None).cast("long").alias("seq"),
        # ignoreNullFields off so NULL key parts stay visible as
        # {"k": null} instead of vanishing from the key
        F.to_json(
            F.struct(*keyed), {"ignoreNullFields": "false"}
        ).alias("key"),
        "before",
        "after",
    ).filter(
        F.col("before").isNull()
        | F.col("after").isNull()
        | (F.col("before") != F.col("after"))
    )


def apply_changes(
    changes: DataFrame,
    key: list[str] | str = "key",
    seq_cols: list[str] | None = None,
) -> DataFrame:
    """Latest-row-wins CDC apply: compact an envelope stream to the
    current table state (drop keys whose latest op is a delete).

    This is the canonical consumer of the reference's stream (apply
    the change feed to a materialized copy) as one window over the
    key — Delta's MERGE INTO without needing a transactional sink.
    """
    keys = [key] if isinstance(key, str) else key
    seq = seq_cols or ["seq"]
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in seq])
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("op") != "d"))
        .drop("__rn")
    )


def _count_and_max_seq(env: DataFrame) -> tuple[int, int]:
    """Row count and max ``seq`` of a persisted envelope batch, from
    ONE aggregate job."""
    row = env.agg(
        F.count(F.lit(1)).alias("n"), F.max("seq").alias("hi")
    ).collect()[0]
    return int(row["n"]), int(row["hi"] or 0)


@dataclass(frozen=True)
class PollRecord:
    """What the last ``start``/``poll_once`` that returned did: the
    rows it handed to ``apply_fn``, the cursor before and after, the
    ``safe_cursor`` horizon it capped the cursor at (None: no probe),
    and whether it reset the cursor to 0 — xid wraparound or a
    restored source, so the batch re-read the table from the start."""

    rows: int
    cursor_before: int
    cursor_after: int
    safe: int | None
    reset: bool


class PollingCdcSource:
    """The reference's poll loop, Spark-side (SURVEY §3.1).

    snapshot -> 'r' envelopes -> apply_fn; then each poll reads rows
    with cursor > last, wraps them as 'c'/'u' envelopes, hands the
    batch to ``apply_fn(batch_df, poll_idx)`` — the driver-loop
    analogue of foreachBatch — and advances the cursor only once
    ``apply_fn`` has returned (a raising apply leaves it where it
    was, so the batch is re-read). The cursor is plain state a caller
    can checkpoint (the streaming runner persists it alongside the
    Spark checkpoint dir); ``last_poll`` is a :class:`PollRecord` of
    the last call.
    """

    def __init__(
        self,
        loader: Loader,
        key_cols: list[str],
        is_create: "Callable[[DataFrame], F.Column] | None" = None,
    ) -> None:
        self.loader = loader
        self.key_cols = key_cols
        self.is_create = is_create
        self.cursor: int = 0
        self.last_poll: PollRecord | None = None

    @contextmanager
    def _batch(self, frame: DataFrame, op: "F.Column | str"):
        """Yield ``(envelopes, rows, max seq)`` for one captured batch,
        then release it. The stats must describe exactly the rows
        apply_fn will read. When the loader's ``batch_stats`` vouches
        for a stable, counted frame they cost nothing, and nothing is
        persisted. Only when it cannot is the envelope persisted, so
        the stats job and the apply read ONE materialized execution
        of the source query — two lazy executions of a live source
        read could see different data, silently skipping rows
        committed in between — and the stats job fills the cache
        apply_fn then reads from."""
        try:
            stats = getattr(self.loader, "batch_stats", lambda f: None)(frame)
            env = to_envelope(frame, self.key_cols, op)
            if stats is None:
                env = env.persist()
                try:
                    n, hi = _count_and_max_seq(env)
                    yield env, n, hi
                finally:
                    env.unpersist()
            else:
                yield env, *stats
        finally:
            # the batch is fully consumed: let scratch-holding
            # loaders (PsqlPollingLoader) drop their temp files and
            # the stats that described them
            getattr(self.loader, "close", lambda: None)()

    def start(self, apply_fn: Callable[[DataFrame, int], None]) -> None:
        before = self.cursor
        with self._batch(self.loader.snapshot(), "r") as (env, n, hi):
            apply_fn(env, 0)
            self.cursor = hi
        self.last_poll = PollRecord(n, before, self.cursor, None, False)

    def poll_once(self, apply_fn: Callable[[DataFrame, int], None], idx: int) -> int:
        """One poll: returns the number of change rows emitted.

        Safety rules (rationale in the module docstring):

        - the cursor never advances past the loader's ``safe_cursor``
          horizon, so rows from still-open transactions are re-read
          once they commit (at-least-once under idempotent apply);
        - ``safe_cursor() < cursor`` cannot happen in normal
          operation, so it signals xid wraparound or a restored
          source: reset to 0 and re-read everything;
        - loaders without a horizon (``safe_cursor() is None``) fall
          back to the table-max regression check on empty polls —
          catches restored backups, though not xmin wraparound.

        Either reset shows as ``last_poll.reset``.
        """
        before = self.cursor
        safe = getattr(self.loader, "safe_cursor", lambda: None)()
        reset = safe is not None and safe < self.cursor
        if reset:
            # wraparound/regression: re-read from zero
            self.cursor = 0
        inc = self.loader.incremental(self.cursor)
        if self.is_create is not None:
            op = F.when(self.is_create(inc), "c").otherwise("u")
        else:
            op = F.lit("c")
        # the stats come first: an empty poll skips apply_fn (an
        # Observation on apply_fn's job would also hang if it ran none)
        with self._batch(inc, op) as (env, n, hi):
            if n:
                apply_fn(env, idx)
                cap = hi if safe is None else min(hi, safe)
                self.cursor = max(self.cursor, cap)
            elif safe is None and self.loader.max_cursor() < self.cursor:
                # regression fallback (no horizon probe)
                self.cursor = 0
                reset = True
        self.last_poll = PollRecord(n, before, self.cursor, safe, reset)
        return n


@dataclass
class PsqlTableSink:
    """Write-back sink over the ``psql`` CLI (jar-less fallback) —
    the consumer half PsqlPollingLoader is the source half of: a
    materialized CDC table living IN Postgres, round-trippable
    without a JDBC driver on the classpath.

    ``write`` collects the frame to the driver as Arrow
    (``toArrow``), encodes it as CSV with pyarrow into a scratch
    file, and loads it over the sink's psql session (one process,
    started on first use and kept across writes) as ``BEGIN``, the
    ``CREATE TABLE IF NOT EXISTS`` (Spark -> PG types via
    :func:`pg_types.pg_type_for`), the ``TRUNCATE`` of an overwrite,
    ``\\copy ... FROM`` the file, ``COMMIT``. On any error psql
    exits and the server rolls the transaction back, so a failing
    write leaves the table as it was; the write raises
    ``CalledProcessError`` with psql's message as bytes in
    ``stderr``, and the next write starts a new session. Scalar
    columns only; ``binary`` lands in ``bytea`` via its hex form. The driver funnel is right for a poll loop's batch
    sizes and for tests against a live server; a 100 TB backfill
    uses the JDBC writer (``df.write.jdbc``) or per-partition COPY
    workers instead, and the docstring is the contract that says so.
    """

    spark: SparkSession
    dsn: list[str]
    table: str
    psql_path: str = "psql"

    def __post_init__(self) -> None:
        self.table = quote_qualified_ident(self.table)
        self._psql = _PsqlSession([self.psql_path, *self.dsn])

    def _ddl(self, df: DataFrame) -> str:
        from streamz_postgres_spark.sources.pg_types import pg_type_for

        cols = ", ".join(
            f'"{f.name}" {pg_type_for(f.dataType.simpleString())}'
            for f in df.schema.fields
        )
        return f"CREATE TABLE IF NOT EXISTS {self.table} ({cols})"

    def write(self, df: DataFrame, mode: str = "append") -> int:
        """Write ``df`` into the PG table; returns rows written.
        ``mode``: 'append' adds rows, 'overwrite' truncates first.
        Raises ValueError for an array, map or struct column, before
        anything reaches Postgres, and CalledProcessError (psql's
        message in ``stderr``) when the transaction rolls back.
        """
        import pyarrow as pa
        import pyarrow.csv as pacsv

        if mode not in ("append", "overwrite"):
            raise ValueError(f"unsupported mode {mode!r}")
        hexed = {}
        for f in df.schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                raise ValueError(
                    f"PsqlTableSink cannot write nested column {f.name!r}"
                    f" ({f.dataType.simpleString()}): scalar columns only"
                )
            if isinstance(f.dataType, T.BinaryType):
                # bytea's hex input form; raw bytes would break the CSV
                name = "`" + f.name.replace("`", "``") + "`"
                hexed[f.name] = F.concat(F.lit("\\x"), F.hex(F.col(name)))
        rows = df.withColumns(hexed).toArrow()
        # Arrow keeps nullable integers integral (toPandas would make
        # them float64, and '1.0' breaks a bigint COPY); all_valid
        # quotes every value and leaves NULL unquoted-empty: exactly
        # the NULL-vs-'' split COPY's NULL '' reads back
        csv = pa.BufferOutputStream()
        pacsv.write_csv(
            rows,
            csv,
            pacsv.WriteOptions(include_header=False, quoting_style="all_valid"),
        )
        # a line that is exactly \. would end \copy's read early; every
        # value is quoted, so such a line is inside a value: close the
        # quote before its \. and reopen it after (the server joins the
        # quoted and unquoted pieces of one field)
        data = _COPY_EOF_LINE.sub(lambda m: b'\n"\\."', csv.getvalue().to_pybytes())
        collist = ", ".join(f'"{c}"' for c in df.columns)
        with tempfile.NamedTemporaryFile(suffix=".csv", prefix="psql_poll_sink_") as f:
            f.write(data)
            f.flush()
            self._psql.run(
                "\n".join(
                    [
                        "BEGIN;",
                        f"{self._ddl(df)};",
                        *([f"TRUNCATE {self.table};"] if mode == "overwrite" else []),
                        f"\\copy {self.table} ({collist}) FROM {_psql_arg(f.name)}"
                        " (FORMAT CSV, NULL '')",
                        "COMMIT;",
                    ]
                )
            )
        return rows.num_rows
