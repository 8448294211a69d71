"""Live CDC integration against a REAL Postgres server, self-hosted.

The docker-compose path (tests/test_integration_live.py) needs a
daemon and a JDBC jar, neither of which this sandbox has — but the
image DOES ship the Postgres server binaries (initdb/pg_ctl/psql
15.x), so this suite boots a throwaway single-user-socket cluster in
a temp dir and exercises the REAL polling-CDC semantics the
reference is built on: xmin-cursor snapshot, incremental polls that
see exactly the committed changes (inserts AND updates — xmin moves
on update), the in-flight-transaction safe_cursor horizon, and the
full PollingCdcSource loop, all through PsqlPollingLoader (same
server-side SQL as JdbcPollingLoader, COPY-CSV transport). Skips
cleanly when the binaries are absent.
"""

from __future__ import annotations

import hashlib
import shutil
import subprocess
import tempfile
import time
from pathlib import Path

import pytest

pytestmark = pytest.mark.slow

_PG_PORT = "55432"  # socket-only cluster; port still names the socket file


def _have_pg() -> bool:
    return all(shutil.which(b) for b in ("initdb", "pg_ctl", "psql"))


def _server_cmd(cmd: list[str]) -> list[str]:
    """Postgres server binaries refuse to run as root; when the test
    session is root (the sandbox), drop to the image's unprivileged
    ``postgres`` user via runuser. Non-root sessions run directly."""
    import os

    if os.geteuid() != 0:
        return cmd
    if not shutil.which("runuser"):
        pytest.skip("root session and no runuser to drop privileges")
    return ["runuser", "-u", "postgres", "--", *cmd]


@pytest.fixture(scope="module")
def pg_dsn():
    """Boot a scratch Postgres cluster (unix socket only, trust
    auth) and yield the psql connection args; tear it down fully."""
    import os
    import pwd

    if not _have_pg():
        pytest.skip("no Postgres server binaries (initdb/pg_ctl/psql)")
    if os.geteuid() == 0:
        try:
            pwd.getpwnam("postgres")
        except KeyError:
            pytest.skip("root session and no postgres user to run as")
    d = Path(tempfile.mkdtemp(prefix="pg_live_"))
    data, sock = d / "data", d / "sock"
    sock.mkdir()
    if os.geteuid() == 0:
        pg_uid = pwd.getpwnam("postgres")
        for p in (d, sock):
            os.chown(p, pg_uid.pw_uid, pg_uid.pw_gid)
    subprocess.run(
        _server_cmd(
            ["initdb", "-D", str(data), "-U", "postgres", "--auth=trust"]
        ),
        check=True,
        capture_output=True,
    )
    subprocess.run(
        _server_cmd(
            [
                "pg_ctl", "-D", str(data), "-w", "-l", str(d / "pg.log"),
                "-o",
                f"-p {_PG_PORT} -k {sock} -c listen_addresses=''",
                "start",
            ]
        ),
        check=True,
        capture_output=True,
    )
    dsn = ["-h", str(sock), "-p", _PG_PORT, "-U", "postgres", "-d", "postgres"]
    # server accepts connections (pg_ctl -w waited, but belt+braces)
    for _ in range(50):
        r = subprocess.run(
            ["psql", *dsn, "-X", "-c", "SELECT 1"], capture_output=True
        )
        if r.returncode == 0:
            break
        time.sleep(0.2)
    else:
        pytest.fail("scratch Postgres did not come up")
    yield dsn
    subprocess.run(
        _server_cmd(["pg_ctl", "-D", str(data), "-m", "immediate", "stop"]),
        capture_output=True,
    )
    shutil.rmtree(d, ignore_errors=True)


def _sql(dsn, sql: str) -> str:
    out = subprocess.run(
        ["psql", *dsn, "-X", "-A", "-t", "-c", sql],
        capture_output=True,
        text=True,
        check=True,
    )
    return out.stdout.strip()


@pytest.fixture()
def fresh_table(pg_dsn):
    _sql(pg_dsn, "DROP TABLE IF EXISTS t_cdc")
    _sql(
        pg_dsn,
        "CREATE TABLE t_cdc (id bigint PRIMARY KEY, v double precision,"
        " note text)",
    )
    return pg_dsn


_SCHEMA = "id bigint, v double, note string"


def _loader(spark, dsn):
    from streamz_postgres_spark.sources.cdc import PsqlPollingLoader

    return PsqlPollingLoader(
        spark=spark, dsn=dsn, table="t_cdc", schema=_SCHEMA
    )


def test_xmin_cursor_loop_live(spark, fresh_table):
    """Snapshot -> commit more (insert + update) -> incremental sees
    exactly the changed rows -> cursor advances -> empty poll."""
    dsn = fresh_table
    _sql(
        dsn,
        "INSERT INTO t_cdc SELECT i, i * 1.5, 'seed' "
        "FROM generate_series(1, 5) i",
    )
    ld = _loader(spark, dsn)
    snap = ld.snapshot()
    assert snap.count() == 5
    assert set(snap.columns) == {"id", "v", "note", "__cursor"}
    cursor = ld.max_cursor()
    assert cursor > 0

    # three inserts in one txn, one update in another: the update
    # rewrites that row's xmin, so it MUST reappear in the poll
    _sql(
        dsn,
        "INSERT INTO t_cdc SELECT i, i * 1.5, 'new' "
        "FROM generate_series(6, 8) i",
    )
    _sql(dsn, "UPDATE t_cdc SET v = 99.0, note = 'upd' WHERE id = 2")
    inc = ld.incremental(cursor)
    rows = {r.id: (r.v, r.note) for r in inc.collect()}
    assert rows == {
        6: (9.0, "new"),
        7: (10.5, "new"),
        8: (12.0, "new"),
        2: (99.0, "upd"),
    }
    # inserts share one txn -> one xmin; the update is a later txn
    cursors = {r.id: r["__cursor"] for r in inc.collect()}
    assert cursors[6] == cursors[7] == cursors[8]
    assert cursors[2] > cursors[6]

    # with nothing in flight the horizon clears every committed row
    safe = ld.safe_cursor()
    assert safe is not None and safe >= ld.max_cursor()
    # cursor caught up -> empty incremental
    assert ld.incremental(ld.max_cursor()).count() == 0


def test_safe_cursor_holds_back_open_transaction(spark, fresh_table):
    """The at-least-once guarantee hinges on safe_cursor: a row
    written by a still-open transaction must keep the horizon BELOW
    that transaction's xid so a poll cannot advance past it."""
    dsn = fresh_table
    _sql(dsn, "INSERT INTO t_cdc VALUES (1, 1.0, 'seed')")
    ld = _loader(spark, dsn)
    quiet = ld.safe_cursor()
    # open a transaction that wrote but did not commit, in a
    # separate long-lived psql process
    proc = subprocess.Popen(
        ["psql", *dsn, "-X"],
        stdin=subprocess.PIPE,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    proc.stdin.write(
        "BEGIN;\nINSERT INTO t_cdc VALUES (100, 0.5, 'inflight');\n"
    )
    proc.stdin.flush()
    time.sleep(1.0)  # let the txn register
    try:
        held = ld.safe_cursor()
        open_xid = int(
            _sql(
                dsn,
                "SELECT backend_xid::text::bigint FROM pg_stat_activity "
                "WHERE backend_xid IS NOT NULL "
                "ORDER BY backend_xid::text::bigint LIMIT 1",
            )
        )
        assert held is not None and held < open_xid
        assert held >= (quiet or 0)
    finally:
        proc.stdin.write("COMMIT;\n\\q\n")
        proc.stdin.flush()
        proc.wait(timeout=10)
    # once committed, the horizon passes the row and a poll sees it
    assert ld.safe_cursor() >= open_xid
    ids = {r.id for r in ld.incremental(0).collect()}
    assert 100 in ids


def test_polling_cdc_source_full_loop_live(spark, fresh_table):
    """PollingCdcSource end-to-end against the live server: snapshot
    batch, then a poll batch with exactly the new rows, envelopes
    well-formed, cursor monotone."""
    from pyspark.sql import functions as F

    from streamz_postgres_spark.sources.cdc import PollingCdcSource

    dsn = fresh_table
    _sql(
        dsn,
        "INSERT INTO t_cdc SELECT i, i * 2.0, 'seed' "
        "FROM generate_series(1, 4) i",
    )
    src = PollingCdcSource(_loader(spark, dsn), key_cols=["id"])
    batches = []

    def apply_fn(env, idx):
        batches.append((idx, env.select("op", "seq", "key", "after").collect()))

    src.start(apply_fn)
    assert len(batches) == 1 and len(batches[0][1]) == 4
    assert {r.op for r in batches[0][1]} == {"r"}
    c0 = src.cursor
    assert c0 > 0

    _sql(dsn, "INSERT INTO t_cdc VALUES (10, 5.0, 'polled')")
    n = src.poll_once(apply_fn, 1)
    assert n == 1 and src.cursor >= c0
    (_, rows) = batches[-1]
    assert len(rows) == 1
    import json

    assert json.loads(rows[0].key) == {"id": 10}
    assert json.loads(rows[0].after)["note"] == "polled"
    # quiet poll: no rows, cursor stable
    assert src.poll_once(apply_fn, 2) == 0


def test_write_back_round_trip_live(spark, fresh_table):
    """Full source->consumer->sink cycle against the live server:
    poll a table out through PsqlPollingLoader, materialize the
    latest rows with apply_changes, write them back into a second
    PG table through PsqlTableSink, and verify IN POSTGRES that the
    materialization tracks the source through an update."""
    from pyspark.sql import functions as F

    from streamz_postgres_spark.sources.cdc import (
        PsqlTableSink,
        apply_changes,
        to_envelope,
    )

    dsn = fresh_table
    _sql(
        dsn,
        "INSERT INTO t_cdc SELECT i, i * 1.0, 'v1' "
        "FROM generate_series(1, 6) i",
    )
    ld = _loader(spark, dsn)
    sink = PsqlTableSink(spark=spark, dsn=dsn, table="t_mat")

    snap = to_envelope(ld.snapshot(), ["id"], "r")
    mat = apply_changes(snap)
    n = sink.write(
        mat.select(
            F.get_json_object("after", "$.id").cast("bigint").alias("id"),
            F.get_json_object("after", "$.v").cast("double").alias("v"),
            F.get_json_object("after", "$.note").alias("note"),
        ),
        mode="overwrite",
    )
    assert n == 6
    assert _sql(dsn, "SELECT COUNT(*) || ',' || SUM(v) FROM t_mat") == "6,21"

    # source moves: one update + one insert; poll the delta, apply it
    # over the materialized state, write back, verify in PG
    cursor = ld.max_cursor()
    _sql(dsn, "UPDATE t_cdc SET v = 100.0, note = 'v2' WHERE id = 3")
    _sql(dsn, "INSERT INTO t_cdc VALUES (7, 7.0, 'v1')")
    delta = to_envelope(ld.incremental(cursor), ["id"], "u")
    mat2 = apply_changes(snap.unionByName(delta))
    sink.write(
        mat2.select(
            F.get_json_object("after", "$.id").cast("bigint").alias("id"),
            F.get_json_object("after", "$.v").cast("double").alias("v"),
            F.get_json_object("after", "$.note").alias("note"),
        ),
        mode="overwrite",
    )
    assert _sql(dsn, "SELECT COUNT(*) FROM t_mat") == "7"
    assert _sql(dsn, "SELECT v || '/' || note FROM t_mat WHERE id = 3") == (
        "100/v2"
    )
    assert _sql(dsn, "SELECT note FROM t_mat WHERE id = 7") == "v1"
    ld.close()  # drop the loader's scratch CSVs now that frames are consumed


def test_hostile_values_round_trip_live(spark, fresh_table):
    """Round-7 review finds, pinned live: quotes/newlines inside
    text survive the COPY CSV hop in BOTH directions, NULL and empty
    string stay distinct, and a NULL in a bigint column does not
    become '1.0' (the pandas float64 coercion). Write hostile rows
    through PsqlTableSink, read them back through PsqlPollingLoader,
    and compare exactly."""
    dsn = fresh_table
    from streamz_postgres_spark.sources.cdc import (
        PsqlPollingLoader,
        PsqlTableSink,
    )

    hostile = [
        (1, 1.5, 'he said "hi"'),
        (2, None, "line one\nline two"),
        (3, 2.5, ""),           # empty string, NOT null
        (4, 3.5, None),         # null, NOT empty string
        (5, None, 'comma, "quoted, too", end'),
        # the psql transport: COPY's end-of-data line, a nonce-like
        # prefix, meta-command lookalikes, CRLF
        (6, 6.5, "before\n\\.\nafter"),
        (7, 7.5, "\\.\r\n\\.\r\n\\.\n\\."),
        (8, 8.5, "__psql_0123456789abcdef\n__psql_"),
        (9, 9.5, "\\o /tmp/x\n\\echo __psql_x\n\\copy t FROM stdin\n\\q"),
        (10, None, 'crlf\r\n"q"\r\n'),
    ]
    df = spark.createDataFrame(hostile, "id long, v double, note string")
    sink = PsqlTableSink(spark=spark, dsn=dsn, table="t_hostile")
    assert sink.write(df, mode="overwrite") == len(hostile)

    # server-side truth checks (no CSV on this path)
    assert _sql(dsn, "SELECT note FROM t_hostile WHERE id = 1") == (
        'he said "hi"'
    )
    assert _sql(dsn, "SELECT v IS NULL FROM t_hostile WHERE id = 2") == "t"
    assert _sql(dsn, "SELECT note = '' FROM t_hostile WHERE id = 3") == "t"
    assert _sql(dsn, "SELECT note IS NULL FROM t_hostile WHERE id = 4") == "t"
    assert _sql(
        dsn,
        "SELECT string_agg(coalesce(md5(note), 'NULL'), ',' ORDER BY id)"
        " FROM t_hostile",
    ) == ",".join(
        "NULL" if n is None else hashlib.md5(n.encode()).hexdigest()
        for _, _, n in hostile
    )

    ld = PsqlPollingLoader(
        spark=spark, dsn=dsn, table="t_hostile",
        schema="id long, v double, note string",
    )
    back = {
        r.id: (r.v, r.note)
        for r in ld.snapshot().select("id", "v", "note").collect()
    }
    assert back == {i: (v, n) for i, v, n in hostile}
    ld.close()

    # non-finite and edge doubles, microsecond timestamps (with and
    # without zone), decimal, date, bool, tab and backslash: checked
    # as the server's own text rendering of what it stored
    from datetime import date, datetime, timezone
    from decimal import Decimal

    typed = spark.createDataFrame(
        [
            (1, float("nan"), datetime(2024, 2, 29, 23, 59, 59, 123456,
             tzinfo=timezone.utc), datetime(1969, 12, 31, 23, 59, 59, 1),
             Decimal("-12345678.9012"), date(2024, 2, 29), True, "a\tb"),
            (2, float("inf"), None, None, Decimal("0.0001"),
             date(1900, 3, 1), False, "back\\slash"),
            (3, float("-inf"), None, None, None, None, None, 'tab\t"q",\\'),
            (4, -0.0, None, None, None, None, None, None),
            (5, 1e-300, None, None, None, None, None, None),
            (6, 0.1 + 0.2, None, None, None, None, None, None),
        ],
        "id int, d double, ts timestamp, tsn timestamp_ntz,"
        " dec decimal(12,4), dt date, b boolean, s string",
    )
    _sql(dsn, "DROP TABLE IF EXISTS t_typed")
    sink = PsqlTableSink(spark=spark, dsn=dsn, table="t_typed")
    assert sink.write(typed, mode="overwrite") == 6

    def col(expr: str) -> list[str]:
        return _sql(
            dsn, f"SELECT coalesce(({expr})::text, 'NULL') FROM t_typed"
            " ORDER BY id"
        ).split("\n")

    assert col("d") == [
        "NaN", "Infinity", "-Infinity", "-0", "1e-300",
        "0.30000000000000004",
    ]
    assert col("ts AT TIME ZONE 'UTC'")[:2] == [
        "2024-02-29 23:59:59.123456", "NULL",
    ]
    assert col("tsn")[:2] == ["1969-12-31 23:59:59.000001", "NULL"]
    assert col("dec")[:3] == ["-12345678.9012", "0.0001", "NULL"]
    assert col("dt")[:3] == ["2024-02-29", "1900-03-01", "NULL"]
    assert col("b")[:3] == ["true", "false", "NULL"]
    assert col("s = E'a\\tb'")[0] == "true"
    assert col("s = E'back\\\\slash'")[1] == "true"
    assert col("s = E'tab\\t\"q\",\\\\'")[2] == "true"
    assert col("s")[3] == "NULL"


def test_sink_binary_and_nested_columns_live(spark, fresh_table):
    """binary lands in bytea byte for byte (CSV-hostile bytes, empty
    and NULL included); array, map and struct columns are refused
    with a ValueError naming the column before any psql runs."""
    from streamz_postgres_spark.sources.cdc import PsqlTableSink

    dsn = fresh_table
    _sql(dsn, "DROP TABLE IF EXISTS t_blob")
    df = spark.createDataFrame(
        [(1, bytes([0, 255, 44, 34, 10, 92])), (2, None), (3, b"")],
        "id int, blob binary",
    )
    sink = PsqlTableSink(spark=spark, dsn=dsn, table="t_blob")
    assert sink.write(df, mode="overwrite") == 3
    assert _sql(
        dsn,
        "SELECT string_agg(coalesce(encode(blob, 'hex'), 'NULL'), ','"
        " ORDER BY id) FROM t_blob",
    ) == "00ff2c220a5c,NULL,"

    # a psql that does not exist: reaching it would raise
    # FileNotFoundError instead of the ValueError
    refusing = PsqlTableSink(
        spark=spark, dsn=dsn, table="t_nested", psql_path="/nonexistent/psql"
    )
    for name, expr in (
        ("arr", "array(1, 2)"),
        ("mp", "map('k', 'v')"),
        ("st", "named_struct('a', 1)"),
    ):
        nested = spark.range(1).selectExpr("id", f"{expr} AS {name}")
        with pytest.raises(ValueError, match=name):
            refusing.write(nested)
    assert _sql(dsn, "SELECT to_regclass('t_nested') IS NULL") == "t"


def test_overwrite_is_atomic_live(spark, fresh_table):
    """DDL, TRUNCATE and COPY run as one transaction: an overwrite
    whose COPY fails leaves the previous rows in place."""
    from streamz_postgres_spark.sources.cdc import PsqlTableSink

    dsn = fresh_table
    _sql(dsn, "DROP TABLE IF EXISTS t_atomic")
    sink = PsqlTableSink(spark=spark, dsn=dsn, table="t_atomic")
    good = spark.createDataFrame([(1, "a"), (2, "b")], "id int, note string")
    assert sink.write(good, mode="overwrite") == 2
    # the table's id is integer; 2^40 fails COPY after the TRUNCATE
    bad = spark.createDataFrame([(2**40, "c")], "id bigint, note string")
    with pytest.raises(subprocess.CalledProcessError) as err:
        sink.write(bad, mode="overwrite")
    assert b"out of range" in err.value.stderr
    assert _sql(
        dsn, "SELECT string_agg(id || note, ',' ORDER BY id) FROM t_atomic"
    ) == "1a,2b"


def test_pk_cursor_loader_live(spark, fresh_table):
    """The non-xmin cursor path live: a PK cursor has no
    in-flight-transaction horizon (safe_cursor None), so
    PollingCdcSource must fall back to the table-max regression
    check — and a PK cursor must NOT re-emit updates (it tracks
    inserts only, the documented difference from xmin)."""
    from streamz_postgres_spark.sources.cdc import (
        PollingCdcSource,
        PsqlPollingLoader,
    )

    dsn = fresh_table
    _sql(
        dsn,
        "INSERT INTO t_cdc SELECT i, i * 1.0, 'seed' "
        "FROM generate_series(1, 4) i",
    )
    ld = PsqlPollingLoader(
        spark=spark, dsn=dsn, table="t_cdc", schema=_SCHEMA,
        cursor_expr="id",
    )
    assert ld.safe_cursor() is None
    assert ld.max_cursor() == 4

    src = PollingCdcSource(ld, key_cols=["id"])
    seen = []
    src.start(lambda env, idx: seen.append(env.count()))
    assert src.cursor == 4

    # an UPDATE does not move a PK cursor; an INSERT does
    _sql(dsn, "UPDATE t_cdc SET v = 99.0 WHERE id = 2")
    assert src.poll_once(lambda env, idx: seen.append(env.count()), 1) == 0
    _sql(dsn, "INSERT INTO t_cdc VALUES (9, 9.0, 'new')")
    assert src.poll_once(lambda env, idx: seen.append(env.count()), 2) == 1
    assert src.cursor == 9
    # quiet poll exercises the table-max fallback branch (safe=None)
    assert src.poll_once(lambda env, idx: None, 3) == 0
    assert src.cursor == 9


def _jobs_run(spark, group: str, fn):
    """(fn(), Spark jobs it ran), counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_psql_poll_bookkeeping_runs_no_spark_job_live(spark, fresh_table):
    """PsqlPollingLoader vouches for its batches, so poll_once runs no
    Spark job of its own: an empty poll runs none, and neither does a
    non-empty poll whose apply_fn runs no action. An apply that does
    run an action shows up in the same count."""
    from streamz_postgres_spark.sources.cdc import PollingCdcSource

    dsn = fresh_table
    _sql(dsn, "INSERT INTO t_cdc SELECT i, i, 'seed' FROM generate_series(1, 4) i")
    src = PollingCdcSource(_loader(spark, dsn), key_cols=["id"])
    src.start(lambda env, idx: None)
    assert src.last_poll.rows == 4

    assert _jobs_run(spark, "bk-empty", lambda: src.poll_once(
        lambda env, idx: None, 1)) == (0, 0)

    _sql(dsn, "INSERT INTO t_cdc SELECT i, i, 'new' FROM generate_series(5, 7) i")
    c0 = src.cursor
    assert _jobs_run(spark, "bk-rows", lambda: src.poll_once(
        lambda env, idx: None, 2)) == (3, 0)
    assert src.cursor > c0

    _sql(dsn, "UPDATE t_cdc SET note = 'upd' WHERE id = 1")
    counted = []
    n, jobs = _jobs_run(spark, "bk-action", lambda: src.poll_once(
        lambda env, idx: counted.append(env.count()), 3))
    assert (n, counted) == (1, [1]) and jobs >= 1


def test_batch_stats_match_spark_read_live(spark, fresh_table):
    """The loader's stats equal frame.count() and max(__cursor) of the
    frame Spark reads from the same scratch CSV, on rows that trip a
    naive CSV reader: \\n and \\r\\n inside quoted values, doubled
    quotes, '' next to NULL, a multi-line value longer than pyarrow's
    default parse block, and a header-only batch. close() forgets
    the stats."""
    from pyspark.sql import functions as F

    from streamz_postgres_spark.sources.cdc import PsqlPollingLoader

    dsn = fresh_table
    _sql(
        dsn,
        "INSERT INTO t_cdc VALUES"
        " (1, 1, E'one\\ntwo'), (2, 2, E'crlf\\r\\nline'),"
        " (3, 3, 'say \"hi\" \"\"twice\"\"'), (4, 4, ''), (5, NULL, NULL),"
        " (6, 6, '\"'), (7, 7, repeat(E'line, \"q\"\\r\\n', 200000)),"
        " (8, 8, 'after the long one')",
    )
    ld = PsqlPollingLoader(
        spark=spark, dsn=dsn, table="t_cdc", schema=_SCHEMA, cursor_expr="id"
    )

    def spark_stats(frame):
        row = frame.agg(F.count(F.lit(1)), F.max("__cursor")).first()
        return row[0], int(row[1] or 0)

    snap = ld.snapshot()
    assert ld.batch_stats(snap) == spark_stats(snap) == (8, 8)
    assert snap.filter("note = ''").count() == 1
    assert snap.filter("note IS NULL").count() == 1
    assert snap.filter("id = 7").first().note.count("\r\n") == 200000

    inc = ld.incremental(2)
    assert ld.batch_stats(inc) == spark_stats(inc) == (6, 8)
    empty = ld.incremental(8)
    assert ld.batch_stats(empty) == spark_stats(empty) == (0, 0)

    # only frames the loader handed out, and only until close()
    assert ld.batch_stats(snap.filter("id > 1")) is None
    ld.close()
    assert ld.batch_stats(snap) is None and ld.batch_stats(empty) is None


def test_one_psql_per_loader_and_sink_live(spark, fresh_table, monkeypatch):
    """A snapshot and 10 non-empty polls through PollingCdcSource ->
    apply_changes -> PsqlTableSink start exactly one psql for the
    loader and one for the sink, and every batch lands."""
    import sys

    from streamz_postgres_spark.sources import cdc

    spawned = []
    popen = subprocess.Popen

    def counting(*args, **kwargs):
        if sys._getframe(1).f_globals.get("__name__") == cdc.__name__:
            spawned.append(args[0])
        return popen(*args, **kwargs)

    monkeypatch.setattr(cdc.subprocess, "Popen", counting)
    dsn = fresh_table
    _sql(dsn, "INSERT INTO t_cdc SELECT i, i, 'seed' FROM generate_series(1, 4) i")
    src = cdc.PollingCdcSource(_loader(spark, dsn), key_cols=["id"])
    sink = cdc.PsqlTableSink(spark=spark, dsn=dsn, table="t_spawn")

    def apply_fn(env, idx):
        sink.write(cdc.apply_changes(env).select("seq", "key", "after"))

    _sql(dsn, "DROP TABLE IF EXISTS t_spawn")
    src.start(apply_fn)
    for i in range(1, 11):
        _sql(dsn, f"INSERT INTO t_cdc VALUES ({100 + i}, {i}, 'new')")
        assert src.poll_once(apply_fn, i) == 1
    assert len(spawned) == 2
    assert _sql(dsn, "SELECT count(*) FROM t_spawn") == "14"


def test_psql_poll_with_apply_and_write_runs_one_job_live(spark, fresh_table):
    """A psql frame is one partition, so apply_changes' window needs
    no exchange: a non-empty poll whose apply_fn runs apply_changes
    and a sink write is exactly one Spark job."""
    from streamz_postgres_spark.plans.scale import explain_summary
    from streamz_postgres_spark.sources.cdc import (
        PollingCdcSource,
        PsqlTableSink,
        apply_changes,
        to_envelope,
    )

    dsn = fresh_table
    _sql(dsn, "INSERT INTO t_cdc SELECT i, i, 'seed' FROM generate_series(1, 4) i")
    ld = _loader(spark, dsn)
    plan = explain_summary(apply_changes(to_envelope(ld.snapshot(), ["id"], "r")))
    assert plan["exchanges"] == 0
    ld.close()

    _sql(dsn, "DROP TABLE IF EXISTS t_onejob")
    sink = PsqlTableSink(spark=spark, dsn=dsn, table="t_onejob")
    src = PollingCdcSource(ld, key_cols=["id"])

    def apply_fn(env, idx):
        sink.write(apply_changes(env).select("seq", "key", "after"))

    src.start(apply_fn)
    _sql(dsn, "INSERT INTO t_cdc SELECT i, i, 'new' FROM generate_series(5, 7) i")
    _sql(dsn, "UPDATE t_cdc SET note = 'upd' WHERE id = 1")
    assert _jobs_run(spark, "one-job", lambda: src.poll_once(apply_fn, 1)) == (4, 1)
    assert _sql(dsn, "SELECT count(*) FROM t_onejob") == "8"


def test_sink_respawns_after_a_failed_write_live(spark, fresh_table):
    """A failing write raises CalledProcessError with psql's message
    as bytes; the same sink's next write runs in a new psql and
    succeeds, and the table holds exactly the rows of the writes
    that succeeded."""
    from streamz_postgres_spark.sources.cdc import PsqlTableSink

    dsn = fresh_table
    _sql(dsn, "DROP TABLE IF EXISTS t_respawn")
    sink = PsqlTableSink(spark=spark, dsn=dsn, table="t_respawn")
    schema = "id bigint, note string"
    assert sink.write(spark.createDataFrame([(1, "a")], schema)) == 1
    _sql(dsn, "ALTER TABLE t_respawn ALTER COLUMN id TYPE integer")
    first = sink._psql.proc.pid
    # the good row shares the failing COPY's transaction
    bad = spark.createDataFrame([(2, "b"), (2**40, "c")], schema)
    with pytest.raises(subprocess.CalledProcessError) as err:
        sink.write(bad)
    assert isinstance(err.value.stderr, bytes)
    assert b"out of range" in err.value.stderr
    assert sink.write(spark.createDataFrame([(3, "d")], schema)) == 1
    assert sink._psql.proc.pid != first
    assert _sql(
        dsn, "SELECT string_agg(id || note, ',' ORDER BY id) FROM t_respawn"
    ) == "1a,3d"


def test_sink_session_stderr_bounded_and_reaped_live(spark, fresh_table):
    """Over 200 writes, each of which would NOTICE that the table
    exists, the session's stderr buffer stays small; once the sink is
    collected its psql has exited and been reaped."""
    import gc
    import os

    from streamz_postgres_spark.sources.cdc import PsqlTableSink

    dsn = fresh_table
    _sql(dsn, "DROP TABLE IF EXISTS t_hygiene")
    sink = PsqlTableSink(spark=spark, dsn=dsn, table="t_hygiene")
    # a local relation: no Python worker per toArrow
    df = spark.sql("SELECT 1L AS id, 'a' AS note")
    for _ in range(200):
        sink.write(df)
    assert len(sink._psql.err) < 1024
    assert _sql(dsn, "SELECT count(*) FROM t_hygiene") == "200"

    proc = sink._psql.proc
    assert proc.poll() is None
    del sink
    gc.collect()
    assert proc.returncode is not None
    with pytest.raises(ChildProcessError):
        os.waitpid(proc.pid, os.WNOHANG)


def test_loader_scratch_removed_when_collected_live(spark, fresh_table):
    """A loader that is dropped without close() still removes its
    scratch CSVs once it is collected."""
    import gc
    import os

    _sql(fresh_table, "INSERT INTO t_cdc VALUES (1, 1.0, 'a'), (2, 2.0, 'b')")
    ld = _loader(spark, fresh_table)
    assert ld.snapshot().count() == 2
    (path,) = ld._scratch
    assert os.path.exists(path)
    del ld
    gc.collect()
    assert not os.path.exists(path)
