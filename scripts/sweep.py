"""Oracle sweep: the Spark-vs-DuckDB gate (``oracle.check_query``: row
count, schema and order-insensitive value multiset) run over every
registered key, or the named ones, on one robustness AXIS.

Usage:
  python scripts/sweep.py AXIS [KEY...]
  python scripts/sweep.py -h          # the axes and why each exists

An axis is one row of ``AXES``: the fixture batch keys run on, the
fixture live keys run on (None excludes live keys) and the session
conf. Live keys are the streaming and CDC keys (``registry.is_live``);
every other key is a batch key, the same set tests/plan_budget.json
covers. The source fixture is $SPARK_GRAFT_SF_DIR, else the test scale
factor (tests/conftest.SF_DIR). Every derived fixture is a DuckDB
rewrite of it with no RNG, so reruns are identical; it lives in a temp
dir that is removed when the sweep ends.

Exit code 0 iff every swept key passes (rows-only keys pass if they
run); 2 for an unknown axis or key, before any fixture or session is
built.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from streamz_postgres_spark.oracle import check_query, duckdb_connection  # noqa: E402
from streamz_postgres_spark.registry import REGISTRY, _load_all, is_live  # noqa: E402
from streamz_postgres_spark.session import get_spark  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402

#: the hostile session zone of the ``tz`` axis (and of
#: tests/test_tz_independence.py): +05:45, off every hour and
#: half-hour grid. Zones used so far: Chatham, St_Johns, Santiago,
#: Lord_Howe, Marquesas, Tehran, Caracas, Kathmandu, Kabul, Eucla.
TZ = "Asia/Kathmandu"

#: table -> natural id: the md5 row-scramble key of ``order`` and the
#: pick of the deterministic ``single`` row
_IDS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "supplier": "s_suppkey",
    "customer": "c_custkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey * 8 + l_linenumber",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def build_hostile_dir(src: str, timeshift: bool = True) -> str:
    """Copy all tables from ``src`` into a temp dir, mutating events
    and documents deterministically (no RNG — reruns are identical).

    ``timeshift=False`` omits the pre-epoch (-80 years) mutation:
    Spark's event-time watermark initializes to EPOCH ZERO (1970), so
    any pre-epoch row is born "late" and every watermarked streaming
    aggregation structurally drops it — an engine-level floor, not a
    parity bug. The streaming sweep therefore runs on the unshifted
    profile (all other mutation classes kept); batch keys keep the
    shift, where it exercises real epoch-arithmetic parity."""
    out = tempfile.mkdtemp(prefix="hostile_sf_")
    con = duckdb.connect()
    passthrough = ["region"]
    for t in passthrough:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet')) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
    # nation (v5): %13 NULL n_name (string funcs / group keys over a
    # dim), %17 orphan n_regionkey (region join drops).
    con.execute(
        f"""
        COPY (
          SELECT n_nationkey,
                 CASE WHEN n_nationkey % 13 = 0 AND n_nationkey > 0
                      THEN NULL ELSE n_name END AS n_name,
                 CASE WHEN n_nationkey % 17 = 0 AND n_nationkey > 0
                      THEN n_regionkey + 100 ELSE n_regionkey END
                   AS n_regionkey
          FROM read_parquet('{src}/nation.parquet')
        ) TO '{out}/nation.parquet' (FORMAT PARQUET)
        """
    )
    # ---- v3: the TPC-H half (passthrough in v1/v2 — orphan FKs,
    # NULL group keys, negative monies, tie-duplicates, unicode
    # names and pre-epoch dates were never load-bearing there).
    # Magnitudes are never scaled UP: monetary doubles already sit
    # near the micro6 variance bound (numeric.py), and the sweep
    # measures parity, not the documented overflow contract.
    # customer: %19 orphan c_nationkey (inner-join drop / left-join
    # NULL), %23 NULL c_acctbal, %29 unicode c_name, %31 NULL
    # c_mktsegment (filter/group on NULL).
    uni_name = "Ünïcode 顧客 \U0001f680 "
    con.execute(
        f"""
        COPY (
          SELECT c_custkey,
                 CASE WHEN c_custkey % 29 = 0
                      THEN '{uni_name}' || c_name ELSE c_name END
                   AS c_name,
                 CASE WHEN c_custkey % 19 = 0
                      THEN c_nationkey + 1000 ELSE c_nationkey END
                   AS c_nationkey,
                 CASE WHEN c_custkey % 23 = 0 THEN NULL
                      ELSE c_acctbal END AS c_acctbal,
                 CASE WHEN c_custkey % 31 = 0 THEN NULL
                      ELSE c_mktsegment END AS c_mktsegment
          FROM read_parquet('{src}/customer.parquet')
        ) TO '{out}/customer.parquet' (FORMAT PARQUET)
        """
    )
    # supplier: tiny at sf0.001 (10 rows) — small mods so classes
    # actually land: %3 NULL s_acctbal, %5 orphan s_nationkey.
    con.execute(
        f"""
        COPY (
          SELECT s_suppkey, s_name,
                 CASE WHEN s_suppkey % 5 = 0
                      THEN s_nationkey + 1000 ELSE s_nationkey END
                   AS s_nationkey,
                 CASE WHEN s_suppkey % 3 = 0 THEN NULL
                      ELSE s_acctbal END AS s_acctbal
          FROM read_parquet('{src}/supplier.parquet')
        ) TO '{out}/supplier.parquet' (FORMAT PARQUET)
        """
    )
    # part: %17 unicode p_name (LIKE/substring code-point parity),
    # %19 NULL p_type, %23 zero p_size, %29 negated p_retailprice,
    # %31 NULL p_brand, %41 ZERO p_retailprice (v8, r12 advisor:
    # DuckDB hard-errors on ln(0)/log10(0) where Spark's log is NULL
    # — the zero-money class was advertised but only p_size was ever
    # zeroed, so the LN domain guard was untested).
    con.execute(
        f"""
        COPY (
          SELECT p_partkey,
                 CASE WHEN p_partkey % 17 = 0
                      THEN '{uni_name}' || p_name ELSE p_name END
                   AS p_name,
                 CASE WHEN p_partkey % 31 = 0 THEN NULL
                      ELSE p_brand END AS p_brand,
                 CASE WHEN p_partkey % 19 = 0 THEN NULL
                      ELSE p_type END AS p_type,
                 CASE WHEN p_partkey % 23 = 0 THEN 0
                      ELSE p_size END AS p_size,
                 CASE WHEN p_partkey % 41 = 0 THEN 0.0
                      WHEN p_partkey % 29 = 0 THEN -p_retailprice
                      ELSE p_retailprice END AS p_retailprice
          FROM read_parquet('{src}/part.parquet')
        ) TO '{out}/part.parquet' (FORMAT PARQUET)
        """
    )
    # orders: %31 orphan o_custkey, %37 NULL o_orderpriority,
    # %41 negated / %43 repeating-decimal o_totalprice, %47
    # pre-epoch o_orderdate (batch profile only), plus duplicated
    # (o_custkey, o_orderdate) rows (fresh keys above max, %53)
    # so per-customer window/top-k tie-breaks become load-bearing.
    con.execute(
        f"""
        COPY (
          WITH base AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 31 = 0
                        THEN o_custkey + 10000000
                        ELSE o_custkey END AS o_custkey,
                   o_orderstatus,
                   CASE WHEN o_orderkey % 41 = 0 THEN -o_totalprice
                        WHEN o_orderkey % 43 = 0
                        THEN o_totalprice / 3.0
                        ELSE o_totalprice END AS o_totalprice,
                   CASE WHEN {str(timeshift).lower()}
                             AND o_orderkey % 47 = 0
                        THEN o_orderdate - INTERVAL 80 YEAR
                        ELSE o_orderdate END AS o_orderdate,
                   CASE WHEN o_orderkey % 37 = 0 THEN NULL
                        ELSE o_orderpriority END AS o_orderpriority
            FROM read_parquet('{src}/orders.parquet')
          ), mx AS (SELECT MAX(o_orderkey) AS m FROM base)
          SELECT * FROM base
          UNION ALL
          SELECT b.o_orderkey + mx.m + 1 AS o_orderkey, b.o_custkey,
                 b.o_orderstatus, b.o_totalprice * 0.5
                   AS o_totalprice,
                 b.o_orderdate, b.o_orderpriority
          FROM base b, mx WHERE b.o_orderkey % 53 = 0
          ORDER BY o_orderkey
        ) TO '{out}/orders.parquet' (FORMAT PARQUET)
        """
    )
    # lineitem: %23&line1 zero quantity, %29 NULL l_discount,
    # %31 negated l_extendedprice, %37 repeating-decimal l_tax,
    # %43 NULL l_returnflag (NULL GROUP KEY — both engines group
    # NULLs together; ORDER BY placement of that group differs by
    # engine default and must be pinned), %47 pre-epoch l_shipdate
    # (batch profile only).
    con.execute(
        f"""
        COPY (
          SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
                 CASE WHEN l_orderkey % 23 = 0 AND l_linenumber = 1
                      THEN 0.0 ELSE l_quantity END AS l_quantity,
                 CASE WHEN l_orderkey % 31 = 0 THEN -l_extendedprice
                      ELSE l_extendedprice END AS l_extendedprice,
                 CASE WHEN l_orderkey % 29 = 0 THEN NULL
                      ELSE l_discount END AS l_discount,
                 CASE WHEN l_orderkey % 37 = 0 THEN l_tax / 3.0
                      ELSE l_tax END AS l_tax,
                 CASE WHEN l_orderkey % 43 = 0 THEN NULL
                      ELSE l_returnflag END AS l_returnflag,
                 l_linestatus,
                 CASE WHEN {str(timeshift).lower()}
                           AND l_orderkey % 47 = 0
                      THEN l_shipdate - INTERVAL 80 YEAR
                      ELSE l_shipdate END AS l_shipdate
          FROM read_parquet('{src}/lineitem.parquet')
        ) TO '{out}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    # embeddings: vec_id%53==0 -> all-zero vector (cosine 0/0 class);
    # vec_id%59==0 -> NULL embedding (NULL-array HOFs / pandas None).
    con.execute(
        f"""
        COPY (
          SELECT vec_id,
                 CASE WHEN vec_id % 59 = 0 AND vec_id % 53 != 0
                        THEN NULL
                      WHEN vec_id % 53 = 0
                        THEN CAST(list_transform(embedding, x -> 0.0)
                                  AS FLOAT[])
                      ELSE embedding END AS embedding,
                 CASE WHEN vec_id % 61 = 0 THEN NULL
                      ELSE label END AS label
          FROM read_parquet('{src}/embeddings.parquet')
        ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    # events: NULL value on event_id%20==0; NULL props on %23==0;
    # duplicated (user_id, ts) rows (fresh event_ids above the max)
    # for event_id%17==0 with a perturbed value so tie-breaks matter.
    # v2 value classes (NULL wins, then first match): %13 -> negated,
    # %29 -> x1e5 magnitude, %43 -> /3 repeating decimal. v2 time
    # class: user_id%11==0 shifts -80 years (pre-epoch floor/div).
    con.execute(
        f"""
        COPY (
          WITH base AS (
            SELECT event_id,
                   CASE WHEN {str(timeshift).lower()} AND user_id % 11 = 0
                        THEN ts - INTERVAL 80 YEAR
                        WHEN {str(timeshift).lower()} AND user_id % 11 = 5
                        THEN ts + INTERVAL 80 YEAR
                        ELSE ts END AS ts,
                   CASE WHEN event_id % 101 = 0 THEN NULL
                        ELSE user_id END AS user_id,
                   CASE WHEN event_id % 103 = 0 THEN NULL
                        WHEN event_id % 107 = 0 THEN ''
                        WHEN event_id % 109 = 0 THEN '点击\U0001f5b1'
                        ELSE event_type END AS event_type,
                   CASE WHEN event_id % 20 = 0 THEN NULL
                        WHEN event_id % 13 = 0 THEN -value
                        WHEN event_id % 29 = 0 THEN value * 1e3
                        WHEN event_id % 43 = 0 THEN value / 3.0
                        ELSE value END AS value,
                   CASE WHEN event_id % 23 = 0 THEN NULL
                        WHEN event_id % 19 = 0 THEN '{{"broken'
                        WHEN event_id % 59 = 0 THEN '{{}}'
                        WHEN event_id % 61 = 0
                          THEN '{{"k": [1, 2, 3]}}'
                        WHEN event_id % 67 = 0 THEN '{{"k": "42"}}'
                        WHEN event_id % 71 = 0 THEN '{{"K": 5}}'
                        ELSE props END AS props
            FROM read_parquet('{src}/events.parquet')
          ), mx AS (SELECT MAX(event_id) AS m FROM base)
          SELECT * FROM base
          UNION ALL
          SELECT b.event_id + mx.m AS event_id, b.ts, b.user_id,
                 b.event_type,
                 b.value * 0.5 AS value, b.props
          FROM base b, mx WHERE b.event_id % 17 = 0
          UNION ALL
          -- v7 VERBATIM full-row duplicates (same event_id — a PK
          -- violation on purpose): indistinguishable copies keep
          -- every value gate parity-safe (any tie-break picks an
          -- identical row), but an implementation that sneaks in a
          -- distinct/dropDuplicates its oracle doesn't have now
          -- loses rows and fails the gate
          SELECT b.* FROM base b WHERE b.event_id % 73 = 0
          UNION ALL
          -- v6 boundary users (constructed; ids far above any real
          -- id so joins/dups never collide). u1: gaps of exactly
          -- 30:00 (session threshold -> three sessions under >=);
          -- u2: gaps of 29:59.999999 (one session); u3: events ON
          -- exact hour boundaries; u4: duplicate ts AT a boundary +
          -- one at boundary-1us; u5: the half-hour slide edge.
          SELECT * FROM (VALUES
            (9000001, TIMESTAMP '2024-01-10 06:00:00',        9000001, 'view',     1.25, '{{"k": 1}}'),
            (9000002, TIMESTAMP '2024-01-10 06:30:00',        9000001, 'click',    2.5,  '{{"k": 2}}'),
            (9000003, TIMESTAMP '2024-01-10 07:00:00',        9000001, 'purchase', 5.0,  '{{"k": 3}}'),
            (9000011, TIMESTAMP '2024-01-10 06:00:00.000001', 9000002, 'view',     1.5,  '{{"k": 4}}'),
            (9000012, TIMESTAMP '2024-01-10 06:30:00',        9000002, 'click',    3.25, '{{"k": 5}}'),
            (9000013, TIMESTAMP '2024-01-10 06:59:59.999999', 9000002, 'purchase', 6.5,  '{{"k": 6}}'),
            (9000021, TIMESTAMP '2024-01-10 08:00:00',        9000003, 'view',     0.75, '{{"k": 7}}'),
            (9000022, TIMESTAMP '2024-01-10 09:00:00',        9000003, 'click',    1.75, '{{"k": 8}}'),
            (9000031, TIMESTAMP '2024-01-10 10:00:00',        9000004, 'view',     2.25, '{{"k": 9}}'),
            (9000032, TIMESTAMP '2024-01-10 10:00:00',        9000004, 'click',    4.75, '{{"k": 10}}'),
            (9000033, TIMESTAMP '2024-01-10 09:59:59.999999', 9000004, 'error',    8.5,  '{{"k": 11}}'),
            (9000041, TIMESTAMP '2024-01-10 11:30:00',        9000005, 'view',     3.5,  '{{"k": 12}}'),
            (9000042, TIMESTAMP '2024-01-10 11:59:59.999999', 9000005, 'signup',   7.25, '{{"k": 13}}'),
            (9000043, TIMESTAMP '2024-01-10 12:00:00',        9000005, 'purchase', 9.75, '{{"k": 14}}'),
            -- v8 STABLE NULL-KEYED DIFF TUPLES (r12 advisor, high):
            -- q_cdc_diff splits on event_id <= 4999; these give the
            -- SAME (user_id, k) tuple — with a NULL user_id resp. a
            -- NULL k — on BOTH sides of the split, so a diff that
            -- joins with plain `=` (NULL never equals NULL) emits a
            -- spurious 'c'+'d' pair where the tuple-set oracle (IS
            -- NOT DISTINCT FROM) emits nothing. Ids 4101/4102 sit in
            -- the base PK gap (base ids 0-999, dup blocks < 2000)
            -- outside every event_id%k mutation class and INSIDE the
            -- polling-cursor floor (the replay loaders seed at
            -- cursor -1, so sub-zero ids are by-contract invisible
            -- to them — a first negative-id draft of these rows
            -- diverged q_cdc_scd2 for exactly that reason, and found
            -- the chunk-0 lower-bound latent in the materialize
            -- stager on the way).
            (4101,    TIMESTAMP '2024-01-10 06:15:00', NULL,    'view', 1.25, '{{"k": 777}}'),
            (9000051, TIMESTAMP '2024-01-10 06:45:00', NULL,    'view', 1.25, '{{"k": 777}}'),
            (4102,    TIMESTAMP '2024-01-10 06:20:00', 424242,  'view', 1.25, '{{"x": 1}}'),
            (9000052, TIMESTAMP '2024-01-10 06:50:00', 424242,  'view', 1.25, '{{"x": 1}}')
          ) v(event_id, ts, user_id, event_type, value, props)
          ORDER BY event_id
        ) TO '{out}/events.parquet' (FORMAT PARQUET)
        """
    )
    # documents: doc_id%97==0 -> empty text, %89==0 -> whitespace-only,
    # %83==0 -> NULL text (n_chars kept consistent where defined).
    # v2: %101==0 -> unicode-prefixed (CJK + emoji + combining accent
    # + CRLF + tab), %103==0 -> 8x-repeated long document; n_chars
    # recomputed as length(text) for both (code-point length on both
    # engines, combining marks count separately — the parity point).
    uni = (
        "héllo 世界 \U0001f680 café"
        "\r\n\tmixed space "
    )
    con.execute(
        f"""
        COPY (
          WITH mut AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 83 = 0 THEN NULL
                        WHEN doc_id % 97 = 0 THEN ''
                        WHEN doc_id % 89 = 0 THEN '   '
                        WHEN doc_id % 101 = 0 THEN $uni$ || text
                        WHEN doc_id % 103 = 0 THEN repeat(text, 8)
                        ELSE text END AS text,
                   CASE WHEN doc_id % 109 = 0 THEN NULL
                        ELSE lang END AS lang,
                   CASE WHEN doc_id % 113 = 0 THEN NULL
                        ELSE source END AS source
            FROM read_parquet('{src}/documents.parquet')
          )
          SELECT doc_id, text, lang, source,
                 length(text) AS n_chars
          FROM mut
          UNION ALL
          -- v7 verbatim duplicates (same doc_id), the spurious-
          -- distinct trap for the corpus/dedup family (an exact-dup
          -- CLUSTER over two identical doc_ids is still one id, so
          -- dedup keys stay parity-safe by construction)
          SELECT doc_id, text, lang, source, length(text) AS n_chars
          FROM mut WHERE doc_id % 127 = 0
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
        """.replace("$uni$", "'" + uni + "'")
    )
    con.close()
    return out


def build_shuffled_dir(src: str) -> str:
    """Copy all tables from ``src`` into a temp dir with rows written
    in md5-scrambled order — identical content, hostile layout."""
    out = tempfile.mkdtemp(prefix="shuffled_sf_")
    con = duckdb.connect()
    for t, key in _IDS.items():
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet') "
            f"ORDER BY md5(CAST({key} AS VARCHAR))) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    return out


def build_degenerate_dir(src: str, profile: str) -> str:
    """Copy all tables from ``src`` into a temp dir at degenerate
    cardinality: ``empty`` = 0 rows (schema kept), ``single`` = the
    lowest-id row per table (deterministic, no RNG)."""
    out = tempfile.mkdtemp(prefix=f"degenerate_{profile}_")
    con = duckdb.connect()
    for t, key in _IDS.items():
        if profile == "empty":
            sel = f"SELECT * FROM read_parquet('{src}/{t}.parquet') LIMIT 0"
        else:
            sel = (
                f"SELECT * FROM read_parquet('{src}/{t}.parquet') "
                f"ORDER BY {key} LIMIT 1"
            )
        con.execute(f"COPY ({sel}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    con.close()
    return out


def _source(src: str) -> str:
    return src


@dataclass(frozen=True)
class Axis:
    """One row of the axis table."""

    batch: Callable[[str], str]  # source dir -> fixture for batch keys
    live: Callable[[str], str] | None  # ... for live keys; None: excluded
    conf: dict[str, str]  # session conf on top of session.get_spark's
    doc: str


_single = partial(build_degenerate_dir, profile="single")

AXES: dict[str, Axis] = {
    "gate": Axis(_source, _source, {}, """\
The driver's correctness gate, replicated: every key on the source
fixture in an engine-default session. Exact double equality is
expected (the decimal-sum trick), so a VALUES mismatch is a real bug,
not float noise."""),
    "hostile": Axis(build_hostile_dir, partial(build_hostile_dir, timeshift=False), {}, """\
The gate on a MUTATED copy of the source holding the edge classes the
shipped fixtures never contain:

- events.value NULLs (SQL aggregates skip NULLs; HOF folds and window
  frames must agree with the oracle on them), events.props NULLs
  (JSON extraction on a NULL document), (user_id, ts) TIES (every
  tie-break that was "free" because the fixture had unique
  timestamps is now load-bearing), and empty / whitespace-only /
  NULL documents.text rows,
- (v2) NEGATIVE, ZERO, magnitude-scaled (x1e3) and repeating-decimal
  (/3) event values: sign assumptions, x/0, micro6 quantization and
  decimal-rounding parity become load-bearing. x1e3 and not more:
  variance-class stats fold value^2 through the micro6 rule, whose
  documented per-row bound is |x| < 9.2e12 (numeric.py); (327.53e3)^2
  ~ 1.1e11 stays inside the engine's contract, (x1e5)^2 would not
  (welch/ols/autocorr diverge there, by contract),
- (v2) PRE-EPOCH timestamps (one user class shifted -80 years): any
  div/floor epoch arithmetic that truncates toward zero instead of
  flooring diverges (the class the r12 SAMPLE BY fix was in),
- (v2) unicode documents (CJK + emoji + combining accent + CRLF/tab)
  and 8x-repeated long documents (tokenizer/length/regex parity), and
  ZERO VECTORS and NULL rows in embeddings.embedding (cosine 0/0,
  NULL-array HOFs, pandas-UDF None handling),
- (v3) the TPC-H half: ORPHAN foreign keys (customer->nation,
  supplier->nation, orders->customer) so inner joins drop and outer
  joins emit NULLs; NULL GROUP KEYS (l_returnflag, o_orderpriority,
  c_mktsegment): both engines group NULLs together but their default
  ORDER BY NULL placement differs, so any unpinned sort over a group
  key is load-bearing; negative / zero / repeating-decimal monies and
  quantities; unicode c_name/p_name (code-point substring/LIKE
  parity); duplicated (o_custkey, o_orderdate) rows so window and
  top-k tie-breaks over orders matter; pre-epoch
  o_orderdate/l_shipdate,
- (v4) the JSON surface of events.props: MALFORMED documents
  ('{"broken'), empty objects, nested arrays where a scalar is
  expected, STRING-TYPED numbers ('{"k": "42"}': schema-declared
  parsers yield NULL where path-extract-then-cast coerces) and
  wrong-case keys. DuckDB's json functions HARD-ERROR on invalid JSON
  where Spark's return NULL, so every oracle json call needs a
  json_valid guard and every Spark variant parse try_parse_json,
- (v5) NULL / empty / unicode events.event_type (the symbol column of
  every funnel / session / pattern key), NULL events.user_id (THE
  group, window-partition, join and streaming-state key: a NULL key
  must group/window/state consistently, and equi-joins must drop it
  identically), NULL documents.lang/source, NULL embeddings.label,
  NULL n_name and orphan n_regionkey,
- (v6) WINDOW-BOUNDARY-ALIGNED timestamps: five constructed users
  (ids 9000000+) whose events sit exactly ON the half-open edges
  every window key reasons about: gaps of exactly 30:00.000000 (the
  session threshold) and 29:59.999999, events at exact hour
  boundaries (tumbling inclusion is floor/half-open), the half-hour
  slide edge, and duplicate timestamps AT a boundary next to a
  boundary-1us row,
- (v7) VERBATIM full-row duplicates in events (%73) and documents
  (%127): byte-identical copies keep every tie-break value-neutral,
  so what they catch is an implementation-side distinct the oracle
  does not mirror. Plus FAR-FUTURE timestamps (+80 years): +80 and
  not more, because the trend/OLS family's dyadic pre-scales are
  sized for decades-wide spans (a +970y probe overflowed sum(x^2)'s
  lossless decimal->double window by contract, the same reason v2
  scales values by 1e3 and not 1e5).

The round-11 advisor found exactly one bug of this class (per-symbol
SUM lowered to a left fold that a single NULL poisons, latent only
because events had no NULLs); this axis makes the class mechanically
discoverable. NaN is EXCLUDED by design: the exact-decimal sum
discipline casts doubles to decimal(38,6) on both engines, and both
hard-error casting NaN, so a NaN fixture would measure error-message
parity, not semantics. Live keys run on the fixture without the
pre-epoch and far-future shifts: Spark's event-time watermark starts
at the 1970 epoch, so every watermarked aggregation structurally
drops pre-epoch rows (see build_hostile_dir)."""),
    "empty": Axis(partial(build_degenerate_dir, profile="empty"), None, {}, """\
The gate on EMPTY copies of every table (0 rows, exact parquet schema
kept, so a plan that derives its schema from data fails here first).
At 100 TB an empty input is not an edge case: a filter that matches
nothing, a pruned scan, a day with no events. Every key must return
its degenerate answer (zero rows, or one all-NULL/zero aggregate row)
rather than crash. Classes it exposes: Spark's Expand emits NO grand-total
row from empty input (SQL:2016 says one; fixed by finest-set
re-aggregation in the rollup/cube keys), ANSI element_at on an empty
array, fold seeds read from a first row that does not exist,
max()/arg_max over nothing feeding arithmetic, 0/0 ratios,
percentile/histogram bins over an empty domain, k > n centroid
iteration, driver-side .first()/broadcast of an empty aggregate, and
empty partitioned writes that defeat read-side schema inference (pass
the writer's schema). The other axes keep the fixture cardinality;
this one removes it. Live keys are excluded: an empty feed has no
batches to replay."""),
    "single": Axis(_single, _single, {}, """\
The gate on SINGLETON copies: the lowest-id row of every table,
deterministic. Referential integrity is not patched: at one row per
table most joins go empty, which is the point, since join-dependent
aggregates must survive empty join output too. Classes: ANSI x/0
raises where DuckDB's is NULL (F.try_divide at any denominator that
can be exactly zero, such as n-1 at n=1); DuckDB hard-errors on
sqrt(negative) where quantization dips a variance term below 0
(GREATEST(term, 0.0) on both sides). Live keys run on it too: a
one-row feed replays and exercises every stateful fold's
first-row/seed path, where a ZeroDivisionError inside a pandas state
fold is a crash, not a NULL."""),
    "order": Axis(build_shuffled_dir, None, {}, """\
The gate on a VALUE-IDENTICAL copy whose physical row order is
scrambled (ORDER BY md5 of the natural id). The determinism contract
says a 1000-executor run returns the values local[32] returned, which
requires every batch key to be independent of the order rows come off
the scan. The plain gate cannot see an order dependence: DuckDB is
order-independent by SQL semantics, and the fixtures are WRITTEN in
id order, so positional sampling, a first()/head() without a sort,
arrival-order tie-breaks or pandas index alignment in a fold pass
until a real cluster reorders the scan (the v5 find: fold Series
realigned to the pre-sort order). Live keys are excluded: the replay
harness's contract is an in-order feed (a CDC log, a compacted
topic), so a scrambled file breaks the input contract rather than
exposing a bug; the folds document their cross-batch ordering."""),
    "layout": Axis(_source, None, {
        "spark.sql.shuffle.partitions": "5",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.files.maxPartitionBytes": "65536",
        "spark.sql.files.openCostInBytes": "0",
    }, """\
The gate under a HOSTILE EXECUTION LAYOUT, same fixture:

- 5 shuffle partitions (the engine default is $SPARK_GRAFT_CPUS):
  every hash-partitioned group/join/window co-locates a different key
  mix per task, so a fold or pandas group function that leaks state
  across the keys sharing its task changes answers,
- AQE off: runtime coalescing collapses the tiny local shuffles back
  to one partition and HIDES layout dependence,
- 64k maxPartitionBytes and zero open cost: the one-file fixtures
  split into many scan tasks whose rows are concatenated in
  nondeterministic task order after an exchange, the local stand-in
  for a 1000-executor scan.

The gate and the order axis each execute one layout, so they cannot
check the determinism contract across layouts. The v5 pandas
index-alignment find and the transformWithStateInPandas NULL-key
grouping divergence were this class: right at one partition count,
wrong at another. Live keys are excluded: the replay harness pins its
own micro-batch boundaries and state-store partitioning, and its
results are checked against batch oracles that do run here."""),
    "tz": Axis(_source, _source, {"spark.sql.session.timeZone": TZ}, """\
The gate in a session whose zone is TZ. The external driver's
session zone is unknown, and Spark's date_trunc/dayofweek family
silently routes TimestampNTZ values through it (this caught a real
cohort-week bug), so every key must value-match under a zone that is
off every hour and half-hour boundary. Live keys run here too: the
replay runner works in the same session."""),
}


def check_conf(spark, conf: dict[str, str]) -> None:
    """Raise unless ``spark`` runs with every key of ``conf``: a session
    reused by getOrCreate keeps its own conf."""
    wrong = {k: spark.conf.get(k, None) for k, v in conf.items()
             if spark.conf.get(k, None) != v}
    if wrong:
        raise RuntimeError(
            f"axis conf not applied (session has {wrong}); "
            "run the sweep in a fresh process"
        )


def swept_keys(axis: Axis, keys: list[str]) -> list[str]:
    """The keys of ``keys`` that ``axis`` runs."""
    return [k for k in keys if axis.live or not is_live(k)]


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter,
        epilog="\n\n".join(f"{n}:\n{a.doc}" for n, a in AXES.items()),
    )
    ap.add_argument("axis", choices=AXES)
    ap.add_argument("keys", nargs="*", metavar="KEY")
    args = ap.parse_args()
    _load_all()
    unknown = [k for k in args.keys if k not in REGISTRY]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        return 2
    axis = AXES[args.axis]
    keys = swept_keys(axis, args.keys or sorted(REGISTRY))
    src = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR)
    fixtures = {fn: fn(src) for fn in {axis.batch, axis.live} - {None}}
    try:
        spark = get_spark("sweep", extra_conf=axis.conf)
        check_conf(spark, axis.conf)
        print(f"[{args.axis}] {len(keys)} keys, fixtures from {src}", flush=True)
        cons = {d: duckdb_connection(d) for d in set(fixtures.values())}
        fails = []
        for key in keys:
            d = fixtures[axis.live if is_live(key) else axis.batch]
            try:
                ok, msg = check_query(spark, cons[d], REGISTRY[key], d)
            except Exception as e:  # noqa: BLE001 — triage tool, keep going
                ok, msg = False, f"ERR {type(e).__name__}: {e}"
            print(f"{'ok' if ok else 'FAIL':4s} {key}: {msg[:300]}", flush=True)
            if not ok:
                fails.append((key, msg))
    finally:
        for d in set(fixtures.values()) - {src}:
            shutil.rmtree(d, ignore_errors=True)
    print(f"\n[{args.axis}] {len(fails)} failures / {len(keys)} keys swept")
    for k, m in fails:
        print(f"  {k}: {m[:200]}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
