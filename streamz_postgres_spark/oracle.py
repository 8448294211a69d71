"""Oracle comparison machinery — the local replica of the driver's
correctness gate (row count + schema + order-insensitive value
multiset against DuckDB), shared by scripts/sweep.py (whose ``gate``
axis replicates the driver's run) and the pytest suite.
"""

from __future__ import annotations

import math
import time
from collections import Counter
from decimal import Decimal

import duckdb

from streamz_postgres_spark.catalog import TABLES, table_path
from streamz_postgres_spark.registry import Query


def duckdb_connection(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def _esc(s: str) -> str:
    """Escape canon's structural characters so string values can
    never be confused with list/dict boundaries or the null marker
    (e.g. the string 'a,b' inside a 1-element list vs two elements)."""
    out = s.replace("\\", "\\\\")
    for ch in ",[]{}:":
        out = out.replace(ch, "\\" + ch)
    # raw NUL -> backslash-zero AFTER doubling, so escaped output
    # never contains \x00 and the null marker stays unambiguous
    return out.replace("\x00", "\\0")


def canon(v) -> str:
    """Canonicalize one value for order-insensitive comparison.
    Injective: nulls, strings containing structural characters, and
    nested containers all canonicalize unambiguously (both engines'
    rows pass through this same function, so the encoding choice
    cannot itself cause a mismatch)."""
    if v is None:
        # \x00 cannot appear in an escaped string (every backslash is
        # doubled there, and raw NULs get escaped below)
        return "\x00"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # exact doubles expected thanks to the decimal-sum trick; use
        # repr so low-order-bit diffs are VISIBLE, not hidden
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{_esc(str(k))}:{canon(x)}" for k, x in sorted(v.items())
        ) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return _esc(str(v))


def row_multiset(cols: list[str], rows) -> Counter:
    # case-insensitive sort to match the schema comparison — a
    # case-sensitive sort could align mixed-case aliases differently
    # on the two sides and report spurious value mismatches.
    # Tuple keys, not a joined string: no top-level delimiter to
    # collide with cell contents.
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


# Output types whose canonicalization is hasher-dependent: an
# independent verifier may repr a Decimal as int128 digits, a Date as
# a date object, a DuckDB HUGEINT as Python int — while this replica
# collapses them all to float/ISO strings and hides the divergence
# (exactly how round-1's q_cast/q_multimodal_meta failures slipped
# through). Round 2 added a third member of the class: ARRAY output
# crashed the driver's hasher outright ("unhashable type: 'list'",
# q_array_funcs ERR) even though this replica canonicalizes lists
# fine — so ANY non-scalar top-level output column (array/map/struct,
# DuckDB LIST/STRUCT/MAP/JSON/UNION) is hostile too. Registered
# queries must not EMIT them; cast/serialize at the edge
# (decimal->double, date->ISO varchar, SUM(int)->BIGINT,
# array->array_join/to_json string) instead.
_HOSTILE_DUCK_TYPES = ("HUGEINT", "DECIMAL", "DATE")
_HOSTILE_DUCK_NESTED = ("STRUCT", "MAP", "UNION", "JSON")  # + "...[]" lists
TYPE_WHITELIST: frozenset[str] = frozenset()  # query names exempted


def _spark_hostile_fields(dtype, path="") -> list[str]:
    """Recursively collect fields of Decimal/Date type in a schema,
    plus any top-level non-scalar (array/map/struct) column — the
    latter are hostile regardless of element type because independent
    hashers choke on unhashable Python containers."""
    from pyspark.sql import types as T

    out = []
    if isinstance(dtype, (T.DecimalType, T.DateType)):
        out.append(f"{path or '<root>'}:{dtype.simpleString()}")
    elif isinstance(dtype, T.StructType):
        for f in dtype.fields:
            sub = f"{path}.{f.name}" if path else f.name
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                # only flag non-scalars at the OUTPUT's top level
                # (path == "" means dtype is the result row struct)
                if path == "":
                    out.append(f"{sub}:{f.dataType.simpleString()}")
                    continue
            out += _spark_hostile_fields(f.dataType, sub)
    elif isinstance(dtype, T.ArrayType):
        out += _spark_hostile_fields(dtype.elementType, path + "[]")
    elif isinstance(dtype, T.MapType):
        out += _spark_hostile_fields(dtype.keyType, path + "{k}")
        out += _spark_hostile_fields(dtype.valueType, path + "{v}")
    return out


def hostile_output_types(q: Query, sdf, con) -> list[str]:
    """Offending output columns for one query: Decimal/Date anywhere
    in the Spark result schema, any non-scalar top-level column, and
    HUGEINT/DECIMAL/DATE/LIST/STRUCT/MAP/JSON in the DuckDB oracle
    result types. Empty list == safe for any sane hasher."""
    if q.name in TYPE_WHITELIST:
        return []
    bad = [f"spark {x}" for x in _spark_hostile_fields(sdf.schema)]
    if q.oracle is not None:
        rel = con.sql(q.oracle)
        for name, t in zip(rel.columns, rel.types):
            ts = str(t).upper()
            if (
                any(ts.startswith(h) for h in _HOSTILE_DUCK_TYPES)
                or any(h in ts for h in _HOSTILE_DUCK_NESTED)
                or ts.endswith("[]")  # DuckDB LIST types print as T[]
            ):
                bad.append(f"duck {name}:{ts}")
    return bad


def check_query(spark, con, q: Query, sf_dir: str) -> tuple[bool, str]:
    """Run one registered query on Spark and its oracle on DuckDB;
    compare. Rows-only queries pass if they execute. Queries emitting
    hasher-hostile output types fail even when values match — the
    driver's canonicalization is not ours."""
    t0 = time.time()
    sdf = q.spark_fn(spark, sf_dir)
    hostile = hostile_output_types(q, sdf, con)
    if hostile:
        return False, f"HOSTILE-TYPES {hostile}"
    scols = sdf.columns
    srows = sdf.collect()
    t_spark = time.time() - t0
    if q.oracle is None:
        return True, f"rows-only ok ({len(srows)} rows, {t_spark:.1f}s)"
    t0 = time.time()
    ocur = con.execute(q.oracle)
    ocols = [d[0] for d in ocur.description]
    orows = ocur.fetchall()
    t_duck = time.time() - t0
    msg = f"{len(srows)} rows, spark {t_spark:.1f}s duck {t_duck:.1f}s"
    if len(srows) != len(orows):
        return False, f"ROWCOUNT spark={len(srows)} duck={len(orows)} ({msg})"
    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
        return False, f"SCHEMA spark={sorted(scols)} duck={sorted(ocols)}"
    ms, mo = row_multiset(scols, srows), row_multiset(ocols, orows)
    if ms != mo:
        diff_s = list((ms - mo).items())[:3]
        diff_o = list((mo - ms).items())[:3]
        return False, f"VALUES spark-only={diff_s} duck-only={diff_o}"
    return True, f"ok ({msg})"
