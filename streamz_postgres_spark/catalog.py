"""Fixture catalog: the ten parquet tables every query reads.

``load_table(spark, sf_dir, name)`` is the single scan entry point so
that scan-level concerns (schema pinning, partition sizing) live in
one place. Scans stay fully declarative — `spark.read.parquet` —
so Catalyst keeps predicate pushdown / column pruning / partition
pruning on every downstream query.

At 100 TB the same call shape works: parquet directories partitioned
by date/key are pruned by Catalyst, and
``spark.sql.files.maxPartitionBytes`` (cluster conf, not code)
controls split sizing. Nothing here materializes on the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimension tables small enough to broadcast at ANY scale factor —
#: region/nation are bounded by geography (25/5 rows at 100 TB too).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


_SHIPPED: set[str] = set()

#: SQL confs every engine call runs under, set by ``ship_package``
#: and nowhere else:
#: - the events fixture stores TIMESTAMP(NANOS), which Spark's reader
#:   rejects; the engine reads nanos as LONG and rebuilds
#:   TimestampNTZ (``load_table``, ``runner.replay_events``), so any
#:   nanos-timestamp parquet read in the session yields LONG;
#: - streaming state lives in RocksDB: transformWithState state uses
#:   several column families, which only RocksDB supports, and every
#:   stream key is tested and benchmarked on it.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}

#: state-store count of a new streaming query. Spark copies
#: ``spark.sql.shuffle.partitions`` into this key when a query starts
#: without it, and a resumed query reads the count from its
#: checkpoint, whatever the key says. ``ship_package`` sets it to the
#: session's shuffle partitions capped at the cores the application
#: runs on: each state store costs a load and a commit per
#: micro-batch, and a plain session's default of 200 shuffle
#: partitions would make every stateful stream key pay it 200 times.
STATE_PARTITIONS = "spark.sql.streaming.internal.stateStore.partitions"


def ship_package(spark: SparkSession) -> None:
    """Set up the engine's session and worker environment. Every
    engine key reaches this before it builds a plan (through
    ``load_table``, ``runner.replay_events`` or the documents stream),
    so a caller's plain session needs nothing else.

    On every call, the ``ENGINE_CONF`` SQL confs and
    ``STATE_PARTITIONS``: SQL conf belongs to one ``SparkSession``,
    and ``newSession()`` shares the application.

    Once per application:

    - the package goes to the Python workers (addPyFile). Functions
      sent to executors (mapInPandas, applyInPandasWithState, pandas
      UDFs) are pickled BY REFERENCE to their module, so workers must
      be able to import ``streamz_postgres_spark``, which is not on
      their path when the driving process runs from another
      directory;
    - this process can import ``google.protobuf`` (``protobuf_shim``);
    - ``sc.environment["PYTHONPATH"]`` gains this library and, where
      ``install()`` aliased it, the vendored protobuf runtime
      (``protobuf_shim.worker_pythonpath``).
      Spark copies ``sc.environment`` into each Python function when
      the function is built, and the transformWithState schema-check
      worker imports ``StateMessage_pb2`` and unpickles the processor
      before any addPyFile archive is on its path.
    """
    import atexit
    import tempfile
    import zipfile
    from pathlib import Path

    from streamz_postgres_spark import protobuf_shim

    sc = spark.sparkContext
    for key, value in ENGINE_CONF.items():
        spark.conf.set(key, value)
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.conf.set(STATE_PARTITIONS, str(min(shuffle, sc.defaultParallelism)))
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = Path(__file__).resolve().parent
    fd, zpath = tempfile.mkstemp(suffix=".zip", prefix="szps_pkg_")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for p in pkg_dir.rglob("*.py"):
            z.write(p, arcname=str(Path(pkg_dir.name) / p.relative_to(pkg_dir)))
    sc.addPyFile(zpath)
    protobuf_shim.install()
    sc.environment["PYTHONPATH"] = protobuf_shim.worker_pythonpath(
        sc.environment.get("PYTHONPATH")
    )
    _SHIPPED.add(app_id)
    # executors RE-FETCH the zip from this original path on demand
    # (verified: deleting it immediately fails task fetches with
    # "does not match contents"), so it must outlive the
    # SparkContext — clean up at interpreter exit instead of leaking
    # one zip per session in /tmp
    atexit.register(lambda p=zpath: os.path.exists(p) and os.unlink(p))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Declarative: pushdown-friendly.

    The events table stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark's reader rejects; we read nanos as LONG (legacy conf, safe
    to set at runtime) and rebuild a TimestampNTZ at micro precision.
    The conversion pins UTC explicitly so results are identical under
    any session timezone. Nanos->micros truncation matches DuckDB's
    own nanos handling.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ship_package(spark)
    if name == "events":
        df = spark.read.parquet(table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            # NTZ epoch + integer micros: pure NTZ arithmetic that
            # never touches the session timezone (timestamp_micros ->
            # convert_timezone would round-trip through TimestampType
            # and shift wall clocks under non-UTC driver sessions).
            # Integer division: double division loses precision on
            # int64 nanos and shifts timestamps by 1 microsecond.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views (for spark.sql paths/tests)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
