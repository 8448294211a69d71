"""Fluent streamz-style API facade.

A user of the reference writes pipelines like::

    Stream.from_postgres_cdc(conn, "tbl").map(f).filter(p)
          .timed_window(10).sink(g)

This module gives that surface on Spark: ``SparkStream`` wraps a
(batch or streaming) DataFrame and exposes the streamz operator
vocabulary (SURVEY §2.2-§2.5), each method delegating to the
DataFrame/window/helper implementation used by the registered
queries. Pipelines stay fully declarative — chaining builds ONE
Catalyst plan, so the fluent layer costs nothing at execution time
(unlike the reference, where each node is an interpreted Python hop).

Method names follow streamz (`map`, `accumulate`, `timed_window`,
`zip_latest`, `sink_to_list`, ...); Spark-native semantics
differences are called out per docstring.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from streamz_postgres_spark.operators.joins import asof_join, zip_seq

_DEC = "decimal(38,6)"


class SparkStream:
    """A streamz-`Stream`-shaped handle over a Spark DataFrame."""

    def __init__(self, df: DataFrame, ts_col: str | None = None):
        self.df = df
        self.ts_col = ts_col

    # -- construction -----------------------------------------------------

    @classmethod
    def from_dataframe(cls, df: DataFrame, ts_col: str | None = None) -> "SparkStream":
        return cls(df, ts_col)

    @classmethod
    def from_events(cls, spark, sf_dir: str, streaming: bool = False) -> "SparkStream":
        """The events fixture as a stream (batch or readStream)."""
        if streaming:
            from streamz_postgres_spark.streaming.runner import replay_events

            return cls(replay_events(spark, sf_dir), "ts")
        from streamz_postgres_spark.catalog import load_table

        return cls(load_table(spark, sf_dir, "events"), "ts")

    @classmethod
    def from_postgres_cdc(
        cls,
        spark,
        url: str,
        table: str,
        key_cols: list[str],
        num_partitions: int = 8,
    ) -> "tuple[SparkStream, Any]":
        """The reference's registered entry point: returns the
        snapshot as a stream plus the PollingCdcSource whose
        ``poll_once`` yields incremental envelope batches (wire into
        foreachBatch or a driver loop)."""
        from streamz_postgres_spark.sources.cdc import (
            JdbcPollingLoader,
            PollingCdcSource,
        )

        loader = JdbcPollingLoader(
            spark, url=url, table=table, num_partitions=num_partitions
        )
        src = PollingCdcSource(loader, key_cols=key_cols)
        return cls(loader.snapshot()), src

    def _wrap(self, df: DataFrame) -> "SparkStream":
        return SparkStream(df, self.ts_col if self.ts_col in df.columns else None)

    # -- element-wise (streamz core §2.2) ---------------------------------

    def map(self, **exprs: Column) -> "SparkStream":
        """streamz ``map``: add/replace computed columns (columnar
        expressions, not per-event Python — use map_in_pandas for
        arbitrary callables)."""
        df = self.df
        for name, col in exprs.items():
            df = df.withColumn(name, col)
        return self._wrap(df)

    def map_in_pandas(self, fn: Callable, schema: str) -> "SparkStream":
        """streamz ``map`` with an arbitrary Python callable:
        Arrow-batched (the only sane Python hot path)."""
        return self._wrap(self.df.mapInPandas(fn, schema=schema))

    def filter(self, predicate: Column) -> "SparkStream":
        return self._wrap(self.df.filter(predicate))

    def pluck(self, *cols: str) -> "SparkStream":
        return self._wrap(self.df.select(*cols))

    def flatten(self, col: str, alias: str | None = None) -> "SparkStream":
        out = alias or col
        return self._wrap(
            self.df.withColumn(out, F.explode(F.col(col)))
        )

    def slice(self, n: int, order_by: list[str] | None = None) -> "SparkStream":
        """streamz ``slice``: first n events in the given (or
        timestamp) order."""
        order = order_by or ([self.ts_col] if self.ts_col else [])
        if not order:
            raise ValueError("slice needs an ordering column")
        return self._wrap(self.df.orderBy(*order).limit(n))

    def unique(
        self, *keys: str, order_by: str | list[str] | None = None
    ) -> "SparkStream":
        """streamz ``unique``: one row per key — keeps the first row
        by ``order_by`` (default: the stream's ts). Fully
        deterministic only when ``order_by`` is unique per key (pass
        a list ending in a unique id to break ties); without any
        ordering column this degrades to dropDuplicates' arbitrary
        row choice."""
        order = order_by or self.ts_col
        if order is None:
            return self._wrap(self.df.dropDuplicates(list(keys)))
        order_cols = [order] if isinstance(order, str) else list(order)
        w = Window.partitionBy(*keys).orderBy(*order_cols)
        return self._wrap(
            self.df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def accumulate(self, value: str, key: str, order_by: str | None = None) -> "SparkStream":
        """streamz ``accumulate``/`scan`: running per-key fold —
        emits the running (exact-decimal) sum and count per event."""
        order = order_by or self.ts_col
        if order is None:
            raise ValueError("accumulate needs an ordering column")
        w = (
            Window.partitionBy(key)
            .orderBy(order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return self._wrap(
            self.df.withColumn(
                f"{value}_running",
                F.sum(F.col(value).cast(_DEC)).over(w).cast("double"),
            ).withColumn(f"{value}_count", F.count(F.lit(1)).over(w))
        )

    def latest(self, key: str, order_by: str | None = None) -> "SparkStream":
        """streamz ``latest``: most recent row per key."""
        order = order_by or self.ts_col
        if order is None:
            raise ValueError("latest needs an ordering column")
        gb = self.df.groupBy(key).agg(
            F.max_by(F.struct(*[c for c in self.df.columns if c != key]), order).alias("__s")
        )
        return self._wrap(gb.select(key, "__s.*"))

    # -- windows (streamz §2.3 / SDF §2.5) --------------------------------

    def timed_window(self, duration: str, *keys: str) -> "SparkStream":
        """streamz ``timed_window``: tumbling window of ``duration``
        grouped by optional keys; emits count + per-window rows
        (aggregate with .agg on the result df for more)."""
        if self.ts_col is None:
            raise ValueError("timed_window needs a stream timestamp column")
        w = F.window(self.ts_col, duration).alias("w")
        return self._wrap(
            self.df.groupBy(w, *keys)
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), *keys, "n_events")
        )

    def sliding_window(self, n: int, value: str, key: str) -> "SparkStream":
        """streamz ``sliding_window(n)``: trailing n-event aggregate
        per key (moving average)."""
        if self.ts_col is None:
            raise ValueError("sliding_window needs a stream timestamp column")
        w = (
            Window.partitionBy(key)
            .orderBy(self.ts_col)
            .rowsBetween(-(n - 1), Window.currentRow)
        )
        msum = F.sum(F.col(value).cast(_DEC)).over(w).cast("double")
        return self._wrap(
            self.df.withColumn(
                f"{value}_moving_avg", msum / F.count(F.lit(1)).over(w)
            )
        )

    def partition(self, n: int, seq_col: str) -> "SparkStream":
        """streamz ``partition(n)``: batch every n events by a
        monotonic sequence column (parallel formulation)."""
        return self._wrap(
            self.df.groupBy(
                F.floor(F.col(seq_col) / n).cast("bigint").alias("batch_id")
            ).agg(F.count(F.lit(1)).alias("n_events"))
        )

    # -- combinators (streamz §2.4) ---------------------------------------

    def union(self, *others: "SparkStream") -> "SparkStream":
        df = self.df
        for o in others:
            df = df.unionByName(o.df)
        return self._wrap(df)

    def zip(self, other: "SparkStream", left_order: list[str], right_order: list[str]) -> "SparkStream":
        """streamz ``zip``: positional pairing (lockstep)."""
        return self._wrap(zip_seq(self.df, other.df, left_order, right_order))

    def zip_latest(
        self,
        other: "SparkStream",
        on: str,
        right_values: list[str],
        right_ts: str | None = None,
    ) -> "SparkStream":
        """streamz ``zip_latest``: this stream is lossless; each row
        is paired with the latest (as-of) row of ``other``."""
        if self.ts_col is None:
            raise ValueError("zip_latest needs a stream timestamp column")
        resolved_right_ts = right_ts or other.ts_col
        if resolved_right_ts is None:
            # no silent fallback to self.ts_col: a right-side column
            # that merely shares the left timestamp's NAME would make
            # the as-of pairing silently wrong
            raise ValueError(
                "zip_latest: other stream has no ts_col; pass right_ts"
            )
        return self._wrap(
            asof_join(
                self.df,
                other.df,
                on=on,
                left_ts=self.ts_col,
                right_ts=resolved_right_ts,
                right_values=right_values,
            )
        )

    def combine_latest(
        self,
        other: "SparkStream",
        on: str,
        left_values: list[str],
        right_values: list[str],
        right_ts: str | None = None,
    ) -> "SparkStream":
        """streamz ``combine_latest``: emit one row per event of
        EITHER stream, carrying the latest known values of both sides
        (unlike :meth:`zip_latest`, which is driven by one lossless
        side). Rows before the other side's first event carry nulls.

        Relational form: tag sides, union, and take a running
        ``last(ignoreNulls)`` per side over event time — one shuffle
        on the key, linear state, no pairwise blowup (the same
        union+window shape as ``asof_join``; at equal timestamps the
        right side sorts first, so a left event sees a simultaneous
        right event). Payloads travel as structs so genuine null
        VALUES inside a payload don't resurrect older rows.

        Each side must be unique per (key, ts) — pre-aggregate
        duplicates first (same contract as ``asof_join``), or the
        winner among same-side same-ts events is engine-dependent.
        The output keeps this stream's timestamp column name.
        """
        if self.ts_col is None:
            raise ValueError("combine_latest needs a stream timestamp column")
        if on == self.ts_col:
            raise ValueError("combine_latest key must differ from the ts column")
        rts = right_ts or other.ts_col
        if rts is None:
            raise ValueError("combine_latest needs the other stream's ts")
        ts_out = self.ts_col
        lp = F.struct(*[F.col(c).alias(c) for c in left_values])
        rp = F.struct(*[F.col(c).alias(c) for c in right_values])
        l = self.df.select(
            F.col(on),
            F.col(self.ts_col).alias(ts_out),
            F.lit(1).alias("__side"),
            lp.alias("__lp"),
            F.lit(None).cast(
                other.df.select(rp.alias("p")).schema["p"].dataType
            ).alias("__rp"),
        )
        r = other.df.select(
            F.col(on),
            F.col(rts).alias(ts_out),
            F.lit(0).alias("__side"),
            F.lit(None).cast(
                self.df.select(lp.alias("p")).schema["p"].dataType
            ).alias("__lp"),
            rp.alias("__rp"),
        )
        w = (
            Window.partitionBy(on)
            .orderBy(ts_out, "__side")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        u = l.unionByName(r).select(
            on,
            ts_out,
            F.last("__lp", ignorenulls=True).over(w).alias("__l"),
            F.last("__rp", ignorenulls=True).over(w).alias("__r"),
        )
        return self._wrap(
            u.select(
                on,
                ts_out,
                *[F.col(f"__l.{c}").alias(c) for c in left_values],
                *[F.col(f"__r.{c}").alias(c) for c in right_values],
            )
        )

    def match_recognize(
        self, clause: str, select: str = "*"
    ) -> "SparkStream":
        """SQL:2016 row-pattern matching over this stream's frame —
        the full ``sqlext`` MATCH_RECOGNIZE surface (every skip
        mode, ONE/ALL ROWS, the complete MEASURES menu incl.
        universal aggregates and offset navigation, RUNNING/FINAL,
        SUBSET, PERMUTE, partition anchors, exclusion regions)
        without leaving the fluent chain::

            s.filter(...).match_recognize('''
                PARTITION BY user_id ORDER BY ts, event_id
                MEASURES MATCH_NUMBER() AS match_no, COUNT(*) AS n
                ONE ROW PER MATCH
                PATTERN (V C* P)
                DEFINE V AS event_type = 'view', ...
            ''', select="user_id, match_no, n")

        ``clause`` is everything inside ``MATCH_RECOGNIZE (...)``;
        ``select`` is the outer projection (default ``*``). Both are
        brace-escaped before the frame is bound, so a ``{2,4}``
        quantifier or a ``{- -}`` exclusion reaches sqlext intact."""
        from streamz_postgres_spark import sqlext

        def esc(text: str) -> str:
            return text.replace("{", "{{").replace("}", "}}")

        return self._wrap(
            sqlext.sql(
                self.df.sparkSession,
                f"SELECT {esc(select)} FROM {{df}} "
                f"MATCH_RECOGNIZE ({esc(clause)})",
                df=self.df,
            )
        )

    # -- sinks (streamz §2.1) ---------------------------------------------

    def sink_to_list(self) -> list:
        """streamz ``sink_to_list`` (test idiom): collect rows."""
        return self.df.collect()

    def sink_to_files(self, path: str, fmt: str = "parquet") -> None:
        self.df.write.format(fmt).mode("overwrite").save(path)

    def to_df(self) -> DataFrame:
        return self.df
