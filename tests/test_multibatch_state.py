"""Streaming state must survive ACROSS micro-batches: the bounded
replay of a single parquet file runs as one batch, which never
exercises cross-batch state restore. This test splits events into 4
files and streams them with maxFilesPerTrigger=1, forcing 4 batches
through the applyInPandasWithState fold — the final running totals
must still match the batch oracle exactly.
"""

from __future__ import annotations

from decimal import ROUND_HALF_EVEN, Decimal
from typing import Iterator

import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from streamz_postgres_spark.catalog import load_table
from streamz_postgres_spark.protobuf_shim import available
from streamz_postgres_spark.streaming.runner import run_to_table
from tests.conftest import SF_DIR, FakeGroupState

pytestmark = pytest.mark.slow

#: transformWithStateInPandas needs a protobuf runtime
needs_tws = pytest.mark.skipif(
    not available(), reason="no protobuf runtime: transformWithState gated off"
)


@pytest.fixture(scope="module")
def split_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_split")
    # stable 4-way split by event_id range so batch order is defined
    e = load_table(spark, SF_DIR, "events")
    total = e.count()
    step = total // 4 + 1
    for i in range(4):
        (
            e.filter(
                (F.col("event_id") >= i * step)
                & (F.col("event_id") < (i + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{d}/part{i}")
        )
    return d


def test_state_survives_batches(spark, split_dir):
    # defined inside the test: a module-level function would pickle
    # by reference to a module the workers cannot import
    def _totals(key, batches: Iterator[pd.DataFrame], state: GroupState):
        six = Decimal("0.000001")
        if state.exists:
            n, acc_str = state.get
            acc = Decimal(acc_str)
        else:
            n, acc = 0, Decimal(0)
        for pdf in batches:
            for v in pdf.sort_values("event_id")["value"]:
                acc += Decimal(float(v)).quantize(six, rounding=ROUND_HALF_EVEN)
                n += 1
        state.update((n, str(acc)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [float(acc)]}
        )

    src = (
        spark.readStream.schema(
            load_table(spark, SF_DIR, "events").schema
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{split_dir}/part*")
    )
    out = src.groupBy("user_id").applyInPandasWithState(
        _totals,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, acc string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    result = run_to_table(out, "append", spark)
    # append emits one row per key per batch containing it; the row
    # with the max n_events per key is the final state
    final = (
        result.groupBy("user_id")
        .agg(F.max_by("sum_value", "n_events").alias("sum_value"),
             F.max("n_events").alias("n_events"))
    )
    want = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias(
                "sum_value"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    got = {r.user_id: (r.n_events, r.sum_value) for r in final.collect()}
    exp = {r.user_id: (r.n_events, r.sum_value) for r in want.collect()}
    assert got == exp


def test_transform_with_state_gate_visible(spark):
    """transformWithStateInPandas needs a protobuf runtime, real or
    aliased from the vendored copy (``protobuf_shim.available``).
    Where there is one, the query must be registered and oracle-green;
    where there is none, it must be absent, and the skip keeps the gap
    visible in the test output."""
    from streamz_postgres_spark.registry import REGISTRY, _load_all

    _load_all()
    if not available():
        assert "q_stream_transform_state" not in REGISTRY
        pytest.skip("protobuf not installed: q_stream_transform_state gated off")
    assert "q_stream_transform_state" in REGISTRY
    from streamz_postgres_spark.oracle import check_query, duckdb_connection
    from tests.conftest import SF_DIR

    ok, msg = check_query(
        spark, duckdb_connection(SF_DIR),
        REGISTRY["q_stream_transform_state"], SF_DIR,
    )
    assert ok, msg


@needs_tws
def test_tws_update_sink_dedup_across_batches(spark, split_dir):
    """ADVICE r4: the update-mode memory sink APPENDS each batch's
    cumulative emissions, so a multi-file fixture leaves stale rows
    behind; q_stream_transform_* collapse to the last emission per
    key (_latest_totals). Force 4 real micro-batches through the
    transformWithState totals processor, assert the raw sink indeed
    holds re-emissions, and that the collapsed table equals exact
    batch totals."""
    from streamz_postgres_spark.streaming.stateful import (
        _latest_totals,
        _UserTotalsProcessor,
    )

    src = (
        spark.readStream.schema(load_table(spark, SF_DIR, "events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{split_dir}/part*")
    )
    out = src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_UserTotalsProcessor(),
        outputStructType="user_id long, n_events long, sum_value double",
        outputMode="Update",
        timeMode="None",
    )
    tbl = run_to_table(out, "update", spark)
    n_keys = tbl.select("user_id").distinct().count()
    assert tbl.count() > n_keys, "expected per-batch re-emissions in sink"
    want = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    got = {r.user_id: (r.n_events, r.sum_value) for r in _latest_totals(tbl).collect()}
    exp = {r.user_id: (r.n_events, r.sum_value) for r in want.collect()}
    assert got == exp


@needs_tws
def test_two_threads_run_tws_keys_in_one_session(spark):
    """Two threads of one session each run a transformWithState key at
    the same time, and both match the oracle: the worker environment
    and the state-store provider are set once for the session, so no
    call can take them away from another call still running."""
    import threading

    from streamz_postgres_spark.oracle import check_query, duckdb_connection
    from streamz_postgres_spark.registry import REGISTRY, _load_all

    _load_all()
    keys = ("q_stream_transform_state", "q_stream_transform_map")
    start = threading.Barrier(len(keys))
    results = {}

    def run(key):
        con = duckdb_connection(SF_DIR)
        start.wait()
        try:
            results[key] = check_query(spark, con, REGISTRY[key], SF_DIR)
        except Exception as exc:  # reported below with the key
            results[key] = (False, repr(exc))
        finally:
            con.close()

    threads = [threading.Thread(target=run, args=(k,)) for k in keys]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert {k: ok for k, (ok, _) in results.items()} == dict.fromkeys(keys, True), results


@needs_tws
def test_tws_key_runs_in_a_plain_session(tmp_path):
    """The external-driver case: a child process builds its own
    SparkSession (no ``get_spark``, a non-UTC zone, no PYTHONPATH, run
    from outside the repo) and runs a transformWithState key from
    ``__spark_entry__.queries()``. The engine sets the worker path and
    the state-store provider and count itself, and the key matches
    the oracle."""
    import os
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    child = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(repo)!r})
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.session.timeZone", "America/New_York")
                 .config("spark.ui.enabled", "false").getOrCreate())
        assert spark.sparkContext.environment.get("PYTHONPATH") is None
        assert spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None) is None
        import __spark_entry__
        from streamz_postgres_spark.oracle import check_query, duckdb_connection
        from streamz_postgres_spark.registry import REGISTRY
        key = "q_stream_transform_state"
        assert key in __spark_entry__.queries()
        ok, msg = check_query(
            spark, duckdb_connection({SF_DIR!r}), REGISTRY[key], {SF_DIR!r})
        print("RESULT", ok, msg)
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", child],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "RESULT True" in r.stdout, r.stdout[-2000:]


def test_anomaly_state_survives_batches(spark, split_dir):
    """q_stream_anomaly's running moments are ORDER-sensitive state
    (each event is tested against its key's PRIOR events): replay the
    4-way split one file per trigger and require the flags to equal a
    plain Python fold over the whole table in event_id order."""
    from decimal import ROUND_HALF_EVEN, Decimal

    from streamz_postgres_spark.streaming.stateful import _anomaly_fold

    src = (
        spark.readStream.schema(load_table(spark, SF_DIR, "events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{split_dir}/part*")
    )
    out = src.groupBy("user_id").applyInPandasWithState(
        _anomaly_fold,
        outputStructType=(
            "user_id long, event_id long, value double, n_prev long, "
            "is_anomaly boolean"
        ),
        stateStructType="n long, s string, q string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    result = run_to_table(out, "append", spark)
    got = {
        (r.user_id, r.event_id): (r.n_prev, r.is_anomaly)
        for r in result.collect()
    }

    rows = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "event_id", "value")
        .collect()
    )
    six, twelve = Decimal("0.000001"), Decimal("0.000000000001")
    state: dict[int, tuple] = {}
    exp = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.event_id)):
        n, s, q = state.get(r.user_id, (0, Decimal(0), Decimal(0)))
        xd, nd, sd, qd = float(r.value), float(n), float(s), float(q)
        if n >= 2:
            lhs = xd * nd - sd
            flag = lhs * lhs * (nd - 1.0) > 9.0 * nd * (qd * nd - sd * sd)
        else:
            flag = False
        exp[(r.user_id, r.event_id)] = (n, flag)
        state[r.user_id] = (
            n + 1,
            s + Decimal(xd).quantize(six, rounding=ROUND_HALF_EVEN),
            q + Decimal(xd * xd).quantize(twelve, rounding=ROUND_HALF_EVEN),
        )
    assert got == exp


@needs_tws
def test_tws_list_and_map_dedup_across_batches(spark, split_dir):
    """The ListState (last-3) and MapState (type counts) queries also
    collapse update-sink re-emissions; force 4 micro-batches through
    both processors and check the collapsed tables against batch
    truth (ListState additionally proves cross-batch ORDER: the kept
    ids must be the globally-last 3 event_ids per user)."""
    from streamz_postgres_spark.streaming.stateful import (
        _RecentEventsProcessor,
        _TypeCountsProcessor,
    )

    src = (
        spark.readStream.schema(load_table(spark, SF_DIR, "events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{split_dir}/part*")
    )

    # --- ListState: last-3 per user, order must survive batches ---
    out = src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RecentEventsProcessor(),
        outputStructType=(
            "user_id long, n_recent long, recent_ids string, "
            "recent_sum double"
        ),
        outputMode="Update",
        timeMode="None",
    )
    tbl = run_to_table(out, "update", spark)
    seq = F.element_at(F.split("recent_ids", ","), -1).cast("long")
    latest = (
        tbl.groupBy("user_id")
        .agg(F.max_by(F.struct("n_recent", "recent_ids"), seq).alias("s"))
        .select("user_id", "s.n_recent", "s.recent_ids")
    )
    got = {r.user_id: (r.n_recent, r.recent_ids) for r in latest.collect()}
    rows = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "event_id")
        .collect()
    )
    byu: dict[int, list[int]] = {}
    for r in rows:
        byu.setdefault(r.user_id, []).append(r.event_id)
    exp = {
        u: (min(3, len(ids)), ",".join(str(i) for i in sorted(ids)[-3:]))
        for u, ids in byu.items()
    }
    assert got == exp

    # --- MapState: per-(user, type) counts are monotone ---
    out = src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_TypeCountsProcessor(),
        outputStructType="user_id long, event_type string, n_events long",
        outputMode="Update",
        timeMode="None",
    )
    tbl = run_to_table(out, "update", spark)
    final = tbl.groupBy("user_id", "event_type").agg(
        F.max("n_events").alias("n_events")
    )
    got_m = {(r.user_id, r.event_type): r.n_events for r in final.collect()}
    want = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    exp_m = {(r.user_id, r.event_type): r.n_events for r in want.collect()}
    assert got_m == exp_m


@needs_tws
def test_tws_percentile_multiset_survives_batches(spark, split_dir):
    """q_stream_percentile's ListState is the full per-type value
    multiset, APPENDED each batch (appendList, never rewritten):
    force 4 micro-batches through the processor and require the
    collapsed exact p50/p90 to equal a plain Python sort over the
    whole table — proving both the cross-batch append and the
    integer-index read-out."""
    from streamz_postgres_spark.streaming.stateful import _PercentileProcessor

    src = (
        spark.readStream.schema(load_table(spark, SF_DIR, "events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{split_dir}/part*")
    )
    out = src.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=_PercentileProcessor(),
        outputStructType=(
            "event_type string, n_events long, p50 double, p90 double"
        ),
        outputMode="Update",
        timeMode="None",
    )
    tbl = run_to_table(out, "update", spark)
    final = (
        tbl.groupBy("event_type")
        .agg(F.max_by(F.struct("n_events", "p50", "p90"), "n_events").alias("s"))
        .select("event_type", "s.n_events", "s.p50", "s.p90")
    )
    got = {
        r.event_type: (r.n_events, r.p50, r.p90) for r in final.collect()
    }
    rows = (
        load_table(spark, SF_DIR, "events")
        .select("event_type", "value")
        .collect()
    )
    byt: dict[str, list[float]] = {}
    for r in rows:
        byt.setdefault(r.event_type, []).append(float(r.value))
    exp = {}
    for t, vs in byt.items():
        vs.sort()
        n = len(vs)
        exp[t] = (n, vs[(n - 1) // 2], vs[((n - 1) * 9) // 10])
    assert got == exp


def test_stream_scd2_versions_straddle_batches(spark, split_dir):
    """q_stream_scd2's open-version state must hand off across
    micro-batches: a version opened in batch 1 and superseded in
    batch 3 gets its closure emitted in batch 3 with the original
    valid_from. Replay the 4-way split one file per trigger and
    require the collapsed history to equal the batch SCD2 truth."""
    from streamz_postgres_spark.streaming.cdc_live import _scd2_fold

    src = (
        spark.readStream.schema(load_table(spark, SF_DIR, "events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{split_dir}/part*")
    )
    out = src.groupBy("user_id").applyInPandasWithState(
        _scd2_fold,
        outputStructType=(
            "user_id long, valid_from_seq long, valid_to_seq long, "
            "value double"
        ),
        stateStructType="open_seq long, open_val double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    tbl = run_to_table(out, "append", spark)
    got_df = (
        tbl.groupBy("user_id", "valid_from_seq")
        .agg(
            F.max("valid_to_seq").alias("valid_to_seq"),
            F.max("value").alias("value"),
        )
    )
    got = {
        (r.user_id, r.valid_from_seq): (r.valid_to_seq, r.value)
        for r in got_df.collect()
    }
    rows = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "event_id", "value")
        .collect()
    )
    byu: dict[int, list] = {}
    for r in rows:
        byu.setdefault(r.user_id, []).append((r.event_id, float(r.value)))
    exp = {}
    for u, evs in byu.items():
        evs.sort()
        open_v = None
        for eid, val in evs:
            if open_v is not None:
                exp[(u, open_v[0])] = (eid, open_v[1])
            open_v = None if eid % 10 == 0 else (eid, val)
        if open_v is not None:
            exp[(u, open_v[0])] = (None, open_v[1])
    assert got == exp


def test_stream_lsh_pairs_straddle_batches(spark, tmp_path):
    """q_stream_dedup_ingest's bucket rosters must persist across
    micro-batches: a pair whose two documents arrive in DIFFERENT
    batches is emitted when the second lands. Split documents into 4
    files replayed one per trigger and require the collapsed pair
    set to equal the single-batch (whole-fixture) run."""
    from streamz_postgres_spark.streaming.corpus_live import (
        _lsh_bucket_fold,
        _stream_minhash_sig,
    )

    d = tmp_path
    docs = load_table(spark, SF_DIR, "documents")
    total = docs.count()
    step = total // 4 + 1
    for i in range(4):
        (
            docs.filter(
                (F.col("doc_id") >= i * step)
                & (F.col("doc_id") < (i + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{d}/part{i}")
        )
    src = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{d}/part*")
    )
    sig = _stream_minhash_sig(src).filter(F.col("m0").isNotNull())
    band_key = F.explode(
        F.array(
            *[
                F.concat_ws(
                    ",",
                    F.lit(f"{b}:"),
                    *[F.col(f"m{b * 4 + r}") for r in range(4)],
                )
                for b in range(4)
            ]
        )
    )
    out = (
        sig.withColumn("band_key", band_key)
        .groupBy("band_key")
        .applyInPandasWithState(
            _lsh_bucket_fold,
            outputStructType="doc_a long, doc_b long, est_jaccard double",
            stateStructType="roster string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    tbl = run_to_table(out, "append", spark)
    got = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in tbl.groupBy("doc_a", "doc_b")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
        .collect()
    }
    from streamz_postgres_spark.registry import REGISTRY

    want = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in REGISTRY["q_stream_dedup_ingest"]
        .spark_fn(spark, SF_DIR)
        .collect()
    }
    assert got == want


def test_lsh_roster_state_is_bounded_on_hot_bucket():
    """Round-5 verdict #3: a hot LSH bucket (boilerplate docs all
    colliding on one band) must NOT grow state or per-arrival pair
    emission forever. Drive _lsh_bucket_fold directly with a fake
    GroupState and 3 'micro-batches' of identical-signature docs
    totaling 3x the cap: the roster must stop at _LSH_ROSTER_CAP
    anchors, the overflow counter must account for the rest, each
    over-cap arrival must emit exactly cap pairs (still checked
    against every anchor), and under-cap behavior must be unchanged
    (all pairs, exactly once)."""
    import json

    import pandas as pd

    from streamz_postgres_spark.streaming.corpus_live import (
        _LSH_ROSTER_CAP,
        _lsh_bucket_fold,
    )

    cap = _LSH_ROSTER_CAP
    sig = {f"m{j}": 7 for j in range(16)}  # every doc fully collides

    def batch(ids):
        return pd.DataFrame([{"doc_id": i, **sig} for i in ids])

    state = FakeGroupState()
    total = 3 * cap
    splits = [range(0, cap), range(cap, 2 * cap), range(2 * cap, total)]
    emitted = []
    for ids in splits:
        out = pd.concat(
            list(_lsh_bucket_fold(("k",), iter([batch(ids)]), state)),
            ignore_index=True,
        )
        emitted.append(out)

    stored = json.loads(state.get[0])
    assert len(stored["r"]) == cap, "roster must stop at the cap"
    assert stored["ov"] == total - cap, "overflow must count the rest"
    # under-cap batch: all C(cap, 2) pairs, each exactly once
    first = emitted[0]
    assert len(first) == cap * (cap - 1) // 2
    assert not first.duplicated(["doc_a", "doc_b"]).any()
    # over-cap batches: every arrival checked against all cap anchors
    assert len(emitted[1]) == cap * cap
    assert len(emitted[2]) == cap * cap
    assert (emitted[1]["est_jaccard"] == 1.0).all()
    # anchors are exactly the first cap doc_ids: emitted doc_a values
    # in over-cap batches never reference an overflowed doc
    assert set(emitted[2]["doc_a"].unique()) <= set(range(cap))


def test_lsh_roster_state_reads_pre_cap_format():
    """States written before the cap (a bare JSON roster list) must
    still load — a long-running stream restarted onto the new code
    keeps its rosters."""
    import json

    import pandas as pd

    from streamz_postgres_spark.streaming.corpus_live import _lsh_bucket_fold

    old_sig = [3] * 16
    state = FakeGroupState((json.dumps([[1, old_sig]]),))
    new_row = pd.DataFrame([{"doc_id": 2, **{f"m{j}": 3 for j in range(16)}}])
    out = pd.concat(
        list(_lsh_bucket_fold(("k",), iter([new_row]), state)),
        ignore_index=True,
    )
    assert list(out.itertuples(index=False)) == [(1, 2, 1.0)]
    stored = json.loads(state.get[0])
    assert stored["ov"] == 0 and len(stored["r"]) == 2


def test_enrich_asof_state_survives_batches(spark, split_dir):
    """q_stream_enrich_asof's dimension version must hand off across
    micro-batches: a fact in batch 3 enriched by a signup from batch
    1 (with no signup in between) must carry that signup's (seq,
    value). Replay the 4-way event_id-ordered split one file per
    trigger and require the enriched facts to equal a plain Python
    fold over the whole table in event_id order."""
    from streamz_postgres_spark.streaming.cdc_live import _enrich_asof_fold

    src = (
        spark.readStream.schema(load_table(spark, SF_DIR, "events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{split_dir}/part*")
    )
    out = src.groupBy("user_id").applyInPandasWithState(
        _enrich_asof_fold,
        outputStructType=(
            "user_id long, event_id long, event_type string, "
            "value double, dim_seq long, dim_value double"
        ),
        stateStructType="dim_seq long, dim_val double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    got = {
        r.event_id: (r.dim_seq, r.dim_value)
        for r in run_to_table(out, "append", spark).collect()
    }

    rows = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "event_id", "event_type", "value")
        .collect()
    )
    state: dict[int, tuple] = {}
    exp = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.event_id)):
        if r.event_type == "signup":
            state[r.user_id] = (r.event_id, float(r.value))
        else:
            exp[r.event_id] = state.get(r.user_id, (None, None))
    assert got == exp


def test_zip_seq_state_survives_batches(spark, split_dir):
    """q_stream_zip_seq's unmatched-side buffer must hand off across
    micro-batches: a signup left unpaired at the end of batch 1 must
    pair with the first click of a later batch, with the pair
    counter continuing. Replay the 4-way event_id-ordered split one
    file per trigger and require the emitted pairs to equal the
    batch per-key row_number zip over the whole table."""
    from streamz_postgres_spark.streaming.windowed import _zip_seq_fold

    src = (
        spark.readStream.schema(load_table(spark, SF_DIR, "events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{split_dir}/part*")
        .filter(F.col("event_type").isin("signup", "click"))
    )
    out = src.groupBy("user_id").applyInPandasWithState(
        _zip_seq_fold,
        outputStructType=(
            "user_id long, seq long, signup_id long, signup_value double, "
            "click_id long, click_value double"
        ),
        stateStructType="n_pairs long, side string, queue string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    got = {
        (r.user_id, r.seq): (r.signup_id, r.click_id)
        for r in run_to_table(out, "append", spark).collect()
    }

    from pyspark.sql import Window

    e = load_table(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    s = (
        e.filter(F.col("event_type") == "signup")
        .select("user_id", "event_id")
        .withColumn("seq", F.row_number().over(w))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("event_id").alias("c_id")
        )
        .withColumn(
            "seq",
            F.row_number().over(
                Window.partitionBy("c_user").orderBy("c_id")
            ),
        )
    )
    want = {
        (r.user_id, r.seq): (r.event_id, r.c_id)
        for r in s.join(
            c, (s.user_id == c.c_user) & (s.seq == c.seq)
        ).collect()
    }
    assert got == want
    # at least one pair must span a batch boundary, or this test
    # proved nothing: find a pair whose two sides fall in different
    # event_id quarters of the table
    total = e.count()
    step = total // 4 + 1
    assert any(
        (sid // step) != (cid // step) for sid, cid in got.values()
    ), "no cross-batch pair in fixture — split differently"


def test_combine_latest_state_survives_batches(spark, split_dir):
    """q_stream_combine_latest's two-scalar state must hand off
    across micro-batches: a click from batch 1 must pair with a
    purchase from batch 3 when nothing intervened. Replay the 4-way
    split one file per trigger; emissions must equal the plain
    Python fold over the whole table in event_id order."""
    from streamz_postgres_spark.streaming.windowed import (
        _combine_latest_fold,
    )

    src = (
        spark.readStream.schema(load_table(spark, SF_DIR, "events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{split_dir}/part*")
        .filter(F.col("event_type").isin("click", "purchase"))
    )
    out = src.groupBy("user_id").applyInPandasWithState(
        _combine_latest_fold,
        outputStructType=(
            "user_id long, event_id long, click_value double, "
            "purchase_value double"
        ),
        stateStructType="click_v double, purch_v double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    got = {
        r.event_id: (r.click_value, r.purchase_value)
        for r in run_to_table(out, "append", spark).collect()
    }

    rows = sorted(
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("user_id", "event_id", "event_type", "value")
        .collect(),
        key=lambda r: r.event_id,
    )
    state: dict[int, list] = {}
    want = {}
    for r in rows:
        c, p = state.get(r.user_id, (None, None))
        if r.event_type == "click":
            c = r.value
        else:
            p = r.value
        state[r.user_id] = (c, p)
        if c is not None and p is not None:
            want[r.event_id] = (c, p)
    assert got == want
