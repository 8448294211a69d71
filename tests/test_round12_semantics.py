"""Round-12 semantic pins: the SKIP TO LAST V live fold.

Same strategy as the round-11 fold pins — drive the fold directly
with a fake GroupState and ADVERSARIALLY out-of-order batch splits,
asserting the final emission equals a single-batch (fully sorted)
run. The skip-to enumeration additionally pins the CHAINING
property (the closing view of one span opens the next), which is
the semantics that distinguishes this skip mode from PAST LAST ROW.
"""

from __future__ import annotations

import pandas as pd
import pytest

from streamz_postgres_spark.streaming.stateful import (
    _mr_skip_to_matches,
    _pattern_skip_to_fold,
)
from tests.conftest import FakeGroupState


def _mk(rows):
    return pd.DataFrame(
        {
            "x": pd.Series([r[0] for r in rows], dtype="int64"),
            "event_id": pd.Series([r[1] for r in rows], dtype="int64"),
            "ch": pd.Series([r[2] for r in rows], dtype="object"),
        }
    )


def test_skip_to_enumeration_chains_through_boundary():
    # VCCVCV: m1 = VCCV [0,4), resume at its last V (pos 3,
    # INCLUSIVE) which opens m2 = VCV [3,6) — the chain
    assert _mr_skip_to_matches("VCCVCV") == [(0, 4), (3, 3)]
    # VVV: adjacent views chain maximally (VV, VV)
    assert _mr_skip_to_matches("VVV") == [(0, 2), (1, 2)]
    # no closing view -> no match; filler breaks the span
    assert _mr_skip_to_matches("VCP") == []
    assert _mr_skip_to_matches("VC-V") == []
    # non-overlapping scan would find ONE match here; skip-to two
    assert _mr_skip_to_matches("VCVCV") == [(0, 3), (2, 3)]


# event-time order: V C C V C V  (m1 rows 1-4, m2 rows 4-6 chained)
_EVENTS = [
    (10, 1, "V"),
    (20, 2, "C"),
    (30, 3, "C"),
    (40, 4, "V"),
    (50, 5, "C"),
    (60, 6, "V"),
]

_EXPECTED = [
    # (match_no, n_rows, n_clicks, start_x, end_x)
    (1, 4, 2, 10, 40),
    (2, 3, 1, 40, 60),
]


def _run_fold(batches):
    state = FakeGroupState()
    last = None
    for b in batches:
        out = list(_pattern_skip_to_fold((1,), iter([b]), state))
        if out:
            last = pd.concat(out, ignore_index=True)
    return last, state


def test_round12_constructs_compose(spark):
    """Kitchen-sink pin: SUBSET union x explicit RUNNING/FINAL x
    SKIP TO LAST x ALL ROWS PER MATCH in ONE statement, against
    hand-derived values. s = VCVCV under (V C+ V) with SKIP TO
    LAST V: m1 = rows 1-3, resume AT row 3 (the boundary view),
    m2 = rows 3-5. E = (V, C) covers every matched row here, so
    FINAL COUNT(E.*) = FINAL COUNT(*) = 3 while the RUNNING twin
    climbs 1,2,3; FINAL SUM(E.event_id) = 6 then 12 (the chained
    match re-sums its own span, sharing row 3 with m1)."""
    from streamz_postgres_spark import sqlext

    rows = [
        (1, 1, "view", 1.0), (1, 2, "click", 2.0),
        (1, 3, "view", 3.0), (1, 4, "click", 4.0),
        (1, 5, "view", 5.0),
    ]
    spark.createDataFrame(
        rows,
        "user_id int, event_id int, event_type string, value double",
    ).createOrReplaceTempView("mr_ks12")
    try:
        got = sqlext.sql(
            spark,
            """SELECT user_id, match_no, rn, fn, r_ne, f_ne, f_se,
                      f_cls
               FROM mr_ks12 MATCH_RECOGNIZE (
                 PARTITION BY user_id ORDER BY event_id
                 MEASURES MATCH_NUMBER() AS match_no,
                          RUNNING COUNT(*) AS rn,
                          FINAL COUNT(*) AS fn,
                          COUNT(E.*) AS r_ne,
                          FINAL COUNT(E.*) AS f_ne,
                          FINAL SUM(E.event_id) AS f_se,
                          FINAL CLASSIFIER() AS f_cls
                 ALL ROWS PER MATCH
                 AFTER MATCH SKIP TO LAST V
                 PATTERN (V C+ V)
                 SUBSET E = (V, C)
                 DEFINE V AS event_type = 'view',
                        C AS event_type = 'click'
               ) ORDER BY user_id, match_no, rn""",
        ).collect()
    finally:
        spark.catalog.dropTempView("mr_ks12")
    assert [tuple(r) for r in got] == [
        (1, 1, 1, 3, 1, 3, 6, "V"),
        (1, 1, 2, 3, 2, 3, 6, "V"),
        (1, 1, 3, 3, 3, 3, 6, "V"),
        (1, 2, 1, 3, 1, 3, 12, "V"),
        (1, 2, 2, 3, 2, 3, 12, "V"),
        (1, 2, 3, 3, 3, 3, 12, "V"),
    ]


def test_late_arrival_destroying_all_matches_emits_marker():
    """r12 reviewer find (whole fold family): a late arrival can
    DESTROY every match — an insertion that breaks the only run —
    and a fold that emits nothing on zero matches leaves the
    latest-snapshot collapse resurrecting the stale match set. The
    fold now emits a NULL-match_no marker at the NEW seq_len; the
    read-out keeps max-seq_len rows then drops NULLs, so the user
    correctly ends with no rows."""
    state = FakeGroupState()
    # batch 1: V C V -> one VC*V match at seq_len 3
    out1 = list(
        _pattern_skip_to_fold(
            (1,), iter([_mk([(10, 1, "V"), (20, 2, "C"), (30, 3, "V")])]),
            state,
        )
    )
    assert len(out1) == 1 and int(out1[0]["match_no"][0]) == 1
    # batch 2: a LATE purchase sorts between the C and the closing
    # view -> merged s = 'VCPV', zero matches
    out2 = list(
        _pattern_skip_to_fold((1,), iter([_mk([(25, 4, "P")])]), state)
    )
    assert state.get[2] == "VCPV"
    assert len(out2) == 1
    marker = out2[0]
    assert int(marker["seq_len"][0]) == 4
    assert marker["match_no"].isna().all()
    # the collapse keeps seq_len 4 (the marker) over the stale
    # seq_len-3 match rows, and the NULL filter then drops it —
    # exactly the batch oracle's zero-match contract
    import pandas as pd

    tbl = pd.concat(out1 + out2, ignore_index=True)
    latest = tbl[tbl["seq_len"] == tbl["seq_len"].max()]
    assert latest["match_no"].isna().all()


def test_measures_fold_emits_marker_too():
    """Same contract on the shared _mr_fold (the pre-existing
    instance the reviewer traced): V P -> one match, then a late
    error row lands between them -> zero matches, marker emitted."""
    from streamz_postgres_spark.streaming.stateful import (
        _pattern_measures_fold,
    )

    state = FakeGroupState()
    out1 = list(
        _pattern_measures_fold(
            (1,), iter([_mk([(10, 1, "V"), (30, 2, "P")])]), state
        )
    )
    assert len(out1) == 1 and int(out1[0]["match_no"][0]) == 1
    out2 = list(
        _pattern_measures_fold((1,), iter([_mk([(20, 3, "-")])]), state)
    )
    assert state.get[2] == "V-P"
    assert len(out2) == 1 and out2[0]["match_no"].isna().all()
    assert int(out2[0]["seq_len"][0]) == 3


def test_exclusion_composes_with_skip_to_all_rows(spark):
    """Second r12 composition pin: {- -} exclusion x SKIP TO LAST x
    ALL ROWS in one statement, hand-derived. s = VCVCV under
    (V {- C+ -} V) with SKIP TO LAST V: m1 = rows 1-3, m2 = rows
    3-5 (chained through row 3). Exclusion drops the click rows
    from the OUTPUT only — each match emits its two views with
    their full in-match positions (1 and 3, never 1 and 2), and
    the shared boundary view is emitted by BOTH matches."""
    from streamz_postgres_spark import sqlext

    rows = [
        (1, 1, "view"), (1, 2, "click"), (1, 3, "view"),
        (1, 4, "click"), (1, 5, "view"),
    ]
    spark.createDataFrame(
        rows, "user_id int, event_id int, event_type string"
    ).createOrReplaceTempView("mr_ks12b")
    try:
        got = sqlext.sql(
            spark,
            """SELECT user_id, match_no, rn, eid
               FROM mr_ks12b MATCH_RECOGNIZE (
                 PARTITION BY user_id ORDER BY event_id
                 MEASURES MATCH_NUMBER() AS match_no,
                          COUNT(*) AS rn, LAST(event_id) AS eid
                 ALL ROWS PER MATCH
                 AFTER MATCH SKIP TO LAST V
                 PATTERN (V {- C+ -} V)
                 DEFINE V AS event_type = 'view',
                        C AS event_type = 'click'
               ) ORDER BY user_id, match_no, rn""",
        ).collect()
    finally:
        spark.catalog.dropTempView("mr_ks12b")
    assert [tuple(r) for r in got] == [
        (1, 1, 1, 1), (1, 1, 3, 3),
        (1, 2, 1, 3), (1, 2, 3, 5),
    ]


@pytest.mark.parametrize(
    "split",
    [
        [_EVENTS],  # single batch (the reference)
        [_EVENTS[:3], _EVENTS[3:]],
        # the chain's BOUNDARY view arrives last: until it lands
        # only m1's prefix exists, then both spans appear at once
        [_EVENTS[:3], _EVENTS[4:], [_EVENTS[3]]],
        [[e] for e in reversed(_EVENTS)],
        [_EVENTS[::2], _EVENTS[1::2]],
    ],
)
def test_skip_to_fold_order_independent(split):
    last, state = _run_fold([_mk(b) for b in split])
    got = sorted(
        zip(
            last["match_no"], last["n_rows"], last["n_clicks"],
            last["start_x"], last["end_x"],
        )
    )
    assert [tuple(map(int, r)) for r in got] == _EXPECTED
    assert state.get[2] == "VCCVCV"


# -- property: snapshot-collapse == batch enumeration, any split ----------

from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _event_stream(draw):
    """A random classified event sequence with unique (x, event_id)
    keys, plus a random partition of its arrival order — the
    adversarial-split space the parametrized pins sample by hand."""
    n = draw(st.integers(1, 12))
    # x values may COLLIDE (same event-time micros): (x, event_id)
    # is the total order, so the event_id tiebreak must make every
    # split deterministic — part of the property
    xs = draw(
        st.lists(st.integers(0, 8), min_size=n, max_size=n)
    )
    chs = draw(
        st.lists(
            st.sampled_from("VCP-"), min_size=n, max_size=n
        )
    )
    events = [(x, i + 1, ch) for i, (x, ch) in enumerate(zip(xs, chs))]
    order = draw(st.permutations(events))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(1, max(1, n - 1)),
                max_size=3,
                unique=True,
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [n]:
        if c > prev:
            batches.append(order[prev:c])
            prev = c
    return events, batches


@given(data=_event_stream())
@settings(max_examples=150, deadline=None)
def test_fold_snapshot_equals_batch_enumeration(data):
    """The live twins' whole correctness contract as ONE property:
    for ANY event sequence and ANY arrival-order split, the final
    emission collapsed the way the read-out collapses (max seq_len,
    NULL markers dropped) equals the direct enumeration over the
    fully event-time-sorted symbol string — including the
    matches-became-none case the r12 marker fix covers (without the
    marker this property is falsified by any split whose last
    arrival breaks the only match)."""
    import pandas as pd

    events, batches = data
    state = FakeGroupState()
    outs = []
    for b in batches:
        outs.extend(
            _pattern_skip_to_fold((1,), iter([_mk(b)]), state)
        )
    tbl = pd.concat(outs, ignore_index=True)
    latest = tbl[tbl["seq_len"] == tbl["seq_len"].max()]
    got = [
        (int(r.n_rows), int(r.start_x), int(r.end_x))
        for r in latest.dropna(subset=["match_no"]).itertuples()
    ]
    # reference: enumerate on the fully-sorted sequence
    events_sorted = sorted(events)
    s = "".join(ch for _, _, ch in events_sorted)
    xs = [x for x, _, _ in events_sorted]
    want = [
        (ln, xs[sp], xs[sp + ln - 1])
        for sp, ln in _mr_skip_to_matches(s)
    ]
    assert got == want
    assert int(tbl["seq_len"].max()) == len(events)


def test_twap_fold_refuses_cross_batch_disorder():
    """q_stream_twap's O(1) open-observation state has already
    emitted the closed increments, so an arrival EARLIER than the
    open observation must raise (a silent negative duration would
    corrupt the TWAP) — the enforced in-order contract."""
    from streamz_postgres_spark.streaming.stateful import _twap_fold

    def mk(rows):
        return pd.DataFrame(
            {
                "x": pd.Series([r[0] for r in rows], dtype="int64"),
                "event_id": pd.Series(
                    [r[1] for r in rows], dtype="int64"
                ),
                "value": pd.Series(
                    [r[2] for r in rows], dtype="float64"
                ),
            }
        )

    state = FakeGroupState()
    out1 = list(_twap_fold(("view",), iter([mk([(100, 1, 1.0), (200, 2, 2.0)])]), state))
    assert int(out1[0]["dur"].sum()) == 100
    with pytest.raises(ValueError, match="out-of-order"):
        list(_twap_fold(("view",), iter([mk([(150, 3, 9.0)])]), state))
    # in-order continuation (>= the open observation) still works
    state2 = FakeGroupState()
    list(_twap_fold(("view",), iter([mk([(100, 1, 1.0)])]), state2))
    out = list(_twap_fold(("view",), iter([mk([(300, 2, 2.0)])]), state2))
    assert int(out[0]["dur"].sum()) == 200


def test_grand_total_row_survives_empty_input(spark, tmp_path):
    """SQL:2016 <group by clause>: the () grouping set contributes one
    row even over an EMPTY input. Spark's Expand lowering emits zero
    (degenerate-cardinality sweep find) — pin the rebuilt grand-total
    row for all four grouping-set keys on a zero-row fixture, and the
    recomposed totals (count 0, NULL sum) it must carry."""
    import duckdb

    from streamz_postgres_spark.registry import REGISTRY, _load_all
    from tests.conftest import SF_DIR

    _load_all()
    d = str(tmp_path)
    con = duckdb.connect()
    for t in ("customer", "nation", "region", "orders"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet') "
            f"LIMIT 0) TO '{d}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()

    rows = REGISTRY["q_rollup"].spark_fn(spark, d).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert (r["r_name"], r["n_name"]) == (None, None)
    assert r["n_cust"] == 0 and r["sum_bal"] is None and r["gid"] == 3

    rows = REGISTRY["q_cube"].spark_fn(spark, d).collect()
    assert len(rows) == 1 and rows[0]["n_orders"] == 0

    rows = REGISTRY["q_grouping_sets"].spark_fn(spark, d).collect()
    assert len(rows) == 1 and rows[0]["n_orders"] == 0

    rows = REGISTRY["q_grouping_id"].spark_fn(spark, d).collect()
    assert len(rows) == 1
    assert rows[0]["level"] == "grand_total" and rows[0]["gid"] == 3


@pytest.mark.parametrize(
    "name",
    [
        "_UserTotalsProcessor",
        "_RecentEventsProcessor",
        "_TypeCountsProcessor",
        "_InactivityFlushProcessor",
        "_WarmStartTotalsProcessor",
        "_PercentileProcessor",
    ],
)
def test_processors_keep_instance_dict_usable(name):
    """The module-level processors are plain StatefulProcessor
    subclasses: an instance's ``__dict__`` works from Python, and a
    cloudpickle round trip (how Spark ships the processor) gives an
    instance of the same class with the same attributes."""
    from pyspark import cloudpickle
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from streamz_postgres_spark.streaming import stateful

    cls = getattr(stateful, name)
    assert issubclass(cls, StatefulProcessor)
    inst = cls()
    inst.__dict__["probe"] = 1
    assert vars(inst)["probe"] == 1
    back = cloudpickle.loads(cloudpickle.dumps(inst))
    assert type(back) is cls
    assert vars(back) == {"probe": 1}
