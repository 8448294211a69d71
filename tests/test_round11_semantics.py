"""Round-11 semantic pins.

The r10 advisor flagged that _pattern_measures_fold appended batches
in arrival order (sorted only WITHIN a batch), so a replay that
sliced the file out of event-time order would silently diverge from
the batch oracle. The fold now merge-sorts the full accumulated
sequence by (x, event_id) every batch; these tests drive the fold
directly with a fake GroupState and ADVERSARIALLY out-of-order batch
splits, asserting the final emission equals a single-batch (fully
sorted) run — the property the streaming twin's correctness rests
on, unreachable through the in-order replay harness.
"""

from __future__ import annotations

import re

import pandas as pd
import pytest

from streamz_postgres_spark.streaming.stateful import (
    _STREAM_MR_PATTERN,
    _pattern_measures_fold,
)
from tests.conftest import FakeGroupState


def _run_fold(batches):
    state = FakeGroupState()
    last = None
    for b in batches:
        out = list(_pattern_measures_fold((1,), iter([b]), state))
        if out:
            last = pd.concat(out, ignore_index=True)
    return last, state


def _mk(rows):
    return pd.DataFrame(
        {
            "x": pd.Series([r[0] for r in rows], dtype="int64"),
            "event_id": pd.Series([r[1] for r in rows], dtype="int64"),
            "ch": pd.Series([r[2] for r in rows], dtype="object"),
        }
    )


# symbol sequence in EVENT-TIME order: V C C P V P V C P
# (matches for VC{0,2}P: [VCCP] [VP] [VCP] — 3 matches)
_EVENTS = [
    (10, 1, "V"),
    (20, 2, "C"),
    (30, 3, "C"),
    (40, 4, "P"),
    (50, 5, "V"),
    (60, 6, "P"),
    (70, 7, "V"),
    (80, 8, "C"),
    (90, 9, "P"),
]


def _expected():
    s = "".join(ch for _, _, ch in _EVENTS)
    xs = [x for x, _, _ in _EVENTS]
    rows = []
    for no, m in enumerate(re.finditer(_STREAM_MR_PATTERN, s), start=1):
        rows.append((no, m.end() - m.start(), xs[m.start()], xs[m.end() - 1]))
    assert len(rows) == 3  # fixture sanity — not vacuous
    return rows


@pytest.mark.parametrize(
    "split",
    [
        # in-order slices (the replay harness shape)
        [_EVENTS[:4], _EVENTS[4:]],
        # a LATE batch: the middle third arrives last
        [_EVENTS[:3], _EVENTS[6:], _EVENTS[3:6]],
        # fully reversed arrival order, one event per batch
        [[e] for e in reversed(_EVENTS)],
        # interleaved odd/even arrival
        [_EVENTS[::2], _EVENTS[1::2]],
    ],
)
def test_fold_order_independent(split):
    last, state = _run_fold([_mk(b) for b in split])
    got = sorted(
        zip(last["match_no"], last["n_rows"], last["start_x"], last["end_x"])
    )
    assert [tuple(map(int, r)) for r in got] == _expected()
    # state holds the fully event-time-sorted sequence
    xs, eids, s = state.get
    assert list(xs) == sorted(xs)
    assert s == "".join(ch for _, _, ch in _EVENTS)


def test_fold_tie_breaks_on_event_id():
    # two events at the SAME x: event_id orders them deterministically
    rows = [(10, 2, "P"), (10, 1, "V")]
    last, state = _run_fold([_mk([rows[0]]), _mk([rows[1]])])
    assert state.get[2] == "VP"
    assert last is not None and len(last) == 1
    assert int(last["n_rows"][0]) == 2


def test_overlap_fold_enumerates_every_start():
    # VVCP under (V|C){1,3}P: overlapping starts at 1, 2, 3 — the
    # non-overlapping scan would report exactly one match
    rows = [(10, 1, "V"), (20, 2, "V"), (30, 3, "C"), (40, 4, "P")]
    from streamz_postgres_spark.streaming.stateful import (
        _pattern_overlap_fold,
    )

    state = FakeGroupState()
    out = list(_pattern_overlap_fold((1,), iter([_mk(rows)]), state))
    got = sorted(
        zip(out[0]["match_no"], out[0]["n_rows"],
            out[0]["start_x"], out[0]["end_x"])
    )
    assert [tuple(map(int, r)) for r in got] == [
        (1, 4, 10, 40),
        (2, 3, 20, 40),
        (3, 2, 30, 40),
    ]


def test_stream_pattern_overlap_closes_to_batch(spark):
    from streamz_postgres_spark.registry import REGISTRY, _load_all
    from tests.conftest import SF_DIR

    _load_all()
    batch = sorted(
        map(
            tuple,
            REGISTRY["q_pattern_overlap"].spark_fn(spark, SF_DIR).collect(),
        )
    )
    live = sorted(
        map(
            tuple,
            REGISTRY["q_stream_pattern_overlap"]
            .spark_fn(spark, SF_DIR)
            .collect(),
        )
    )
    assert batch == live
    assert len(batch) > 0


def test_recursive_cte_walk_is_a_real_recursion(spark):
    """q_recursive_cte: engine-native WITH RECURSIVE over the
    binary-heap hierarchy — depth must equal floor(log2(k+1)) for
    every node (the heap invariant), the walk must be complete
    (every customer appears exactly once), and the root path must
    chain parent-to-child (path has depth+1 segments, ending at the
    node itself). Pins that the recursion really iterates (max depth
    > 2 even at sf0.001) rather than returning the anchor only."""
    from tests.conftest import SF_DIR

    from streamz_postgres_spark.registry import REGISTRY

    rows = REGISTRY["q_recursive_cte"].spark_fn(spark, SF_DIR).collect()
    assert len(rows) == len({r.node for r in rows})  # complete, unique
    maxd = 0
    for r in rows:
        expected_depth = (r.node + 1).bit_length() - 1
        assert r.depth == expected_depth, (r.node, r.depth)
        segs = r.path.split(">")
        assert len(segs) == r.depth + 1
        assert segs[-1] == f"Customer#{r.node:09d}"
        maxd = max(maxd, r.depth)
    assert maxd > 2  # the loop ran, not just the anchor


@pytest.mark.parametrize(
    "split",
    [
        [_EVENTS[:4], _EVENTS[4:]],
        [[e] for e in reversed(_EVENTS)],  # fully reversed arrivals
        [_EVENTS[::2], _EVENTS[1::2]],  # interleaved odd/even
    ],
)
def test_symbol_fold_order_independent_with_nulls(split):
    """_pattern_symbol_fold: per-symbol read-out equals the in-order
    scan under any arrival slicing, INCLUDING the NULL placement —
    the VP match (no C rows) must emit n_clicks=0 and a null
    last_click_eid from every split."""
    from streamz_postgres_spark.streaming.stateful import (
        _pattern_symbol_fold,
    )

    state = FakeGroupState()
    last = None
    for b in [_mk(b) for b in split]:
        out = list(_pattern_symbol_fold((1,), iter([b]), state))
        if out:
            last = pd.concat(out, ignore_index=True)
    got = sorted(
        (
            int(r.match_no),
            int(r.n_clicks),
            int(r.first_view_x),
            None if pd.isna(r.last_click_eid) else int(r.last_click_eid),
        )
        for r in last.itertuples()
    )
    # V C C P | V P | V C P -> clicks 2/0/1, first views 10/50/70,
    # last click event_ids 3/None/8
    assert got == [(1, 2, 10, 3), (2, 0, 50, None), (3, 1, 70, 8)]
