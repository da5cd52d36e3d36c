"""Unit checks of the benchmark's own logic on tiny inputs (no Spark).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from perfbench import core
from perfbench.stream_live import reference


# -- emission due time ---------------------------------------------------------


def test_due_time_is_first_event_at_or_past_close_plus_delay():
    ts = [10, 20, 30, 40]
    created = [110, 120, 130, 140]
    due = core.due_creation_ns([5, 15, 20, 35, 41], ts, created, delay_ns=5)
    # close+delay: 10 → event 10; 20 → 20 (at, not past, counts); 25 → 30;
    # 40 → 40; 46 → none
    assert due.tolist() == [110, 120, 130, 140, -1]


def test_due_time_rejects_unsorted_events():
    with pytest.raises(ValueError):
        core.due_creation_ns([1], [3, 2], [3, 2], 0)


# -- percentile rule ---------------------------------------------------------------


@pytest.mark.parametrize("n, want", [
    (19, None),      # median rank 10 leaves only 9 above it
    (20, 50.0),
    (100, 90.0),     # p95 rank 95 leaves 5
    (199, 90.0),     # p95 rank 190 leaves 9
    (200, 95.0),
    (999, 95.0),     # p99 rank 990 leaves 9
    (1000, 99.0),    # p99 rank 990 leaves exactly 10
    (10000, 99.9),
])
def test_highest_percentile_with_ten_samples_beyond(n, want):
    assert core.tail_percentile(n) == want


def test_nearest_rank_percentile_is_a_sample():
    vals = list(range(1, 1001))
    assert core.percentile(vals, 99) == 990
    assert core.percentile(vals, 50) == 500
    assert core.median([3, 1, 2, 10]) == 2.5


# -- value hash -----------------------------------------------------------------------


def test_value_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"k": ["x", "y"], "v": [1.00001, 2.0]})
    b = pd.DataFrame({"v": [2.0, 1.0], "k": ["y", "x"]})
    assert core.value_hash(a) == core.value_hash(b)  # floats round to 4 places


def test_value_hash_sees_duplicates_and_values():
    a = pd.DataFrame({"k": ["x", "y"]})
    assert core.value_hash(a) != core.value_hash(pd.DataFrame({"k": ["x", "x", "y"]}))
    assert core.value_hash(a) != core.value_hash(pd.DataFrame({"k": ["x", "z"]}))


def test_value_hash_datetimes_drop_timezone():
    naive = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 00:00:01"])})
    aware = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 00:00:01"]).tz_localize("UTC")})
    assert core.value_hash(naive) == core.value_hash(aware)


def test_frames_equal_is_a_multiset_compare():
    a = pd.DataFrame({"k": ["x", "x", "y"], "n": [1, 1, 2]})
    assert core.frames_equal(a, a.iloc[::-1], ["k", "n"])
    assert not core.frames_equal(a, a.drop_duplicates(), ["k", "n"])
    us = pd.DataFrame({"t": pd.to_datetime(["2024-01-01"]).astype("datetime64[us]")})
    ns = pd.DataFrame({"t": pd.to_datetime(["2024-01-01"])})
    assert core.frames_equal(us, ns, ["t"])


# -- span self time ---------------------------------------------------------------------


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),   # overlaps span 1: union 1..5 is 4 s
        _span(3, 0, 7.0, 8.0),
        _span(4, 1, 2.0, 3.0),   # grandchild: charged to span 1 only
    ]
    st = core.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_disabled_records_nothing():
    tr = core.Tracer(False, "r")
    with tr.span("a"):
        pass
    assert tr.spans == []


def test_tracer_nests_spans():
    tr = core.Tracer(True, "r")
    with tr.span("outer"):
        with tr.span("inner", rep=0):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("outer", None), ("inner", 0)]
    assert tr.spans[1]["rep"] == 0 and tr.spans[0]["end"] >= tr.spans[1]["end"]


# -- formatted Spark size metrics ----------------------------------------------------------


def test_parse_size_metric():
    text = "total (min, med, max (stageId: taskId))\n3.1 MiB (781.5 KiB, 1.0 B, 2.0 GiB)"
    assert core.parse_size_metric(text) == int(3.1 * (1 << 20))
    assert core.parse_size_metric("0.0 B") == 0
    assert core.parse_size_metric(None) == 0


# -- stream reference -----------------------------------------------------------------


def test_stream_reference_on_a_tiny_feed():
    s = 1_000_000
    ev = pd.DataFrame({
        "conv_id": ["a", "a", "a", "a", "b", "zz-flush"],
        "turn_idx": [0, 1, 2, 3, 0, 0],
        "role": ["user", "user", "assistant", "assistant", "assistant", "system"],
        "tool": ["", "", "", "", "exec", ""],
        "ts": np.array([0, 1, 1.5, 4, 0.5, 99]) * s,
    })
    ev["ts"] = ev["ts"].astype("int64")
    ref = reference(ev)
    # both users of a match the first assistant after them
    assert sorted(zip(ref["pattern"]["e1_turn_idx"], ref["pattern"]["e2_turn_idx"])) == [
        (0, 2), (1, 2)]
    # gap 1 s: a's events 0, 1, 1.5 form one session, 4 another; flush excluded
    sess = ref["session"].sort_values(["conv_id", "session_start"])
    assert sess["n_turns"].tolist() == [3, 1, 1]
    assert sess["session_end"].tolist()[0] == int(2.5 * s)
    # 2 s tumbling windows: a has [0,2) with 3 turns and [4,6) with 1
    tum = ref["tumbling"].sort_values(["conv_id", "window_start"])
    assert tum["turns"].tolist() == [3, 1, 1]
    assert tum["tool_calls"].tolist() == [0, 0, 1]
