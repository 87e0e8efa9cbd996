"""Tests of the benchmark's own machinery (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import decimal
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gate  # noqa: E402
import metrics  # noqa: E402
import qmsgen  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


def _run_generator(seed: int) -> bytes:
    gen = qmsgen.QmsGenerator(seed)
    seed_docs = gen.seed_collections(200, 10, 50)
    out = b"".join(qmsgen.ndjson_bytes(seed_docs[c]) for c in ("user", "ticket", "rating"))
    for _ in range(3):
        out += qmsgen.ndjson_bytes(gen.ticket_delta(20, 0.2, 50, replays=2))
    return out


def test_generator_same_seed_same_bytes():
    assert _run_generator(5) == _run_generator(5)
    assert _run_generator(5) != _run_generator(6)


def test_generator_cursor_strictly_increases_across_batches():
    gen = qmsgen.QmsGenerator(1)
    gen.seed_collections(100, 5, 20)
    high = ""
    for _ in range(5):
        batch = gen.ticket_delta(20, 0.2, 30, replays=3)
        cursors = [d["updatedAt"] for d in batch]
        assert min(cursors) > high
        assert len(set(cursors)) == len(cursors)
        high = max(cursors)


def test_generator_replays_repeat_an_id_in_the_batch():
    gen = qmsgen.QmsGenerator(2)
    gen.seed_collections(100, 5, 20)
    batch = gen.ticket_delta(20, 0.0, 30, replays=4)
    assert len(batch) == 20
    assert len({d["_id"] for d in batch}) < 20


def test_expected_state_last_write_wins_by_cursor():
    state = qmsgen.ExpectedState()
    state.apply("ticket", [
        {"_id": "a", "v": 1, "updatedAt": "2025-01-01T00:00:01.000000Z"},
        {"_id": "b", "v": 1, "updatedAt": "2025-01-01T00:00:02.000000Z"},
    ])
    # the later write of "a" comes first in the batch; "b" is replayed
    # with an older cursor and must not regress
    state.apply("ticket", [
        {"_id": "a", "v": 3, "updatedAt": "2025-01-01T00:00:05.000000Z"},
        {"_id": "a", "v": 2, "updatedAt": "2025-01-01T00:00:04.000000Z"},
        {"_id": "b", "v": 0, "updatedAt": "2025-01-01T00:00:00.500000Z"},
        {"_id": "c", "v": 1, "updatedAt": "2025-01-01T00:00:03.000000Z"},
    ])
    rows = {r["_id"]: r["v"] for r in state.rows("ticket")}
    assert rows == {"a": 3, "b": 1, "c": 1}
    assert state.high_water["ticket"] == "2025-01-01T00:00:05.000000Z"


def _span(name, start, end, parent=None, op=1):
    return spans.Span(name, start, end, parent=parent, op=op)


def test_self_time_subtracts_union_of_children():
    ss = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("a.1", 2.0, 3.0, parent=1),
        _span("b", 3.5, 6.0, parent=0),  # overlaps a: union is [1, 6]
        _span("c", 8.0, 12.0, parent=0),  # runs past the root: clipped to 10
    ]
    assert spans.self_times(ss) == pytest.approx([3.0, 2.0, 1.0, 2.5, 4.0])


def test_self_times_of_nested_ops_sum_to_root():
    ss = [
        _span("op", 0.0, 5.0, op=1),
        _span("x", 0.5, 2.0, parent=0, op=1),
        _span("y", 2.0, 4.5, parent=0, op=1),
        _span("y.1", 3.0, 4.0, parent=2, op=1),
        _span("op", 6.0, 7.0, op=2),
    ]
    assert spans.self_sum_error(ss) == pytest.approx(0.0, abs=1e-12)


def test_covered_merges_and_clips():
    assert spans.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert spans.covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert spans.covered([], 0, 1) == 0


def test_tail_rule_needs_ten_samples_beyond():
    v, pct, n = stats.tail([float(i) for i in range(10)])
    assert math.isnan(v) and n == 10
    v, pct, n = stats.tail([float(i) for i in range(11)])
    assert (v, pct) == (0.0, 0.0)
    v, pct, n = stats.tail([float(i) for i in range(21)])
    assert (v, pct) == (10.0, 50.0)
    xs = [float(i) for i in range(100)]
    v, pct, n = stats.tail(list(reversed(xs)))
    assert v == 89.0 and pct == pytest.approx(89.0 * 100 / 99) and n == 100
    assert sum(1 for x in xs if x > v) == stats.TAIL_MIN_BEYOND


def test_compare_rows_is_order_and_column_order_insensitive():
    left = (["b", "a"], [(1.0000001, "x"), (2.0, "y")])
    right = (["a", "b"], [("y", 2.0), ("x", 1.0)])
    assert gate.compare_rows("q", *left, *right) == []
    assert gate.compare_rows("q", *left, ["a", "b"], [("y", 2.0)])


def test_canon_keeps_integers_exact():
    assert gate.canon(123456789012) == 123456789012
    assert gate.canon(123456789012) != gate.canon(123456789013)
    assert gate.canon(decimal.Decimal("1.5")) == gate.canon(1.5)


def test_end_to_end_centres_each_kind():
    samples = {
        "sync": [3.0, 3.0],
        "read.a": [0.1, 0.2, 0.9],
        "read.b": [0.3, 0.5, 0.4],
    }
    e2e = metrics._end_to_end("trickle_serve", samples, [4.0, 5.0, 6.0], 30.0)
    assert e2e == pytest.approx(
        {"setup_s": 30.0, "op_p50_s": 3.0, "refresh_s": 0.6, "cycle_s": 5.0}
    )
    # query_mix: geometric mean of each plan's median, so no single
    # plan's rank decides the figure
    plans = {"plans.x": [1.0, 9.0, 2.0], "plans.y": [8.0, 8.0], "read.a": [100.0]}
    assert metrics._centre(plans, ("plans.",)) == pytest.approx(4.0)
