"""Tests for the benchmark's reporting rules (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import measure  # noqa: E402
from measure import Span  # noqa: E402


# ---- "highest percentile with at least 10 samples beyond it" ---------------

def test_tail_needs_more_than_ten_samples():
    assert measure.tail_percentile(range(10)) is None
    assert measure.tail_percentile([]) is None


def test_tail_with_eleven_samples_is_the_minimum():
    pct, value = measure.tail_percentile(range(11, 0, -1))
    assert value == 1
    assert pct == pytest.approx(100 / 11)


@pytest.mark.parametrize("n,pct", [(20, 50.0), (40, 75.0), (100, 90.0), (1000, 99.0)])
def test_tail_percentile_leaves_exactly_ten_beyond(n, pct):
    xs = [float(i) for i in range(n)]
    got_pct, value = measure.tail_percentile(reversed(xs))
    assert got_pct == pytest.approx(pct)
    assert sum(x > value for x in xs) == 10


# ---- recall on a hand-built fixture ----------------------------------------

TRUTH = {
    "a": 1, "b": 1, "c": 1,   # 3 truth pairs
    "d": 2, "e": 2,           # 1 truth pair
    "f": 3,                   # singleton cluster: no pairs
}


def test_recall_counts_pairs_sharing_a_component():
    comp = {"a": "X", "b": "X", "c": "Y", "d": "Z", "e": "Z", "f": "Z"}
    # cluster 1: only (a, b) together; cluster 2: (d, e) together -> 2 of 4
    assert measure.truth_recall(TRUTH, comp) == pytest.approx(0.5)


def test_recall_missing_urls_are_singletons():
    assert measure.truth_recall(TRUTH, {}) == 0.0
    assert measure.truth_recall(TRUTH, {"a": 1, "b": 1, "c": 1, "d": 1, "e": 1}) == 1.0


def test_recall_is_invariant_to_component_labels():
    comp = {"a": "X", "b": "X", "c": "X", "d": "X", "e": "W"}
    assert measure.truth_recall(TRUTH, comp) == pytest.approx(3 / 4)


def test_recall_without_truth_pairs_is_an_error():
    with pytest.raises(ValueError):
        measure.truth_recall({"a": 1, "b": 2}, {})


def test_recall_from_emitted_pairs():
    comp = measure.pair_components([("b", "a"), ("c", "b"), ("e", "d")])
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}
    assert measure.truth_recall(TRUTH, comp) == 1.0


def test_false_pairs_counts_merges_across_clusters():
    # everything in its truth cluster: no false pair
    assert measure.false_pairs(TRUTH, {"a": "X", "b": "X", "c": "X", "d": "Y", "e": "Y"}) == 0
    # clusters 1 and 2 merged: 3 * 2 cross pairs
    assert measure.false_pairs(TRUTH, {u: "X" for u in "abcde"}) == 6


def test_false_pairs_urls_outside_truth_are_singletons():
    # two boilerplate pages (no truth cluster) merged with each other and "a"
    comp = {"bp1": "X", "bp2": "X", "a": "X", "b": "Y"}
    assert measure.false_pairs(TRUTH, comp) == 3
    assert measure.false_pairs(TRUTH, {"bp1": "X", "bp2": "Y"}) == 0


def test_join_clusters_merges_linked_clusters():
    joined = measure.join_clusters(TRUTH, [("c", "e")])
    assert {u: joined[u] for u in "abcde"} == {u: "a" for u in "abcde"}
    assert joined["f"] == "f"
    assert measure.truth_recall(joined, {u: 0 for u in "abcde"}) == 1.0
    assert measure.truth_recall(joined, {u: 0 for u in "abc"}) == pytest.approx(3 / 10)


# ---- span self-time arithmetic ---------------------------------------------

def _span(name, start, end, parent=None, run="r"):
    return Span(name, start, end, parent, run)


def test_self_time_without_children_is_the_wall():
    s = _span("p", 2.0, 5.0)
    assert measure.self_time(s, [s]) == pytest.approx(3.0)


def test_self_time_merges_overlapping_children():
    p = _span("p", 0.0, 10.0)
    spans = [p, _span("a", 1, 3, "p"), _span("b", 2, 5, "p"), _span("c", 7, 8, "p")]
    # children cover [1, 5] and [7, 8]: 5 of 10 seconds
    assert measure.self_time(p, spans) == pytest.approx(5.0)


def test_self_time_clips_children_to_the_parent_and_ignores_others():
    p = _span("p", 0.0, 10.0)
    spans = [
        p,
        _span("early", -3, 2, "p"),          # counts only [0, 2]
        _span("late", 9, 12, "p"),           # counts only [9, 10]
        _span("stranger", 3, 6, "q"),        # another parent
        _span("other-run", 3, 6, "p", "r2"),  # another run
    ]
    assert measure.self_time(p, spans) == pytest.approx(7.0)


# ---- digests and host counters -----------------------------------------------

def test_digest_ignores_row_order():
    rows = [("u1", "good", 1), ("u2", "bad", 2)]
    assert measure.digest(rows) == measure.digest(list(reversed(rows)))
    assert measure.digest(rows) != measure.digest([("u1", "good", 1), ("u2", "good", 2)])


def test_steal_share():
    before = [100, 0, 50, 800, 10, 0, 0, 40, 0, 0]
    after = [200, 0, 100, 1600, 20, 0, 0, 80, 0, 0]
    # deltas: 100 + 50 + 800 + 10 + 40 = 1000 total, 40 stolen
    assert measure.steal_share(before, after) == pytest.approx(0.04)
