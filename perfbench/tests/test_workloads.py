"""Seed semantics and the pass count."""

import itertools

from workloads import WARM_PASSES, WORKLOADS, pass_orders, queries, timed_passes


def _orders(workload, seed, n=3):
    return list(itertools.islice(pass_orders(workload, seed), n))


def test_seed_fixes_the_order_only():
    for w in WORKLOADS:
        a = _orders(w, 7)
        assert a == _orders(w, 7)
        assert all(sorted(o) == sorted(queries(w)) for o in a)
    assert _orders("relational", 1) != _orders("relational", 2)


def test_timed_passes_follow_seconds_not_speed():
    assert timed_passes("relational", 15) == 3
    assert timed_passes("relational", 20) == 4
    assert timed_passes("extensions", 20) == 4
    assert timed_passes("extensions", 1) == 1
    assert timed_passes("relational", 60) == 12


def test_every_workload_warms_before_timing():
    assert set(WARM_PASSES) == set(WORKLOADS)
    assert min(WARM_PASSES.values()) >= 1
