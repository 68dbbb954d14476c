"""Arithmetic of the end-to-end metrics."""

import math

import pytest

from stats import failed_frac, geomean, steady_times


def test_geomean_weighs_every_query_equally():
    assert geomean([0.1, 10.0]) == pytest.approx(1.0)
    assert geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    # scaling one query scales the mean by that factor's n-th root
    assert geomean([8.0, 1.0, 1.0]) == pytest.approx(2.0)


@pytest.mark.parametrize("bad", [[], [1.0, 0.0], [-1.0]])
def test_geomean_rejects_empty_and_nonpositive(bad):
    with pytest.raises(ValueError):
        geomean(bad)


def test_failed_frac():
    assert failed_frac(0, 20) == 0.0
    assert failed_frac(3, 12) == 0.25
    assert failed_frac(12, 12) == 1.0
    for failed, attempted in ((1, 0), (-1, 5), (6, 5)):
        with pytest.raises(ValueError):
            failed_frac(failed, attempted)


def test_steady_times_are_per_query_medians_and_skip_queries_without_samples():
    got = steady_times({"a": [3.0, 1.0, 2.0], "b": [4.0, 6.0], "c": []})
    assert got == {"a": 2.0, "b": 5.0}
    assert sum(got.values()) == 7.0
    assert math.isclose(geomean(list(got.values())), math.sqrt(10.0))
