"""Percentile and ratio arithmetic and the failed_frac ledger."""

import pytest

from stats import FailureLedger, median, percentile, ratio


def test_percentile_interpolates_like_numpy():
    xs = [357, 1442, 455, 1443]
    assert percentile(xs, 0) == 357
    assert percentile(xs, 100) == 1443
    assert percentile(xs, 50) == pytest.approx(948.5)
    # numpy.percentile([357, 455, 1442, 1443], 95) == 1442.85
    assert percentile(xs, 95) == pytest.approx(1442.85)
    assert median([3.0]) == 3.0


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1], 101)


def test_ratio_of_zero_base_is_zero():
    assert ratio(3, 4) == 0.75
    assert ratio(3, 0) == 0.0


def test_failed_frac_accounting():
    led = FailureLedger()
    assert not led.correct  # nothing attempted is not a pass
    led.add(1000)
    led.add(1000, 0)
    assert led.correct and led.failed_frac == 0.0
    led.add(8, 2, "queries differ from oracle")
    assert not led.correct
    assert (led.attempted, led.failed) == (2008, 2)
    assert led.failed_frac == pytest.approx(2 / 2008)
    assert led.reasons == ["2/8 queries differ from oracle"]


def test_failed_cannot_exceed_attempted():
    with pytest.raises(ValueError):
        FailureLedger().add(1, 2)
    with pytest.raises(ValueError):
        FailureLedger().add(-1)
