import pytest

import stats


def test_median_and_count():
    s = stats.summary([3.0, 1.0, 2.0, 10.0])
    assert s == {"p50": 2.5, "n": 4}


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(40) == 75
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99
    s = stats.summary(range(1, 101))
    assert s["n"] == 100 and s["p90"] == 90 and s["p50"] == 50.5


def test_fmt_summary_names_unit_and_count():
    line = stats.fmt_summary("wall_s", "s", [1.0, 2.0, 3.0])
    assert line == "wall_s: p50=2 s (n=3)"


def test_geomean_and_errors():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.median([])
    with pytest.raises(ValueError):
        stats.geomean([0.0, 1.0])
