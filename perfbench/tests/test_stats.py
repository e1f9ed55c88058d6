"""Median/quartile helpers and the regression-bound rule."""

import statistics

import pytest

from perfbench.record import median, quartiles, regressed, spread, worse_by

VALUES = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 9.5, 10.0]


def test_quartiles_match_statistics_quantiles():
    q1, _q2, q3 = statistics.quantiles(VALUES, n=4)
    assert quartiles(VALUES) == (q1, q3)
    assert median(VALUES) == statistics.median(VALUES)


def test_spread_is_iqr_over_median():
    q1, q3 = quartiles(VALUES)
    assert spread(VALUES) == pytest.approx((q3 - q1) / statistics.median(VALUES))
    assert spread([5.0, 5.0, 5.0, 5.0]) == 0.0


@pytest.mark.parametrize(
    "parent,child,better,expected",
    [
        (100.0, 110.0, "lower", 0.10),  # slower time: worse by 10%
        (100.0, 90.0, "lower", -0.10),
        (100.0, 90.0, "higher", 0.10),  # less throughput: worse by 10%
        (100.0, 110.0, "higher", -0.10),
    ],
)
def test_worse_by_direction(parent, child, better, expected):
    assert worse_by(parent, child, better) == pytest.approx(expected)


def test_regressed_uses_medians_and_bound():
    parent = [100.0, 101.0, 99.0]
    assert not regressed(parent, [109.0, 300.0, 108.0], "lower", 0.10)
    assert regressed(parent, [111.0, 112.0, 50.0], "lower", 0.10)
    assert regressed(parent, [89.0, 88.0, 200.0], "higher", 0.10)
    assert not regressed(parent, [91.0, 92.0, 1.0], "higher", 0.10)


def test_spread_report_judges_every_end_to_end_metric(capsys):
    from perfbench.metrics import END_TO_END
    from perfbench.spread import summarize

    steady = {name: 1.0 for name in END_TO_END}
    results = []
    for k, setup in enumerate([10, 20, 30, 40, 50, 60, 70, 80, 90, 100]):
        values = dict(steady, setup_s=float(setup))
        results.append({"metrics": {n: {"value": v + k * 1e-6} for n, v in values.items()}})
    assert summarize(results) == 1  # setup_s too wide, nothing else
    assert "setup_s" in [l.split()[0] for l in capsys.readouterr().out.splitlines()
                         if "TOO WIDE" in l]
