import statistics

from compare import verdict
from repeat import parse_seeds, spread


def test_spread_is_iqr_over_median():
    values = [10.0, 10.4, 9.8, 10.1, 10.9, 9.7, 10.2, 10.0, 10.3, 9.9]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert spread(values)["spread"] == (q3 - q1) / statistics.median(values)


def test_verdicts():
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    faster = [x * 0.8 for x in parent]
    slower = [x * 1.3 for x in parent]
    assert verdict(parent, faster, "lower", 0.25)["verdict"] == "gain"
    assert verdict(parent, slower, "lower", 0.25)["verdict"] == "regressed"
    assert verdict(parent, list(parent), "lower", 0.25)["verdict"] == "no change"
    assert verdict(parent, slower, "higher", 0.25)["verdict"] == "gain"
    assert verdict(parent[:3], faster[:3], "lower", 0.25)["verdict"] == "no change"  # too few pairs
    noisy = [5.0, 15.0, 6.0, 14.0, 5.5, 14.5, 6.5, 13.5, 5.0, 15.0]
    assert verdict(noisy, [x * 1.05 for x in noisy], "lower", 0.25)["verdict"] == "unresolved"


def test_parse_seeds():
    assert parse_seeds("1-3,7") == [1, 2, 3, 7]
