"""Self-tests for the benchmark's summarizer.

Run: ``python3 -m pytest perfbench/test_stats.py -q``
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def test_median_odd_even_and_empty():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_quartiles_match_statistics_quantiles():
    values = [1.2, 0.9, 1.1, 1.0, 1.3, 0.95, 1.05, 1.15, 1.25, 1.4]
    assert stats.quartiles(values) == tuple(statistics.quantiles(values, n=4))
    assert stats.quartiles([5.0]) == (5.0, 5.0, 5.0)


def test_spread_is_iqr_over_median():
    values = [10.0, 11.0, 12.0, 13.0, 14.0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert stats.spread(values) == pytest.approx((q3 - q1) / q2)
    assert stats.spread([2.0, 2.0, 2.0]) == 0.0


def test_failure_counting():
    assert stats.failed_ratio(4, 0) == 0.0
    assert stats.failed_ratio(4, 1) == 0.25
    for attempted, failed in ((0, 0), (3, 4), (3, -1)):
        with pytest.raises(ValueError):
            stats.failed_ratio(attempted, failed)


@pytest.mark.parametrize(
    "name", ["wall_s", "setup_s", "operators.dedup.minhash_pairs_out", "spark.jvm_gc_s", "a-b", "9x"]
)
def test_good_metric_names(name):
    assert stats.check_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "wall s", "wall/s", "é", "x" * 65])
def test_bad_metric_names(name):
    with pytest.raises(ValueError):
        stats.check_name(name)


def test_result_line_shape():
    line = stats.result_line(True, 5, 1, {"wall_s": (1.25, "s"), "peak_rss_mb": (812.5, "MB")})
    obj = json.loads(line)
    assert list(obj) == ["correct", "attempted", "failed", "metrics"]
    assert obj["correct"] is True and obj["attempted"] == 5 and obj["failed"] == 1
    assert obj["metrics"]["wall_s"] == {"value": 1.25, "unit": "s"}
    assert "\n" not in line


@pytest.mark.parametrize(
    "metrics",
    [
        {"bad name": (1.0, "s")},
        {"x": (float("nan"), "s")},
        {"x": (True, "count")},
        {"x": (1.0, "bad unit")},
    ],
)
def test_result_line_rejects_bad_metrics(metrics):
    with pytest.raises(ValueError):
        stats.result_line(True, 1, 0, metrics)


def test_summarize_over_runs():
    lines = [stats.result_line(True, 2, 0, {"wall_s": (w, "s")}) for w in (10.0, 11.0, 12.0, 13.0, 14.0)]
    s = stats.summarize(lines)["wall_s"]
    assert s["n"] == 5 and s["median"] == 12.0
    assert s["spread"] == pytest.approx(stats.spread([10.0, 11.0, 12.0, 13.0, 14.0]))
