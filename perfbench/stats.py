"""Summaries the benchmark prints: medians, quartiles, failure
counting, metric-name checks and the result-line JSON shape.

Run directly, it summarizes several runs of one workload (each file
holds the stdout of one run): median and interquartile spread of every
metric, the steadiness check over a set of seeds::

    python3 perfbench/stats.py out/seed*.txt
"""

from __future__ import annotations

import json
import math
import re
import statistics
import sys

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def median(values: list[float]) -> float:
    """Median of a non-empty sample."""
    if not values:
        raise ValueError("median of an empty sample")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    if not values:
        raise ValueError("quartiles of an empty sample")
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def failed_ratio(attempted: int, failed: int) -> float:
    """Executions that raised or failed their output check, over those
    attempted."""
    if attempted < 1:
        raise ValueError("nothing was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def check_name(name: str) -> str:
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def result_line(
    correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]
) -> str:
    """The last line a run prints: one JSON object with exactly the keys
    ``correct``, ``attempted``, ``failed`` and ``metrics``."""
    failed_ratio(attempted, failed)
    out = {}
    for name, (value, unit) in metrics.items():
        check_name(name)
        if not UNIT_RE.fullmatch(unit):
            raise ValueError(f"bad unit {unit!r} for {name}")
        if isinstance(value, bool) or not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} is not a finite number: {value!r}")
        out[name] = {"value": value, "unit": unit}
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": out}
    )


def summarize(lines: list[str]) -> dict[str, dict[str, float]]:
    """Per metric over several result lines: n, median, q1, q3, spread."""
    values: dict[str, list[float]] = {}
    for line in lines:
        for name, m in json.loads(line)["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    out = {}
    for name, vs in values.items():
        q1, q2, q3 = quartiles(vs)
        out[name] = {"n": len(vs), "median": q2, "q1": q1, "q3": q3, "spread": spread(vs)}
    return out


def main(paths: list[str]) -> None:
    """Each path holds the stdout of one run; its last line is the result."""
    lines = []
    for path in paths:
        with open(path) as f:
            out = f.read().strip().splitlines()
        if out and out[-1].startswith("{"):
            lines.append(out[-1])
    for name, s in summarize(lines).items():
        print(f"{name:<48} n={s['n']:<3} median={s['median']:<12.6g} spread={s['spread']:.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
