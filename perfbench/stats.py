"""Pure helpers: medians, quartile spreads, and span self time.

Run as a script, it summarizes the result lines of several runs (the last
stdout line of each ``run.py``), read from the given files or stdin:

    python3 perfbench/stats.py results.jsonl
"""

from __future__ import annotations

import fileinput
import json
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float]:
    """First and third quartile as ``statistics.quantiles(n=4)`` gives them
    (the default, exclusive method); one value is its own quartiles."""
    if len(values) < 2:
        return float(values[0]), float(values[0])
    q1, _, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q3)


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q3 = quartiles(values)
    return (q3 - q1) / median(values)


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover.
    Children may overlap (parallel dim reloads), so the covered part is the
    union of their intervals, not their sum."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered_seconds(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def summarize(lines) -> dict[str, dict[str, float]]:
    """Per metric over the result lines: n, median, quartiles and spread."""
    values: dict[str, list[float]] = {}
    for line in lines:
        if line.startswith('{"correct"'):
            for name, m in json.loads(line)["metrics"].items():
                values.setdefault(name, []).append(m["value"])
    out = {}
    for name, vals in values.items():
        q1, q3 = quartiles(vals)
        out[name] = {"n": len(vals), "median": median(vals), "q1": q1, "q3": q3,
                     "spread": spread(vals) if median(vals) else 0.0}
    return out


if __name__ == "__main__":
    for name, s in summarize(fileinput.input()).items():
        print(f"{name:40s} n={s['n']:2d} median={s['median']:.4f} "
              f"q1={s['q1']:.4f} q3={s['q3']:.4f} spread={s['spread']:.3f}")
