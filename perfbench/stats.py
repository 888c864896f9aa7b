"""Spark-free arithmetic behind the reported metrics."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def geomean_of_medians(per_op: dict) -> float:
    """Geometric mean over ops of each op's median time. Every op
    weighs the same, whatever its scale, and no op's rank can hop."""
    meds = [median(v) for v in per_op.values() if v]
    if not meds:
        return 0.0
    return math.exp(sum(math.log(max(m, 1e-9)) for m in meds) / len(meds))


def job_range(next_before: int, next_after: int) -> range:
    """Ids of the jobs started between two readings of the scheduler's
    next job id."""
    if next_after < next_before:
        raise ValueError(f"job ids went backwards: {next_before} -> {next_after}")
    return range(next_before, next_after)


def _covered(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """Span name -> summed self time: each span's duration minus the part
    of it its children cover (children clipped to the parent)."""
    children = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        kids = [
            (max(c["start"], sp["start"]), min(c["end"], sp["end"]))
            for c in children.get(sp["id"], ())
        ]
        kids = [(s, e) for s, e in kids if e > s]
        own = (sp["end"] - sp["start"]) - _covered(kids)
        out[sp["name"]] = out.get(sp["name"], 0.0) + own
    return out
