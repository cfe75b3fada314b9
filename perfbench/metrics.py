"""Operation records and the statistics the benchmark reports.

No order statistic is taken over a mix of different operations except
``op_tail_s``, which is defined on the mix; latency is summarised per
operation type first (median) and then across types (geometric mean).
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass


@dataclass
class Op:
    kind: str  # operation type: a query key, or "lake.append" …
    seconds: float
    ok: bool = True
    error: str | None = None
    batch: int = 0  # the timed pass or cycle the operation ran in


def medians_by_kind(ops: list[Op]) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for op in ops:
        if op.ok:
            by.setdefault(op.kind, []).append(op.seconds)
    return {k: statistics.median(v) for k, v in by.items()}


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it:
    ``(value, percentile, n)``. With ``beyond`` or fewer samples there is
    no such percentile and the maximum is returned as p100."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return xs[-1], 100.0, n
    i = n - beyond - 1
    return xs[i], 100.0 * (i + 1) / n, n


def end_to_end(ops: list[Op]) -> tuple[dict, dict]:
    """``({name: (value, unit)}, info)`` for the operation metrics; info
    holds the tail's percentile and sample count and the error rate.

    ``ops_per_s`` is the median over timed passes of completed operations
    ÷ the pass's summed operation time: a pass disturbed by the host
    (CPU steal, another tenant) does not move it."""
    done = [op for op in ops if op.ok]
    if not done:
        return {}, {"error_rate": 1.0}
    tail_s, tail_p, tail_n = tail([op.seconds for op in done])
    walls: dict[int, float] = {}
    for op in ops:
        walls[op.batch] = walls.get(op.batch, 0.0) + op.seconds
    rates = [sum(op.ok and op.batch == b for op in ops) / w for b, w in walls.items()]
    metrics = {
        "ops_per_s": (statistics.median(rates), "1/s"),
        "op_geomean_s": (geomean(medians_by_kind(done).values()), "s"),
        "op_tail_s": (tail_s, "s"),
    }
    info = {
        "op_tail_p": tail_p,
        "op_tail_n": tail_n,
        "error_rate": (len(ops) - len(done)) / len(ops),
    }
    return metrics, info

