"""Pure helpers: percentiles, per-op medians, geometric mean, Spark SQL-metric
string parsing, span self time.

Nothing here touches Spark, so ``perfbench/tests`` can test it directly.
"""

from __future__ import annotations

import math
import re
import statistics
from typing import Iterable, Sequence

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "PiB": 1 << 50,
}


def percentile(values: Sequence[float], q: float) -> float:
    """Percentile by linear interpolation between the two nearest ranks
    (NumPy's default). A pass holds ops of very different cost, so a rank
    often falls between two kinds of op; interpolating keeps the figure
    from jumping between them from run to run the way a nearest-rank pick
    does."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile rank {q} outside [0, 100]")
    ordered = sorted(values)
    pos = (len(ordered) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def supported_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile that still has ``beyond`` samples above it,
    for ``n`` samples; None when there are not even that many samples.
    The run record states it next to ``op_p90_s`` so a reader knows how
    much tail the sample count supports."""
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n


def op_medians(records: Iterable[dict]) -> dict[str, float]:
    """Each op's median latency over its invocations, from records with
    ``op`` and ``latency_s``."""
    by_op: dict[str, list[float]] = {}
    for r in records:
        by_op.setdefault(r["op"], []).append(r["latency_s"])
    return {op: statistics.median(v) for op, v in by_op.items()}


def geomean(values: Iterable[float]) -> float:
    """Geometric mean of positive values. A pass holds ops of very
    different cost; unlike a percentile over all of them, it does not jump
    from one kind of op to another when their order shifts."""
    logs = [math.log(v) for v in values]
    if not logs:
        raise ValueError("geometric mean of no values")
    return math.exp(sum(logs) / len(logs))


def quartile_spread(values: Sequence[float]) -> float:
    """Inter-quartile distance as a share of the median, with quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def parse_sql_metric(text: str | None) -> float:
    """Total of one Spark SQL metric as the SQL status store renders it.

    Sum metrics are plain numbers (``"200,000"``). Timing and size metrics
    read ``"total (min, med, max (stageId: taskId))\\n1.1 s (522 ms, ...)"``;
    the total is the first value on the second line. Timings come back in
    seconds, sizes in bytes. A metric no task updated is absent (None) and
    reads 0.
    """
    if text is None:
        return 0.0
    text = text.strip()
    if not text:
        return 0.0
    line = text.splitlines()[-1] if "\n" in text else text
    head = line.split("(")[0].strip().replace(",", "")
    m = re.fullmatch(r"(-?[0-9.]+)\s*([A-Za-z]*)", head)
    if not m:
        raise ValueError(f"unparseable SQL metric value: {text!r}")
    number, unit = float(m.group(1)), m.group(2)
    if not unit:
        return number
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")


def round_robin_exchanges(plan: str) -> int:
    """Round-robin exchanges in a formatted physical plan, as the SQL
    status store keeps it. Of an adaptive plan only the final plan counts;
    its initial plan repeats the same exchanges under other node ids."""
    split = re.search(r"^\(\d+\) ", plan, re.M)
    tree = plan[: split.start()] if split else plan
    details = plan[split.start():] if split else ""
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    nodes = set(re.findall(r"Exchange \((\d+)\)", tree))
    count = 0
    for block in re.split(r"\n(?=\(\d+\) )", details):
        m = re.match(r"\((\d+)\) Exchange", block)
        if m and m.group(1) in nodes and "Arguments: RoundRobinPartitioning" in block:
            count += 1
    return count


def covered_length(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered_length(children, start, end)
