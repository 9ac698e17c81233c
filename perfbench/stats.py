"""Percentiles and process memory — the arithmetic the report
rests on, kept free of Spark so the self-tests can pin it."""

from __future__ import annotations

import math
import os

#: percentiles the report may quote, lowest first
PERCENTILES = (50, 90, 99)
#: a percentile is quoted only with at least this many samples above it
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``q``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    return n - max(1, math.ceil(q / 100.0 * n))


def reportable(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least ``MIN_BEYOND`` above the
    ``q`` percentile — p90 needs 100 samples, p99 1000. The median is
    always reported."""
    return q == 50 or samples_beyond(n, q) >= MIN_BEYOND


def highest_percentile(n: int) -> float | None:
    """The highest of ``PERCENTILES`` above the median that ``n``
    samples support, or None."""
    ok = [q for q in PERCENTILES if q != 50 and reportable(n, q)]
    return ok[-1] if ok else None


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def busy_rate(ops: list[tuple[int, float, float]], start: float) -> float:
    """Operations per second while every connection is busy.

    ``ops`` are (connection, send, reply) times of completed operations.
    The window runs from ``start`` to the earliest last reply over the
    connections; an operation counts for the share of its duration that
    lies in the window. So neither the whole-deck tail, where fewer
    connections are left running, nor an operation that ends just past
    a deadline makes the rate jump."""
    last: dict[int, float] = {}
    for c, _, t1 in ops:
        last[c] = max(last.get(c, t1), t1)
    if not last:
        return 0.0
    end = min(last.values())
    if end <= start:
        return 0.0
    done = sum((min(t1, end) - max(t0, start)) / (t1 - t0) if t1 > t0 else float(t1 <= end)
               for _, t0, t1 in ops if t0 < end)
    return done / (end - start)


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
