"""Pure helpers: percentiles, the tail rule, metric names and host counters."""

from __future__ import annotations

import math
import os
import re

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# A tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def gmean(values: list[float]) -> float:
    """Geometric mean: each value weighs the same whatever its scale."""
    if not values:
        raise ValueError("geometric mean of no samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def kind_p50(kinds: dict[str, list[float]]) -> float:
    """The geometric mean over op kinds of each kind's median latency.
    A pooled median of unlike ops lands in the gap between two kinds
    and jumps from one to the other as the host speeds up or slows."""
    return gmean([median(v) for v in kinds.values()])


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> float | None:
    """The highest percentile of n samples that still has ``beyond``
    samples above it, as a whole number in [50, 99.9]; None when n is
    too small for even the median to qualify."""
    if n < 2 * beyond:
        return None
    return min(math.floor(1000.0 * (n - beyond) / n) / 10.0, 99.9)


def tail(values: list[float]) -> tuple[float, float | None]:
    """(value, percentile) by the tail rule; with too few samples for
    the rule the maximum is reported and the percentile is None."""
    q = tail_percentile(len(values))
    if q is None:
        return max(values), None
    return percentile(values, q), q


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return [int(x) for x in fields[1:9]]


def host_usage(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and busy shares of all CPU time between two snapshots."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    idle = d[3] + d[4]
    return {
        "steal_ratio": d[7] / total,
        "cpu_util": (total - idle) / total,
    }


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))
