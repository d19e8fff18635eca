"""Summary statistics and host readings shared by every workload."""

from __future__ import annotations

import math
import statistics

# Percentiles tried, highest first, by the reporting rule below.
_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def nearest_rank(values: list[float], q: float) -> float:
    """The q-th percentile by nearest rank: the ceil(q/100 * n)-th smallest."""
    s = sorted(values)
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return s[k - 1]


def beyond(n: int, q: float) -> int:
    """How many of n samples lie above the nearest-rank q-th percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def summarize(values: list[float]) -> dict:
    """Median, plus the highest percentile of the ladder that still has at
    least ten samples above it (None when even p75 has fewer), with the
    sample counts that qualify it."""
    if not values:
        raise ValueError("no samples")
    out = {"n": len(values), "p50": statistics.median(values),
           "q": None, "pq": None, "beyond": None}
    for q in _LADDER:
        b = beyond(len(values), q)
        if b >= 10:
            out.update(q=q, pq=nearest_rank(values, q), beyond=b)
            break
    return out


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM (peak resident set) of the Spark JVM, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")
