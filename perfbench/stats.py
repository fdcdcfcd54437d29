"""Summary statistics and span arithmetic, kept free of Spark so the
self-tests can pin them."""

from __future__ import annotations

import math
import statistics

# candidate upper percentiles, highest first
UPPER_PERCENTILES = (99.9, 99.0, 95.0, 90.0)
MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    # rounded first, so 99.9 % of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def nearest_rank(sorted_vals: list[float], p: float) -> float:
    """The p-th percentile by the nearest-rank rule."""
    return sorted_vals[_rank(len(sorted_vals), p) - 1]


def beyond(n: int, p: float) -> int:
    """Samples above the nearest-rank p-th percentile of n samples."""
    return n - _rank(n, p)


def supported_percentile(n: int) -> float | None:
    """The highest upper percentile with at least MIN_BEYOND samples
    beyond it, or None when the sample is too small for any."""
    for p in UPPER_PERCENTILES:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def summarize(samples: list[float]) -> dict:
    """Median, the highest supported upper percentile, and the count."""
    out: dict = {"n": len(samples)}
    if not samples:
        return out
    s = sorted(samples)
    out["p50"] = statistics.median(s)
    p = supported_percentile(len(s))
    if p is not None:
        out["upper_pct"] = p
        out["upper"] = nearest_rank(s, p)
    return out


def entry_p50(latencies: dict[str, list[float]]) -> float:
    """The median op latency of a workload whose entries differ in cost:
    the geometric mean over entries of each entry's median latency.
    Every op counts, and the value does not depend on which entry
    happens to sit in the middle of a small sample."""
    if not latencies:
        return 0.0
    meds = [statistics.median(v) for v in latencies.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def self_times(spans: list[dict]) -> dict[int, float]:
    """{span id: self time} for spans with id/parent/start/end keys."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.get("parent") is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {sp["id"]: self_time(sp["start"], sp["end"], kids.get(sp["id"], [])) for sp in spans}
