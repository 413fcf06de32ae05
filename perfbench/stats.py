"""Statistics helpers for the benchmark. Every helper fails closed: empty
or malformed input raises ValueError instead of returning a plausible
number."""
import math
import os
import statistics


def _finite(values, what):
    vals = list(values)
    if not vals:
        raise ValueError(f"{what}: no values")
    for v in vals:
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"{what}: not a finite number: {v!r}")
    return vals


def median(values):
    return statistics.median(_finite(values, "median"))


def tail_percentile(values, beyond=10):
    """Highest whole percentile with at least `beyond` samples above it,
    as (percentile, value) by nearest rank. Raises when there are too
    few samples for any percentile to have `beyond` samples above it."""
    vals = sorted(_finite(values, "tail_percentile"))
    n = len(vals)
    pct = math.floor(100 * (n - beyond) / n)
    if pct < 1:
        raise ValueError(f"tail_percentile: {n} samples leave none with {beyond} beyond")
    rank = math.ceil(pct * n / 100)  # nearest rank, 1-based
    assert n - rank >= beyond
    return pct, vals[rank - 1]


def interval_union(intervals):
    """Total length covered by (start, end) intervals; overlapping parts
    count once (concurrent jobs are not double-counted)."""
    ivs = list(intervals)
    if not ivs:
        raise ValueError("interval_union: no intervals")
    for iv in ivs:
        if len(iv) != 2:
            raise ValueError(f"interval_union: not a (start, end) pair: {iv!r}")
        _finite(iv, "interval_union")
        if iv[1] < iv[0]:
            raise ValueError(f"interval_union: end before start: {iv!r}")
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(ivs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s)


def quartile_spread(values):
    """(Q3 - Q1) / median, with quartiles from statistics.quantiles(n=4)."""
    vals = _finite(values, "quartile_spread")
    if len(vals) < 2:
        raise ValueError("quartile_spread: needs at least two values")
    mid = statistics.median(vals)
    if mid <= 0:
        raise ValueError(f"quartile_spread: median {mid} is not positive")
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return (q3 - q1) / mid


def read_cpu_ticks(path="/proc/stat"):
    """(total, iowait, steal) jiffies of the aggregate cpu line."""
    with open(path) as f:
        fields = f.readline().split()
    if not fields or fields[0] != "cpu" or len(fields) < 9:
        raise ValueError(f"{path}: unexpected first line {fields!r}")
    ticks = [int(x) for x in fields[1:]]
    return sum(ticks[:8]), ticks[4], ticks[7]


def box_probe(before=None):
    """nproc, 1-minute loadavg and, given an earlier probe, the share of
    CPU time lost to steal and iowait since then."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    total, iowait, steal = read_cpu_ticks()
    probe = {"nproc": os.cpu_count(), "loadavg_1m": load1,
             "_ticks": (total, iowait, steal)}
    if before is not None:
        dt = total - before["_ticks"][0]
        if dt <= 0:
            raise ValueError("box_probe: cpu ticks did not advance")
        probe["steal_frac"] = (steal - before["_ticks"][2]) / dt
        probe["iowait_frac"] = (iowait - before["_ticks"][1]) / dt
    return probe
