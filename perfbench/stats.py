"""Latency statistics of the benchmark.

A timing is reported as its median and its tail: the highest percentile
that still has at least ten samples beyond it. A failed operation counts as
missing any latency limit, so it enters the percentiles as +inf.
"""
import math
import statistics

TAIL_CANDIDATES = (99.9, 99, 95, 90, 75, 50)
MIN_BEYOND = 10


def rank(n, pct):
    """1-based nearest-rank index of the pct-th percentile of n samples."""
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def percentile(values, pct):
    s = sorted(values)
    return s[rank(len(s), pct) - 1]


def tail_pct(n):
    """Highest candidate percentile with at least MIN_BEYOND of n samples
    strictly beyond its rank, or None when n is too small for any."""
    for p in TAIL_CANDIDATES:
        if n - rank(n, p) >= MIN_BEYOND:
            return p
    return None


def latencies(ops):
    return [o["ms"] if o["ok"] else math.inf for o in ops]


def summary(ops):
    """(median, tail percentile, tail value, n) of the operations' latencies."""
    lat = latencies(ops)
    if not lat:
        return None, None, None, 0
    p = tail_pct(len(lat))
    return statistics.median(lat), p, (percentile(lat, p) if p else None), len(lat)


def service_rate(ops, mix=None):
    """Successful operations per second of a closed loop whose server runs
    one operation at a time. While clients wait the server is never idle, so
    the interval from one completion to the next is the service time of the
    operation completing at its end. The median interval per kind of
    operation, weighted by the kind's share in `mix` (kind -> share; all
    kinds as one when None), is the time of an average operation of the
    mix; its inverse, times the share that succeeded, is the rate. Medians
    keep a stall of one operation from moving the result, and the weights
    keep it from depending on which kinds happen to fall in a short window.
    Kinds of `mix` not seen are left out of the average."""
    ops = sorted(ops, key=lambda o: o["end_s"])
    groups = {}
    for a, b in zip(ops, ops[1:]):
        groups.setdefault(b["kind"] if mix else None, []).append(b["end_s"] - a["end_s"])
    weights = {k: (mix[k] if mix else 1.0) for k in groups if not mix or k in mix}
    if not weights:
        return 0.0
    mean_s = sum(w * statistics.median(groups[k]) for k, w in weights.items()) / sum(weights.values())
    return sum(o["ok"] for o in ops) / len(ops) / mean_s if mean_s > 0 else 0.0


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0
