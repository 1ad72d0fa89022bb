"""Metric math shared by run.py and its self-tests.

Percentiles use the nearest-rank definition: the p-th percentile of n
samples is the ceil(p/100 * n)-th smallest. A percentile is reported only
when at least MIN_BEYOND samples lie above it, so a tail figure is never
one or two stray samples.
"""
import math
import statistics

MIN_BEYOND = 10


def percentile(values, p, beyond=MIN_BEYOND):
    """Nearest-rank p-th percentile; ValueError when fewer than `beyond`
    samples lie above it."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    if len(xs) - rank < beyond:
        raise ValueError(f"p{p} of {len(xs)} samples has {len(xs) - rank} "
                         f"beyond it, {beyond} needed")
    return xs[rank - 1]


def tail_mean(values, p, beyond=MIN_BEYOND):
    """Mean of the samples ranked above the nearest-rank p-th percentile
    (the slowest 100 - p percent); ValueError when fewer than `beyond`
    samples lie there. Averaging the whole tail, it does not jump with
    the gap between two neighbouring samples the way one order statistic
    does."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    if len(xs) - rank < beyond:
        raise ValueError(f"tail beyond p{p} of {len(xs)} samples has "
                         f"{len(xs) - rank}, {beyond} needed")
    return statistics.fmean(xs[rank:])


def failed_ratio(attempted, failed):
    """Failed over attempted operations; a run that attempted nothing
    counts as wholly failed."""
    return 1.0 if attempted <= 0 else failed / attempted


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its direct children (overlapping children count once).
    `spans` is a list of (id, parent, name, start, end); returns
    {id: self_time}."""
    kids = {}
    for sid, parent, _name, t0, t1 in spans:
        kids.setdefault(parent, []).append((t0, t1))
    out = {}
    for sid, _parent, _name, t0, t1 in spans:
        covered, cur0, cur1 = 0.0, None, None
        for c0, c1 in sorted(kids.get(sid, [])):
            c0, c1 = max(c0, t0), min(c1, t1)
            if c1 <= c0:
                continue
            if cur1 is None or c0 > cur1:
                if cur1 is not None:
                    covered += cur1 - cur0
                cur0, cur1 = c0, c1
            else:
                cur1 = max(cur1, c1)
        if cur1 is not None:
            covered += cur1 - cur0
        out[sid] = (t1 - t0) - covered
    return out


def self_time_by_name(spans):
    """Median self time per span name."""
    st = self_times(spans)
    by = {}
    for sid, _parent, name, _t0, _t1 in spans:
        by.setdefault(name, []).append(st[sid])
    return {k: statistics.median(v) for k, v in by.items()}


def median(values):
    return statistics.median(values)
