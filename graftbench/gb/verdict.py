"""The comparison verdict for one metric on one workload.

A change improves a metric only if it wins at least nine tenths of the
pairs (ties count for neither) and the medians differ by more than the
parent's inter-quartile distance. It is worse if its median is worse
than the parent's by more than the metric's bound. When the parent's own
spread exceeds the bound the result is unresolved, unless every change
run beats (or loses to) every parent run.
"""
from .metrics import quartiles


def pair_wins(parent, change, better):
    """(change wins, parent wins, ties) over runs paired in order."""
    sign = -1 if better == "lower" else 1
    w = l = t = 0
    for p, c in zip(parent, change):
        d = sign * (c - p)
        if d > 0:
            w += 1
        elif d < 0:
            l += 1
        else:
            t += 1
    return w, l, t


def verdict(parent, change, better, bound):
    """improved | unchanged | worse | unresolved, plus the figures behind it."""
    sign = -1 if better == "lower" else 1
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    wins, losses, ties = pair_wins(parent, change, better)
    pairs = wins + losses + ties
    gain = sign * (cm - pm)                 # > 0: the change's median is better
    iqr = p3 - p1
    spread = iqr / abs(pm) if pm else float("inf")
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    all_worse = all(sign * (c - p) < 0 for c in change for p in parent)
    if pairs and wins >= 0.9 * pairs and gain > iqr and (spread <= bound or all_better):
        v = "improved"
    elif all_worse and -gain > bound * abs(pm):
        v = "worse"
    elif spread > bound:
        v = "unresolved"
    elif -gain > bound * abs(pm):
        v = "worse"
    else:
        v = "unchanged"
    return v, {"parent": (p1, pm, p3), "change": (c1, cm, c3),
               "wins": wins, "losses": losses, "ties": ties,
               "parent_spread": spread, "bound": bound}
