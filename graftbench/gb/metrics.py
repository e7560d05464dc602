"""End-to-end metric arithmetic over one run's op records."""
import statistics

TAIL_BEYOND = 10  # ops that must lie beyond the reported tail value


def tail(values, beyond=TAIL_BEYOND):
    """Latency at the highest percentile with at least `beyond` ops beyond it.

    Returns (value, percentile, ops_beyond). With n sorted values the
    answer is the (beyond+1)-th largest, which sits at percentile
    100*(n-beyond)/n; with `beyond` or fewer values there is no such
    percentile and the minimum is returned with every other value beyond it.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, None, 0
    k = max(0, n - beyond - 1)
    return xs[k], 100.0 * (k + 1) / n, n - (k + 1)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    xs = list(values)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def _lat(ops):
    return [(o["t1"] - o["t0"]) / 1e9 for o in ops]


def measured(run):
    """(ops, wall, needed): the untraced ops that latency and throughput
    cover, the loop seconds they took (check time excluded), and how many
    ops that should be. Every workload follows a fixed schedule of
    `cycle_ops` ops and is measured over its first `cycles_measured`
    whole cycles, so every run times the same mix of ops. The harness
    runs at least that many; a run with fewer is short, and its figures
    cover another mix, so run.py counts it as failed."""
    needed = run["cycle_ops"] * run["cycles_measured"]
    ops = [o for o in run["ops"] if not o.get("traced")][:needed]
    if not ops:
        return ops, 0.0, needed
    wall = (ops[-1]["t2"] - run["loop"]["t0"] - sum(o["t2"] - o["t1"] for o in ops)) / 1e9
    return ops, wall, needed


def end_to_end(run):
    """Every end-to-end metric the run's op types support, as {name: (value, unit)},
    plus the tail bookkeeping in `tail_detail`."""
    every = [o for o in run["ops"] if not o.get("traced")]
    ops, wall, _ = measured(run)
    ok = [o for o in ops if o["ok"]]
    loop = run["loop"]
    m, detail = {}, {}
    m["setup_s"] = (statistics.median(run["setup_s"]), "s")

    def lat(prefix, sel):
        xs = _lat(sel)
        if len(xs) == 0:
            return
        m[f"{prefix}_p50_s"] = (statistics.median(xs), "s")
        v, pct, beyond = tail(xs)
        m[f"{prefix}_tail_s"] = (v, "s")
        detail[prefix] = {"percentile": pct, "ops_beyond": beyond, "ops": len(xs)}

    lat("op", ok)
    lat("read", [o for o in ok if o["kind"] == "read"])
    lat("write", [o for o in ok if o["kind"] in ("write", "maintain")])
    if wall > 0:
        m["ops_per_s"] = (len(ok) / wall, "1/s")
        rows = sum(o["rows"] for o in ok)
        if rows:
            m["rows_per_s"] = (rows / wall, "rows/s")
        m["cpu_s_per_op"] = (sum(o["cpu_ns"] for o in ops) / 1e9 / len(ops), "s")
    m["peak_rss_mb"] = (run["peak_rss_mb"], "MB")
    m["failed_ratio"] = (sum(not o["ok"] for o in every) / max(1, len(every)), "ratio")
    info = run.get("info", {})
    for k in ("write_amp", "space_amp", "ann_recall"):
        if k in info:
            m[k] = (info[k], "ratio")
    return m, detail
