#!/usr/bin/env python3
"""Steadiness report: each end-to-end metric's run-to-run spread next to its bound.

    python3 graftbench/steady.py --runs 10                 # run, then report
    python3 graftbench/steady.py --from DIR                # report runs already made

Runs every workload in BENCHMARK.json `--runs` times (seeds 1..runs,
run_seconds from BENCHMARK.json, untraced), one run at a time, copies
each run's record into one directory (`--out`, by default a new
graftbench/out/steady-<time>), then
prints per workload and metric the quartiles of the run values, the
spread (inter-quartile distance over median, as
statistics.quantiles(values, n=4) gives the quartiles), the bound, and
whether the spread is within a third of the bound. Exits 1 if any
spread, setup_s's included, exceeds a third of its bound.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from gb import records  # noqa: E402
from gb.metrics import quartiles, spread  # noqa: E402


def run_all(spec, n, out_dir):
    """Run every workload for seeds 1..n and copy each run's record into out_dir."""
    for wl in [w["name"] for w in spec["workloads"]]:
        os.makedirs(os.path.join(out_dir, wl), exist_ok=True)
        for seed in range(1, n + 1):
            t0 = time.time()
            before = set(glob.glob(os.path.join(HERE, "out", wl, "*.json")))
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], capture_output=True, text=True)
            new = sorted(set(glob.glob(os.path.join(HERE, "out", wl, "*.json"))) - before)
            print(f"# {wl} seed {seed}: exit {r.returncode} in {time.time() - t0:.1f} s",
                  file=sys.stderr)
            if r.returncode != 0:
                print(r.stdout[-2000:] + r.stderr[-2000:], file=sys.stderr)
            for f in new:
                shutil.copy(f, os.path.join(out_dir, wl))


def report(spec, runs):
    ok = True
    rows = []
    print(f"{'workload':14s} {'metric':14s} {'n':>3s} {'q1':>10s} {'median':>10s} {'q3':>10s}"
          f" {'spread':>7s} {'bound':>6s} {'bound/3':>7s}  steady")
    for wl in [w["name"] for w in spec["workloads"]]:
        rs = runs.get(wl, [])
        for m in spec["end_to_end"]:
            vs = records.values(rs, m["name"])
            if len(vs) < 2:
                print(f"{wl:14s} {m['name']:14s} {len(vs):3d}  (too few runs)")
                ok = False
                continue
            q1, med, q3 = quartiles(vs)
            sp = spread(vs)
            steady = sp < m["bound"] / 3
            ok &= steady
            rows.append({"workload": wl, "metric": m["name"], "n": len(vs), "q1": q1,
                         "median": med, "q3": q3, "spread": sp, "bound": m["bound"],
                         "steady": steady})
            print(f"{wl:14s} {m['name']:14s} {len(vs):3d} {q1:10.4g} {med:10.4g} {q3:10.4g}"
                  f" {sp:7.3f} {m['bound']:6.2f} {m['bound'] / 3:7.3f}  "
                  f"{'yes' if steady else 'NO'}")
    return ok, rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--from", dest="src", default="", help="report runs already made")
    ap.add_argument("--out", default="", help="where new runs and the report go")
    ap.add_argument("--json", default="", help="also write the report here")
    args = ap.parse_args()
    spec = records.spec()
    src = args.src
    if not src:
        src = args.out or os.path.join(HERE, "out", f"steady-{time.strftime('%Y%m%dT%H%M%S')}")
        run_all(spec, args.runs, src)
    ok, rows = report(spec, records.load(src))
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"runs_dir": os.path.relpath(src, HERE), "rows": rows}, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
