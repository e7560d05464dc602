#!/usr/bin/env python3
"""Compare two sets of benchmark runs: parent against change.

    python3 graftbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds run records as run.py writes them (graftbench/out/
of a checkout, or a copy). For every workload and end-to-end metric in
BENCHMARK.json it prints each side's median and quartiles, the pair wins
(runs paired in seed order) and a verdict: improved, unchanged, worse or
unresolved. Exits 1 if any verdict is worse.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from gb import records  # noqa: E402
from gb.verdict import verdict  # noqa: E402


def fmt(q):
    return "/".join(f"{x:.4g}" for x in q)


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    parent, change = records.load(argv[1]), records.load(argv[2])
    spec = records.spec()
    worse = False
    print(f"{'workload':14s} {'metric':14s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s}"
          f" {'wins':>9s}  verdict")
    for wl in [w["name"] for w in spec["workloads"]]:
        p_runs, c_runs = parent.get(wl, []), change.get(wl, [])
        if not p_runs or not c_runs:
            print(f"{wl:14s} (no runs on {'parent' if not p_runs else 'change'} side)")
            continue
        for m in spec["end_to_end"]:
            pv, cv = records.values(p_runs, m["name"]), records.values(c_runs, m["name"])
            if not pv or not cv:
                continue
            v, d = verdict(pv, cv, m["better"], m["bound"])
            worse |= v == "worse"
            note = ""
            if v == "unresolved":
                note = f" (parent spread {d['parent_spread']:.3f} > bound {m['bound']})"
            print(f"{wl:14s} {m['name']:14s} {fmt(d['parent']):>30s} {fmt(d['change']):>30s}"
                  f" {d['wins']:>3d}-{d['losses']}-{d['ties']:<3d}  {v}{note}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
