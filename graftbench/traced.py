#!/usr/bin/env python3
"""Traced runs of every workload, gathered into one file.

    python3 graftbench/traced.py --seed 1 --out graftbench/results/traced_runs.json

Runs each workload in BENCHMARK.json with `--trace 1` (run_seconds from
BENCHMARK.json), `--repeat` times with the same seed, and writes each
run's per-layer metrics, self time by layer, tracing overhead, tails,
provenance and input sizes. With two or more repeats it also records
whether the exact plan counts came out identical.
"""
import argparse
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from gb import records  # noqa: E402

EXACT = ["dedup.cosine_evals_per_vector", "dedup.minhash_candidates_per_doc",
         "ann.candidates_per_vector"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spec = records.spec()
    result = {"seed": args.seed, "run_seconds": spec["run_seconds"], "workloads": {}}
    for wl in [w["name"] for w in spec["workloads"]]:
        runs = []
        for _ in range(args.repeat):
            before = set(glob.glob(os.path.join(HERE, "out", wl, "*_trace1_*.json")))
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                                "--seed", str(args.seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "1"], capture_output=True, text=True)
            new = sorted(set(glob.glob(os.path.join(HERE, "out", wl, "*_trace1_*.json"))) - before)
            print(f"# {wl}: exit {r.returncode}", file=sys.stderr)
            if r.returncode != 0 or not new:
                print(r.stdout[-3000:] + r.stderr[-3000:], file=sys.stderr)
                return 1
            with open(new[-1]) as f:
                rec = json.load(f)
            rec.pop("ops", None)
            runs.append(rec)
        same = {m: len({json.dumps(r["per_layer"][m]["value"]) for r in runs}) == 1 for m in EXACT}
        same["ann_recall"] = len({json.dumps(r["end_to_end"].get("ann_recall")) for r in runs}) == 1
        result["workloads"][wl] = {"runs": runs, "exact_counts_repeat": same}
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
