"""Loading run records and the benchmark's metric spec."""
import glob
import json
import os

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(HERE)


def spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def load(path, trace=0):
    """{workload: [record, ...]} from every run record under `path`, in
    seed order. Records are the JSON files run.py writes under out/."""
    runs = {}
    for f in sorted(glob.glob(os.path.join(path, "**", "*.json"), recursive=True)):
        with open(f) as fh:
            try:
                r = json.load(fh)
            except ValueError:
                continue
        if isinstance(r, dict) and "workload" in r and r.get("trace") == trace:
            runs.setdefault(r["workload"], []).append(r)
    for rs in runs.values():
        rs.sort(key=lambda r: r["seed"])
    return runs


def values(records, metric):
    return [r["end_to_end"][metric]["value"] for r in records if metric in r.get("end_to_end", {})]
