#!/usr/bin/env python3
"""graft's benchmark: one closed-loop workload per run, every result checked.

    python3 graftbench/run.py --workload lake_ingest --seed 1 --seconds 8 --trace 0

Builds the engine and the JVM harness from source (sbt, once per source
change), generates the workload's inputs from the seed, runs the
harness, checks every op's result, prints each metric by name and unit,
and ends with one JSON line: {"correct", "attempted", "failed",
"metrics"}. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer metrics of a traced run. The full record of the run, with its
provenance, is written under graftbench/out/. Exits non-zero if any op
failed or a check did not hold. `--wrong-op i` replaces op i's result
with a wrong one before its check, to show the check refuses it.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
JVM = os.path.join(HERE, "jvm")
sys.path.insert(0, HERE)

from gb import gen, metrics, summarise  # noqa: E402

WORKLOADS = ("lake_ingest", "dedup_corpus", "catalog_rest")
SETUPS = 3             # set-ups per run; setup_s is their median
RUN_LIMIT_S = 175      # a run (build excluded) must finish within this
DEDUP_SHARDS = 4
DEDUP_DOCS = 500       # documents per shard
DEDUP_VECS = 2000      # 64-dim vectors per shard
HEAP = "1g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of everything the harness build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(JVM, "src")]
    files = [os.path.join(JVM, "build.sbt"), os.path.join(JVM, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build(out_dir):
    """Compile the engine plus the harness unless the last build saw these sources."""
    digest = source_hash()
    stamp = os.path.join(JVM, "target", "graftbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return digest, 0.0
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    with open(os.path.join(out_dir, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "Compile / copyResources"],
                            cwd=JVM, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}); see {os.path.join(out_dir, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(digest)
    return digest, time.time() - t0


def git_commit():
    try:
        r = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def make_inputs(workload, seed, work):
    """Generate the workload's inputs once per set-up, each into a fresh
    directory. Returns (dir of the last, seconds per set-up, sizes)."""
    secs, sizes, d = [], {}, None
    if workload != "dedup_corpus":
        return "", [], sizes
    for rep in range(SETUPS):
        d = os.path.join(work, f"inputs{rep}")
        t0 = time.time()
        rows, lines = {}, []
        for k in range(DEDUP_SHARDS):
            truth = gen.dedup_shard(os.path.join(d, f"shard_{k}"), seed * 100 + k,
                                    DEDUP_DOCS, DEDUP_VECS)
            for kind in ("exact", "near_text", "near_vec"):
                lines += [f"shard_{k}\t{kind}\t{a}\t{b}" for a, b in truth[kind]]
            lines.append(f"shard_{k}\trows\t{truth['rows']['documents']}"
                         f"\t{truth['rows']['embeddings']}")
            for t, n in truth["rows"].items():
                rows[t] = rows.get(t, 0) + n
        with open(os.path.join(d, "truth.tsv"), "w") as f:
            f.write("\n".join(lines) + "\n")
        # a quarter-size shard for the warm-up each set-up runs
        gen.dedup_shard(os.path.join(d, "warmup_shard"), seed * 100 + 99,
                        DEDUP_DOCS // 4, DEDUP_VECS // 4)
        secs.append(time.time() - t0)
        sizes = {"rows": rows, "bytes": gen.dir_bytes(d)}
    return d, secs, sizes


def run_jvm(args, work, inputs, gen_secs, out_json):
    cp = os.pathsep.join([os.path.join(JVM, "target", "scala-2.13", "classes"),
                          os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
             "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    nproc = len(os.sched_getaffinity(0))
    cmd = ["java", *flags, "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--nproc", str(nproc), "--setups", str(SETUPS),
           "--inputs", inputs, "--work", work, "--out", out_json,
           "--gen-s", ",".join(f"{s:.6f}" for s in gen_secs),
           "--wrong-op", str(args.wrong_op)]
    budget = RUN_LIMIT_S - (time.time() - T_START)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    return rc, nproc, flags


def tail_of(path, n=40):
    try:
        with open(path) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--wrong-op", type=int, default=-1,
                    help="self-test: give this op's check a wrong result")
    args = ap.parse_args()

    bench_json = os.path.join(REPO, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to the benchmark")
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME is not set; the harness runs against $SPARK_HOME/jars")
    with open(bench_json) as f:
        spec = json.load(f)

    out_dir = os.path.join(HERE, "out", args.workload)
    os.makedirs(out_dir, exist_ok=True)
    digest, build_s = ensure_build(out_dir)
    global T_START
    T_START = time.time()  # the run limit excludes a build

    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs, gen_secs, sizes = make_inputs(args.workload, args.seed, work)
        out_json = os.path.join(work, "result.json")
        rc, nproc, flags = run_jvm(args, work, inputs, gen_secs, out_json)
        if rc != 0 or not os.path.exists(out_json):
            fail(f"harness exited with {rc}:\n{tail_of(os.path.join(work, 'jvm.log'))}", 1)
        with open(out_json) as f:
            run = json.load(f)

        problems = []
        info = run.get("info", {})
        if "finish_error" in info:
            problems.append(f"finish: {info['finish_error']}")
        measured_ops, _, needed = metrics.measured(run)
        if len(measured_ops) < needed:
            problems.append(f"short run: {len(measured_ops)} of the {needed} ops "
                            f"of the measured whole cycles ran")
        if args.workload == "lake_ingest" and not info.get("live_rows_match_model"):
            problems.append("live row count differs from the model")
        if args.workload == "catalog_rest" and info.get("conflict_ratio") != 1.0:
            problems.append("a stale replay was not refused")

        ops = run["ops"]
        attempted, failed = len(ops), sum(1 for o in ops if not o["ok"])
        for o in ops:
            if not o["ok"]:
                problems.append(f"op {o['i']} {o['name']}: {o['err']}")
        correct = failed == 0 and not problems and attempted > 0

        e2e, tail_detail = metrics.end_to_end(run)
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "correct": correct, "attempted": attempted, "failed": failed,
            "problems": problems[:20],
            "provenance": {**run["provenance"], "nproc": nproc, "jvm_flags": flags,
                           "git_commit": git_commit(), "source_sha256": digest,
                           "build_s": build_s, "setups": SETUPS},
            "inputs": sizes or {k: info[k] for k in ("input_rows", "input_bytes") if k in info},
            "setup_s_each": run["setup_s"],
            "first_op_after_jvm_start_s": run["first_op_after_jvm_start_s"],
            "tail": tail_detail, "info": info,
            "ops": [[o["name"], o["kind"], round((o["t1"] - o["t0"]) / 1e9, 6), o["ok"],
                     bool(o.get("traced"))] for o in ops],
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        }
        if args.trace:
            layer, detail = summarise.summarise(run)
            record["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
            record["trace_detail"] = detail
            wanted = [m["name"] for m in spec["per_layer"]]
            shown = layer
        else:
            wanted = [m["name"] for m in spec["end_to_end"]]
            shown = e2e
        stamp = time.strftime("%Y%m%dT%H%M%S")
        with open(os.path.join(out_dir, f"seed{args.seed}_trace{args.trace}_{stamp}.json"), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)

        for name, (v, unit) in shown.items():
            print(f"{args.workload}  {name:34s} {v:.6g} {unit}")
        for k, d in tail_detail.items():
            print(f"{args.workload}  {k}_tail at p{d['percentile']:.1f} of {d['ops']} ops, "
                  f"{d['ops_beyond']} beyond")
        if args.trace:
            print(f"{args.workload}  self time by layer (s, over {detail['traced_ops']} traced ops, "
                  f"wall {detail['traced_wall_s']:.3f}): " + ", ".join(
                      f"{k}={v:.3f}" for k, v in detail["self_time_total_s"].items()))
        for p in problems[:10]:
            print(f"{args.workload}  PROBLEM {p}")
        missing = [n for n in wanted if n not in shown]
        if missing:
            fail(f"metrics missing from this run: {missing}", 1)
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {n: {"value": shown[n][0], "unit": shown[n][1]}
                                      for n in wanted}}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
