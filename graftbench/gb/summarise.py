"""Per-layer summariser: turns a traced run's spans and listener records
into the per-layer metrics, self time by layer and the tracing overhead.

Only ops run while tracing was on contribute. Each Spark job belongs to
the op whose job group it carries (`op-<i>`); jobs started on other
threads (the REST server's) and query executions are matched to the op
by time. Inside an op, every job and Catalyst phase hangs under the
innermost harness span that contains its midpoint.
"""
import statistics

NS = 1e9

# per-layer metric name -> unit, in report order
PER_LAYER = [
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.queries_per_op", "count"),
    ("exec.jobs_per_op", "count"), ("exec.tasks_per_op", "count"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.busy_ratio", "ratio"),
    ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.task_skew", "ratio"),
    ("exec.input_mb", "MB"), ("exec.output_mb", "MB"),
    ("driver.gap_s", "s"), ("jvm.gc_s_per_op", "s"),
    ("lake.append_s", "s"), ("lake.upsert_s", "s"), ("lake.maintain_s", "s"),
    ("lake.bytes_rewritten_mb", "MB"), ("lake.read_plan_s", "s"),
    ("lake.read_exec_s", "s"), ("lake.files_scanned_ratio", "ratio"),
    ("lake.data_files_live", "count"), ("lake.delete_files_live", "count"),
    ("lake.manifest_kb_per_commit", "KB"),
    ("dedup.exact_s", "s"), ("dedup.minhash_s", "s"), ("dedup.embed_1nn_s", "s"),
    ("ann.embed_ann_s", "s"), ("dedup.embed_1nn_share", "ratio"),
    ("dedup.cosine_evals_per_vector", "count"),
    ("dedup.minhash_candidates_per_doc", "count"),
    ("dedup.minhash_verified_ratio", "ratio"), ("ann.candidates_per_vector", "count"),
    ("endpoint.load_table_s", "s"), ("endpoint.list_s", "s"),
    ("endpoint.commit_s", "s"), ("endpoint.load_table_kb", "KB"),
    ("endpoint.conflict_ratio", "ratio"), ("trace.overhead_ratio", "ratio"),
]
LAYERS = ["bench", "sql", "lake", "dedup", "ann", "endpoint", "catalyst", "exec"]
PER_LAYER += [(f"self.{layer}_s", "s") for layer in LAYERS]

# harness span name -> per-layer timing metric
SPAN_METRICS = {
    "lake.commitPartitionedByDay": "lake.append_s",
    "lake.upsertEq": "lake.upsert_s",
    "lake.compactDeletes": "lake.maintain_s",
    "lake.compactSmallFiles": "lake.maintain_s",
    "lake.expire": "lake.maintain_s",
    "lake.read_plan": "lake.read_plan_s",
    "lake.read_exec": "lake.read_exec_s",
    "dedup.exact": "dedup.exact_s",
    "dedup.minhashLsh": "dedup.minhash_s",
    "dedup.embedding": "dedup.embed_1nn_s",
    "ann.embeddingAnn": "ann.embed_ann_s",
    "endpoint.GET loadTable": "endpoint.load_table_s",
    "endpoint.GET listTables": "endpoint.list_s",
}


# ---- interval arithmetic --------------------------------------------------

def union(intervals):
    """Merge (start, end) intervals into disjoint sorted ones."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(x) for x in out]


def length(intervals):
    return sum(b - a for a, b in union(intervals))


def clip(iv, lo, hi):
    return (max(iv[0], lo), min(iv[1], hi))


def minus(intervals, cut):
    """Parts of `intervals` not covered by `cut`."""
    out = []
    cut = union(cut)
    for a, b in union(intervals):
        pos = a
        for c, d in cut:
            if d <= pos or c >= b:
                continue
            if c > pos:
                out.append((pos, c))
            pos = max(pos, d)
        if pos < b:
            out.append((pos, b))
    return out


def self_times(spans, leaves):
    """Self time by layer for one op.

    `spans`: harness spans as dicts {id, parent, name, t0, t1}, one root
    (parent -1). `leaves`: (layer, t0, t1) records (Spark jobs as "exec",
    Catalyst phases as "catalyst"). A leaf hangs under the innermost span
    containing its midpoint and is clipped to it; where a job and a phase
    overlap the job wins. A span's self time is its duration minus what
    its child spans and leaves cover. The returned times sum to the root
    span's duration.
    """
    by_id = {s["id"]: s for s in spans}
    kids = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in kids:
            kids[s["parent"]].append(s)
    depth = {}

    def d(s):
        if s["id"] not in depth:
            p = by_id.get(s["parent"])
            depth[s["id"]] = 0 if p is None else d(p) + 1
        return depth[s["id"]]

    hung = {s["id"]: [] for s in spans}
    for layer, a, b in leaves:
        mid = (a + b) / 2
        home = [s for s in spans if s["t0"] <= mid <= s["t1"]]
        if home:
            s = max(home, key=d)
            hung[s["id"]].append((layer, clip((a, b), s["t0"], s["t1"])))
    out = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        layer = "bench" if layer == "op" else layer
        child = [(c["t0"], c["t1"]) for c in kids[s["id"]]]
        jobs = minus([iv for lay, iv in hung[s["id"]] if lay == "exec"], child)
        phases = minus(minus([iv for lay, iv in hung[s["id"]] if lay == "catalyst"], child), jobs)
        covered = length(child + jobs + phases)
        out["exec"] = out.get("exec", 0) + length(jobs)
        out["catalyst"] = out.get("catalyst", 0) + length(phases)
        out[layer] = out.get(layer, 0) + (s["t1"] - s["t0"]) - covered
    return out


# ---- the summary ------------------------------------------------------------

def rates(ops):
    """(untraced, traced) ops/s over the same op mix: each op name present
    on both sides is weighted by its count on both sides together, and
    each side's time per op of that name is its mean (check time included)."""
    by = {}
    for o in ops:
        if o["ok"]:
            by.setdefault(o["name"], ([], []))[bool(o.get("traced"))].append((o["t2"] - o["t0"]) / NS)
    both = {n: v for n, v in by.items() if v[0] and v[1]}
    n = sum(len(u) + len(t) for u, t in both.values())
    t_un = sum((len(u) + len(t)) * statistics.fmean(u) for u, t in both.values())
    t_tr = sum((len(u) + len(t)) * statistics.fmean(t) for u, t in both.values())
    return (n / t_un if t_un else 0.0), (n / t_tr if t_tr else 0.0)


def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def summarise(run):
    """Per-layer metrics of a traced run: ({name: (value, unit)}, detail)."""
    tr = run["tracing"]
    nproc = run["nproc"]
    ms0 = run["epoch_ms0"]

    def ns(ms):
        return (ms - ms0) * 1e6

    ops = [o for o in run["ops"] if o.get("traced") and o["ok"]]
    by_op = {o["i"]: o for o in ops}
    spans = {}
    for op, sid, parent, name, t0, t1 in tr["spans"]:
        spans.setdefault(op, []).append({"id": sid, "parent": parent, "name": name, "t0": t0, "t1": t1})

    def owner(group, t0, t1):
        if group.startswith("op-") and int(group[3:]) in by_op:
            return int(group[3:])
        mid = (t0 + t1) / 2
        for o in ops:
            if o["t0"] <= mid <= o["t1"]:
                return o["i"]
        return None

    jobs, stages_of_job = {}, {}
    for st in tr["stages"]:
        stages_of_job.setdefault(st["job"], []).append(st)
    for j in tr["jobs"]:
        t0, t1 = ns(j["t0_ms"]), ns(j["t1_ms"])
        i = owner(j["group"], t0, t1)
        if i is not None:
            jobs.setdefault(i, []).append((t0, t1, j["job"]))
    queries = {}
    for q in tr["queries"]:
        ph = {k: (ns(a), ns(b)) for k, (a, b) in q["phases"].items()}
        if not ph:
            continue
        end = max(b for _, b in ph.values())
        i = owner("", end, end)
        if i is not None:
            queries.setdefault(i, []).append(ph)

    per = {name: [] for name, _ in PER_LAYER}
    layer_self = {layer: [] for layer in LAYERS}
    worst_gap = 0.0
    for o in ops:
        i = o["i"]
        wall = (o["t1"] - o["t0"]) / NS
        js = jobs.get(i, [])
        qs = queries.get(i, [])
        sts = [st for _, _, jid in js for st in stages_of_job.get(jid, [])]
        for phase in ("analysis", "optimization", "planning"):
            per[f"catalyst.{phase}_s"].append(
                sum(q[phase][1] - q[phase][0] for q in qs if phase in q) / NS)
        per["catalyst.queries_per_op"].append(len(qs))
        per["exec.jobs_per_op"].append(len(js))
        per["exec.tasks_per_op"].append(sum(st["tasks"] for st in sts))
        run_s = sum(st["run_ms"] for st in sts) / 1e3
        per["exec.run_s"].append(run_s)
        per["exec.cpu_s"].append(sum(st["cpu_ns"] for st in sts) / NS)
        per["exec.busy_ratio"].append(run_s / (wall * nproc) if wall > 0 else 0.0)
        for key, metric in (("shuffle_read_b", "exec.shuffle_read_mb"),
                            ("shuffle_write_b", "exec.shuffle_write_mb"),
                            ("spill_b", "exec.spill_mb"), ("input_b", "exec.input_mb"),
                            ("output_b", "exec.output_mb")):
            per[metric].append(sum(st[key] for st in sts) / 1e6)
        skews = [st["task_max_ms"] / st["task_med_ms"] for st in sts
                 if st["tasks"] >= 2 and st["task_med_ms"] > 0]
        if skews:
            per["exec.task_skew"].append(max(skews))
        job_iv = [clip((a, b), o["t0"], o["t1"]) for a, b, _ in js]
        per["driver.gap_s"].append(wall - length(job_iv) / NS)
        per["jvm.gc_s_per_op"].append(o["gc_ms"] / 1e3)

        sp = spans.get(i, [])
        sums = {}
        for s in sp:
            metric = SPAN_METRICS.get(s["name"])
            if s["name"] == "endpoint.POST updateTable" and o["name"] == "updateTable":
                metric = "endpoint.commit_s"
            if metric:
                sums[metric] = sums.get(metric, 0.0) + (s["t1"] - s["t0"]) / NS
        for metric, v in sums.items():
            per[metric].append(v)
        if "dedup.embed_1nn_s" in sums:
            per["dedup.embed_1nn_share"].append(sums["dedup.embed_1nn_s"] / wall)
        a = o.get("attrs", {})
        if "files_scanned" in a and a.get("files_live"):
            per["lake.files_scanned_ratio"].append(a["files_scanned"] / a["files_live"])
        if "files_live" in a:
            per["lake.data_files_live"].append(a["files_live"])
            per["lake.delete_files_live"].append(a["delete_files_live"])
        if o["kind"] == "maintain" and "bytes_written" in a:
            per["lake.bytes_rewritten_mb"].append(a["bytes_written"] / 1e6)
        if o["kind"] == "write" and "manifest_growth_b" in a:
            per["lake.manifest_kb_per_commit"].append(a["manifest_growth_b"] / 1024)
        for k, metric in (("cosine_evals_per_vector", "dedup.cosine_evals_per_vector"),
                          ("minhash_candidates_per_doc", "dedup.minhash_candidates_per_doc"),
                          ("minhash_verified_ratio", "dedup.minhash_verified_ratio"),
                          ("ann_candidates_per_vector", "ann.candidates_per_vector")):
            if k in a:
                per[metric].append(a[k])
        if "load_table_b" in a:
            per["endpoint.load_table_kb"].append(a["load_table_b"] / 1024)

        leaves = [("exec", a_, b_) for a_, b_, _ in js]
        leaves += [("catalyst", a_, b_) for q in qs for a_, b_ in q.values()]
        st_ = self_times(sp, leaves) if sp else {}
        for layer in LAYERS:
            layer_self[layer].append(st_.get(layer, 0.0) / NS)
        worst_gap = max(worst_gap, abs(sum(st_.values()) / NS - wall))

    metrics = {}
    for name, unit in PER_LAYER:
        if name == "jvm.gc_s_per_op":
            v = statistics.fmean(per[name]) if per[name] else 0.0
        elif name.startswith("self."):
            xs = layer_self[name[5:-2]]
            v = statistics.fmean(xs) if xs else 0.0
        else:
            v = _median(per[name])
        metrics[name] = (v, unit)
    info = run.get("info", {})
    metrics["endpoint.conflict_ratio"] = (
        info.get("conflict_ratio", 0.0) if "stale_sent" in info else 0.0, "ratio")

    untraced, traced = rates(run["ops"])
    if untraced and traced:  # otherwise it is missing, and run.py fails the run
        metrics["trace.overhead_ratio"] = (untraced / traced, "ratio")
    else:
        del metrics["trace.overhead_ratio"]
    wall = sum((o["t1"] - o["t0"]) / NS for o in ops)
    detail = {
        "traced_ops": len(ops),
        "untraced_ops_per_s": untraced, "traced_ops_per_s": traced,
        "self_time_total_s": {layer: sum(layer_self[layer]) for layer in LAYERS},
        "traced_wall_s": wall,
        "self_time_max_abs_error_s": worst_gap,
    }
    return metrics, detail
