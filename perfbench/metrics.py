"""Turn one raw run record (written by the Scala harness) into the
benchmark's metrics: the end-to-end set for untraced runs, the per-layer
set for traced runs, and the workload's own detail for the artifact."""

import statistics

import stats

MB = 1048576.0

# Packages a Spark job's call site is attributed to (stats.package_of) that
# start jobs in the workloads: the engine's `index` and `functions`
# modules, "entry" for the query builders in graft/ itself, and "bench" for
# the harness materialising a result. The lazily run work of a query is
# started by the harness, so it lands in "bench"; the per-kind metrics
# below split that time by collection and by query family.
MODULES = ["index", "functions", "entry", "bench"]

# knn_batch's collections, and oracle_queries' query families
COLLECTIONS = ["flat", "hnsw"]
FAMILIES = ["text", "dedup", "data", "pipeline", "events", "graph"]
PANEL_FAMILIES = FAMILIES + ["other"]

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "heap_mb": "MB",
    "answer_quality": "fraction",
}


def per_layer_units():
    units = {
        "spark.jobs_per_op": "count",
        "spark.stages_per_op": "count",
        "spark.tasks_per_op": "count",
        "spark.single_task_stage_share": "fraction",
        "spark.task_busy_ms_per_op": "ms",
        "spark.task_wait_ms_per_op": "ms",
        "spark.driver_only_ms_per_op": "ms",
        "spark.gc_ms_per_op": "ms",
        "spark.shuffle_mb_per_op": "MB",
        "spark.input_mb_per_op": "MB",
        "phase.build_ms_per_op": "ms",
        "phase.plan_ms_per_op": "ms",
        "phase.exec_ms_per_op": "ms",
        "phase.build_jobs_per_op": "count",
        "self_ms.build": "ms",
        "self_ms.exec": "ms",
        "self_ms.job": "ms",
        "self_ms.stage": "ms",
        "expr.calib_start_s": "s",
        "expr.calib_end_s": "s",
        "trace.overhead_pct": "%",
    }
    for m in MODULES:
        units[f"module.{m}.jobs_per_op"] = "count"
        units[f"module.{m}.busy_share"] = "fraction"
    for c in COLLECTIONS:
        units[f"api.search_many_ms.{c}"] = "ms"
        units[f"api.search_many_busy_ms.{c}"] = "ms"
    for f in PANEL_FAMILIES:
        units[f"oracle.{f}_ms"] = "ms"
        units[f"oracle.{f}_busy_ms"] = "ms"
    return units


def family(name):
    head = name.split("_", 1)[0]
    return head if head in FAMILIES else "other"


def window_ops(raw):
    return [o for o in raw["ops"] if o["window"]]


def kind_medians(ops, key=lambda o: o["end"] - o["start"]):
    """Median of `key` per call kind over the calls that succeeded, and
    the samples themselves."""
    by = {}
    for o in ops:
        if o["error"] is None:
            by.setdefault(o["kind"], []).append(key(o))
    return {k: stats.median(v) for k, v in by.items()}, by


def mix(weights, per_kind):
    """Mix-weighted mean of a per-kind statistic over the kinds measured."""
    ks = [k for k in weights if k in per_kind]
    total = sum(weights[k] for k in ks)
    return sum(weights[k] * per_kind[k] for k in ks) / total


def op_latency(raw, ops):
    """op_p50_ms: each call kind's median wall time, weighted by the
    workload's mix; the same for the process CPU time a call uses, all
    threads; and the latency tail per kind, where a kind has enough calls
    for one."""
    weights = raw["result"]["weights"]
    med, by = kind_medians(ops)
    cpu, _ = kind_medians(ops, key=lambda o: o["cpu_ms"])
    tails = {}
    for k, xs in by.items():
        t = stats.tail(xs)
        if t:
            tails[k] = {"ms": t[0], "percentile": t[1], "n": t[2]}
    return mix(weights, med), mix(weights, cpu), tails, med, by


def build_spans(raw, traced_ids):
    """Spans (id, parent, name, start, end, op): harness calls and their
    build/exec phases, the Spark jobs each call caused, and their stages."""
    spans = []
    phase_of = {}
    for o in raw["ops"]:
        if o["id"] not in traced_ids:
            continue
        sid = f"op{o['id']}"
        spans.append({"id": sid, "parent": None, "name": "op", "start": o["start"],
                      "end": o["end"], "op": o["id"]})
        for p in o["phases"]:
            pid = f"{sid}.{p['name']}"
            spans.append({"id": pid, "parent": sid, "name": p["name"],
                          "start": p["start"], "end": p["end"], "op": o["id"]})
            phase_of.setdefault(o["id"], []).append((p["start"], p["end"], pid))
    for j in raw["jobs"]:
        if j["op"] not in traced_ids:
            continue
        parent = f"op{j['op']}"
        for s, e, pid in phase_of.get(j["op"], []):
            if s <= j["start"] <= e:
                parent = pid
        spans.append({"id": f"job{j['id']}", "parent": parent, "name": "job",
                      "start": j["start"], "end": j["end"], "op": j["op"]})
    job_op = {j["id"]: j["op"] for j in raw["jobs"]}
    for s in raw["stages"]:
        op = job_op.get(s["job"], -1)
        if op not in traced_ids:
            continue
        spans.append({"id": f"stage{s['id']}.{s['attempt']}", "parent": f"job{s['job']}",
                      "name": "stage", "start": s["start"], "end": s["end"], "op": op})
    return spans


def plan_ms(raw, op):
    """Analysis, optimisation and planning time of the queries whose
    planning began inside the call."""
    total = 0.0
    for p in raw["plans"]:
        ph = p["phases"]
        if not ph:
            continue
        start = min(s for s, _ in ph.values())
        if op["start"] <= start <= op["end"]:
            total += sum(e - s for s, e in ph.values())
    return total


def layers(raw, index):
    """Per-layer metrics over the traced calls of the window."""
    ops = [o for o in window_ops(raw) if o["traced"] and o["error"] is None]
    n = len(ops)
    ids = {o["id"] for o in ops}
    jobs = [j for j in raw["jobs"] if j["op"] in ids]
    job_ids = {j["id"] for j in jobs}
    stages = [s for s in raw["stages"] if s["job"] in job_ids]
    busy = sum(s["run_ms"] for s in stages)
    out = {
        "spark.jobs_per_op": len(jobs) / n,
        "spark.stages_per_op": len(stages) / n,
        "spark.tasks_per_op": sum(s["tasks_done"] for s in stages) / n,
        "spark.single_task_stage_share":
            sum(1 for s in stages if s["tasks"] == 1) / max(1, len(stages)),
        "spark.task_busy_ms_per_op": busy / n,
        "spark.task_wait_ms_per_op": sum(s["sched_ms"] + s["queue_ms"] for s in stages) / n,
        "spark.gc_ms_per_op": sum(s["gc_ms"] for s in stages) / n,
        "spark.shuffle_mb_per_op": sum(s["shuffle_write"] for s in stages) / MB / n,
        "spark.input_mb_per_op": sum(s["input"] for s in stages) / MB / n,
    }
    driver_only = build = exec_ = plan = build_jobs = 0.0
    for o in ops:
        spans = [(j["start"], j["end"]) for j in jobs if j["op"] == o["id"]]
        driver_only += (o["end"] - o["start"]) - stats.covered(spans, o["start"], o["end"])
        plan += plan_ms(raw, o)
        for p in o["phases"]:
            if p["name"] == "build":
                build += p["end"] - p["start"]
                build_jobs += sum(1 for j in jobs if j["op"] == o["id"]
                                  and p["start"] <= j["start"] <= p["end"])
            elif p["name"] == "exec":
                exec_ += p["end"] - p["start"]
    out.update({
        "spark.driver_only_ms_per_op": driver_only / n,
        "phase.build_ms_per_op": build / n,
        "phase.plan_ms_per_op": plan / n,
        "phase.exec_ms_per_op": exec_ / n,
        "phase.build_jobs_per_op": build_jobs / n,
    })
    selfs = stats.self_times(build_spans(raw, ids))
    for name in ("build", "exec", "job", "stage"):
        out[f"self_ms.{name}"] = selfs.get(name, 0.0) / n
    stage_busy = {}
    for s in stages:
        stage_busy[s["job"]] = stage_busy.get(s["job"], 0) + s["run_ms"]
    mods = {m: [0, 0.0] for m in MODULES}
    for j in jobs:
        m = mods.setdefault(stats.package_of(j["site"], index), [0, 0.0])
        m[0] += 1
        m[1] += stage_busy.get(j["id"], 0)
    for name in MODULES:
        count, b = mods[name]
        out[f"module.{name}.jobs_per_op"] = count / n
        out[f"module.{name}.busy_share"] = b / busy if busy else 0.0
    out.update(kind_layers(raw, ops, jobs, stage_busy))
    env = raw["env"]
    out["expr.calib_start_s"] = env["calib_start_s"]
    out["expr.calib_end_s"] = env["calib_end_s"]
    out["trace.overhead_pct"] = overhead_pct(raw)
    return out


def kind_layers(raw, traced, jobs, stage_busy):
    """Median wall time and task busy time per call of each kind: by
    collection for knn_batch, summed by query family for oracle_queries.
    Kinds the workload does not run read 0."""
    med, _ = kind_medians([o for o in window_ops(raw) if o["error"] is None])
    kind_of = {o["id"]: o["kind"] for o in traced}
    busy, calls = {}, {}
    for o in traced:
        calls[o["kind"]] = calls.get(o["kind"], 0) + 1
    for j in jobs:
        kind = kind_of[j["op"]]
        busy[kind] = busy.get(kind, 0.0) + stage_busy.get(j["id"], 0)
    busy = {k: busy.get(k, 0.0) / c for k, c in calls.items()}
    out = {}
    for c in COLLECTIONS:
        out[f"api.search_many_ms.{c}"] = med.get(c, 0.0)
        out[f"api.search_many_busy_ms.{c}"] = busy.get(c, 0.0)
    for f in PANEL_FAMILIES:
        out[f"oracle.{f}_ms"] = 0.0
        out[f"oracle.{f}_busy_ms"] = 0.0
    if raw["workload"] == "oracle_queries":
        for k in med:
            out[f"oracle.{family(k)}_ms"] += med[k]
            out[f"oracle.{family(k)}_busy_ms"] += busy.get(k, 0.0)
    return out


def overhead_pct(raw):
    """Tracing overhead inside one traced run: calls of each kind alternate
    between traced and untraced, and the mix-weighted medians compare."""
    ops = [o for o in window_ops(raw) if o["error"] is None]
    on, _ = kind_medians([o for o in ops if o["traced"]])
    off, _ = kind_medians([o for o in ops if not o["traced"]])
    both = {k for k in on if k in off}
    w = {k: v for k, v in raw["result"]["weights"].items() if k in both}
    if not w:
        return 0.0
    return 100.0 * (mix(w, on) / mix(w, off) - 1.0)


def knn_checks(raw):
    """Every search call's output against the harness's exact top-k: flat
    results must equal it id for id, every result must hold k distinct ids.
    Returns (failures, mean recall@k per collection)."""
    res = raw["result"]
    k = res["k"]
    failures, recalls = [], {}
    for o in raw["ops"]:
        if o["kind"] not in res["truth"] or o["error"] is not None:
            continue
        truth = res["truth"][o["kind"]][o["info"]["batch"]]
        got = o["info"]["ids"]
        short = [i for i, ids in enumerate(got) if len(ids) != k or len(set(ids)) != k]
        if len(got) != len(truth) or short:
            failures.append(f"{o['kind']} call {o['id']}: queries {short[:5]} lack "
                            f"{k} distinct results")
        elif o["kind"] in res["exact_kinds"] and got != truth:
            diff = next(i for i, (g, t) in enumerate(zip(got, truth)) if g != t)
            failures.append(f"{o['kind']} call {o['id']}: query {diff} returned "
                            f"{got[diff]}, exact search gives {truth[diff]}")
        recalls.setdefault(o["kind"], []).append(stats.mean_recall(got, truth, k))
    return failures, {c: statistics.fmean(v) for c, v in recalls.items()}


def setup_steps(raw):
    """Set-up steps of the measured (last) build, by step name."""
    steps = [o for o in raw["ops"] if o["kind"].startswith("setup.")]
    last = {}
    for o in steps:
        last[o["kind"][len("setup."):]] = o
    return last


def knn_detail(raw, recall, med):
    res = raw["result"]
    nq = res["nq"]
    out = {
        "recall_at_10": recall,
        "batch_qps": {c: 1000.0 * nq / ms for c, ms in med.items()},
        "api.search_many_ms": med,
    }
    steps = setup_steps(raw)
    dims = res["dims"]
    for c in res["ann_kinds"]:
        st = steps[f"persist_{c}"]
        info = st["info"]
        out[f"store.{c}"] = {
            "bytes_written_mb": info["layout_bytes"] / MB,
            "files_at_rest": info["layout_files"],
            "disk_bytes_per_input_byte":
                stats.disk_per_input(info["layout_bytes"], info["rows"], dims),
            "build_rows_per_s": info["rows"] / ((st["end"] - st["start"]) / 1000.0),
        }
    return out


def oracle_detail(raw, med):
    """pass_s (the panel's per-query medians summed) and its split by
    query family."""
    fam = {}
    for name, ms in med.items():
        fam[family(name)] = fam.get(family(name), 0.0) + ms / 1000.0
    return {"pass_s": sum(med.values()) / 1000.0,
            "oracle_family_s": fam, "query_p50_ms": med}


def traced_detail(raw, index):
    """Per-kind jobs, tasks and build/plan/exec split, jobs per call site,
    set-up self times and the spans themselves, for the artifact."""
    ops = [o for o in window_ops(raw) if o["traced"] and o["error"] is None]
    ids = {o["id"] for o in ops}
    tasks = {}
    for s in raw["stages"]:
        tasks[s["job"]] = tasks.get(s["job"], 0) + s["tasks_done"]
    per_kind = {}
    for o in ops:
        jobs = [j for j in raw["jobs"] if j["op"] == o["id"]]
        phases = {p["name"]: p["end"] - p["start"] for p in o["phases"]}
        d = per_kind.setdefault(o["kind"], {"calls": 0, "jobs": 0, "tasks": 0,
                                            "build_ms": 0.0, "plan_ms": 0.0,
                                            "exec_ms": 0.0})
        d["calls"] += 1
        d["jobs"] += len(jobs)
        d["tasks"] += sum(tasks.get(j["id"], 0) for j in jobs)
        d["build_ms"] += phases.get("build", 0.0)
        d["exec_ms"] += phases.get("exec", 0.0)
        d["plan_ms"] += plan_ms(raw, o)
    for d in per_kind.values():
        for key in ("jobs", "tasks", "build_ms", "plan_ms", "exec_ms"):
            d[key] /= d["calls"]
    sites = {}
    for j in raw["jobs"]:
        if j["op"] in ids:
            sites[j["site"]] = sites.get(j["site"], 0) + 1
    spans = build_spans(raw, ids | {o["id"] for o in raw["ops"] if not o["window"]
                                    and o["traced"]})
    # self time per layer of each set-up step of the measured (last) build
    setup_selfs = {name: stats.self_times([s for s in spans if s["op"] == o["id"]])
                   for name, o in setup_steps(raw).items() if o["traced"]}
    return {"per_kind": per_kind, "job_sites": sites, "setup_self_ms": setup_selfs,
            "spans": spans}
