#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload knn_batch --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the engine and the
harness from the checkout's sources (sbt, offline); later runs reuse that
build while the sources are unchanged. Each run starts one JVM with Spark
in local mode on every core, runs the workload, checks every output and
prints one JSON object as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end set, with --trace 1 the
per-layer set (see BENCHMARK.json and perfbench/README.md). Every run
also writes its own artifact under .bench_runs/.
"""

import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("knn_batch", "oracle_queries")
BUILD_DIR = ".bench_build"
RUNS_DIR = ".bench_runs"
CACHE_DIR = ".bench_cache"
DATA = os.path.join("perfbench", "data", "sf0.01")
# a run must end within 180 s; leave room for the checks after the JVM
JVM_LIMIT_S = 150
BUILD_LIMIT_S = 840
# a fixed heap size: a heap the collector resizes as it goes makes
# collection work differ from one run to the next
HEAP = ["-Xms2g", "-Xmx2g"]
SOURCES = ("build.sbt", ".jvmopts", "project", os.path.join("src", "main"),
           os.path.join("perfbench", "harness"))


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files(root):
    """Every source and build file the program is built from, skipping
    build output (target/ and sbt's nested project/project/)."""
    for top in SOURCES:
        path = os.path.join(root, top)
        if os.path.isfile(path):
            yield path
            continue
        for d, subdirs, names in os.walk(path):
            subdirs[:] = sorted(s for s in subdirs if s != "target" and not (
                s == "project" and os.path.basename(d) == "project"))
            for n in sorted(names):
                yield os.path.join(d, n)


def fingerprint(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_java_opts(root):
    """The root build's JVM options for sbt (its .jvmopts, such as the
    vector module the engine compiles against), as sbt -J flags: sbt reads
    .jvmopts only from the directory it starts in, and the harness build
    starts in perfbench/harness."""
    path = os.path.join(root, ".jvmopts")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return ["-J" + line.strip() for line in f
                if line.strip() and not line.lstrip().startswith("#")]


def build(root):
    """Compile the engine and the harness unless this exact source tree
    was built already; return the JVM launch line and the fingerprint."""
    out = os.path.join(root, BUILD_DIR)
    os.makedirs(out, exist_ok=True)
    fp = fingerprint(root)
    stamp = os.path.join(out, "stamp")
    launch = os.path.join(out, "launch.txt")
    if os.path.exists(launch) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == fp:
                return launch, fp
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    blog = os.path.join(out, "build.log")
    with open(blog, "w") as f:
        p = subprocess.Popen(
            ["sbt", *sbt_java_opts(root), "--batch", "-Dsbt.log.noformat=true",
             "compile", "writeLaunch"],
            cwd=os.path.join(root, "perfbench", "harness"), stdout=f,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, env=env,
            start_new_session=True)
        rc = wait(p, BUILD_LIMIT_S)
    if rc != 0:
        with open(blog) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(f"build failed (exit {rc}); log in {blog}", 1)
    shutil.copyfile(os.path.join(root, "perfbench", "harness", "target", "launch.txt"),
                    launch)
    with open(stamp, "w") as f:
        f.write(fp)
    return launch, fp


def wait(p, limit):
    """Wait for a child and its process group; kill both past the limit."""
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        return -1
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def run_jvm(root, launch, args, work, raw_path):
    with open(launch) as f:
        opts = [line.rstrip("\n") for line in f if line.strip()]
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", *opts, *HEAP, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--data", os.path.join(root, DATA), "--out", raw_path]
    jlog = os.path.join(work, "jvm.log")
    with open(jlog, "w") as f:
        p = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait(p, JVM_LIMIT_S)
    if rc != 0 or not os.path.exists(raw_path):
        with open(jlog, errors="replace") as f:
            lines = [l for l in f if "ERROR" in l or "Exception" in l or "at " in l][-30:]
        sys.stderr.write("".join(lines))
        die(f"harness JVM failed (exit {rc})", 1)
    with open(raw_path) as f:
        return json.load(f)


def git_sha(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def summarise(root, raw, args):
    """Check outputs and compute the metrics. Returns (failures, attempted,
    end_to_end, per_layer, detail)."""
    ops = [o for o in raw["ops"] if not o["kind"].startswith("setup.")]
    failures = [f"{o['kind']} call {o['id']}: {o['error']}" for o in raw["ops"]
                if o["error"] is not None]
    res = raw["result"]
    wops = metrics.window_ops(raw)
    p50, cpu, tails, med, by = metrics.op_latency(raw, wops)
    detail = {"kind_p50_ms": med, "kind_calls": {k: len(v) for k, v in by.items()},
              "kind_tail": tails, "op_cpu_ms": cpu,
              "cached_mb": res["memory"]["cached_mb"]}
    if args.workload == "knn_batch":
        bad, recall = metrics.knn_checks(raw)
        failures += bad
        quality = statistics.fmean(recall[k] for k in res["ann_kinds"])
        detail.update(metrics.knn_detail(raw, recall, med))
        attempted = len(ops)
    else:
        checked = oracle.check(res["oracle_sql"], res["outputs"], os.path.join(root, DATA),
                               os.path.join(root, CACHE_DIR, "oracle"))
        failures += [f"{n}: {why}" for n, why in checked.items() if why]
        quality = sum(1 for why in checked.values() if why is None) / len(checked)
        detail.update(metrics.oracle_detail(raw, med))
        attempted = len(ops) + len(checked)
    end_to_end = {
        "setup_s": statistics.median(res["setup_s"]),
        "op_p50_ms": p50,
        "heap_mb": res["memory"]["heap_mb"],
        "answer_quality": quality,
    }
    per_layer = None
    if args.trace:
        index = stats.source_index(root)
        per_layer = metrics.layers(raw, index)
        detail.update(metrics.traced_detail(raw, index))
    return failures, attempted, end_to_end, per_layer, detail


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("perfbench", "harness", "build.sbt"), DATA):
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} not found: run from the repository root")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt must be on PATH")

    # a TERM or INT unwinds through the finally blocks, which stop the JVM
    # and remove the run's scratch directory
    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, lambda *_: sys.exit(1))
    launch, fp = build(root)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}"
    work = os.path.join(root, RUNS_DIR, "tmp", name)
    os.makedirs(work)
    load_start = os.getloadavg()
    try:
        raw = run_jvm(root, launch, args, work, os.path.join(work, "raw.json"))
        failures, attempted, e2e, layers, detail = summarise(root, raw, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    chosen = layers if args.trace else e2e
    units = metrics.per_layer_units() if args.trace else metrics.END_TO_END
    out = {"correct": not failures, "attempted": attempted, "failed": len(failures),
           "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units}}
    artifact = {
        "args": vars(args), "result": out, "failures": failures,
        "end_to_end": e2e, "per_layer": layers, "detail": detail,
        "env": dict(raw["env"], nproc_host=os.cpu_count(), loadavg_start=load_start,
                    loadavg_end=os.getloadavg(), git_sha=git_sha(root),
                    source_sha256=fp),
        "raw": {k: v for k, v in raw.items() if k != "env"},
    }
    path = os.path.join(root, RUNS_DIR, name + ".json")
    with open(path, "w") as f:
        json.dump(artifact, f)
    for k in units:
        log(f"{k:40s} {chosen[k]:14.4f} {units[k]}")
    for f in failures[:20]:
        log(f"FAILED {f}")
    log(f"artifact {path}")
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
