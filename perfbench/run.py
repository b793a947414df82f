#!/usr/bin/env python3
"""Workload benchmark of the graft library: full-result timings per
workload, output checks, and a per-layer trace.

Run from the root of a checkout:

    python3 perfbench/run.py --workload paper_pipeline --seed 1 --seconds 39 --trace 0

It builds the library and the harness from source (once per source
state), generates the workload's tables from the seed (once per seed),
runs the harness in a fresh JVM (set-up, one cold pass, then warm
passes, their number set by ``--seconds``), checks every output off the
clock and prints one JSON line: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. ``--workload all`` runs every
workload in turn. Run artifacts (per-job breakdown, spans) are kept
under ``.perfbench/runs/``.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave nothing behind in the checkout's sources
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
# --seconds buys one warm pass per PASS_S, about what a corpus_dedup pass
# takes on a loaded machine (half that on a quiet one). The
# count follows from --seconds, not from the clock, so a slow moment on
# the machine does not change how warm the measured passes are.
PASS_S = 3.0
# The JIT is still compiling through the first warm passes, and how fast
# it gets there differs from JVM to JVM; these passes run but are not
# counted. Pass times on corpus_dedup fall by a third to a half over the
# first eight warm passes and level off from about the ninth.
WARMUP_PASSES = 8
MIN_PASSES = 3
# The heap is fixed at its maximum from the start (-Xms = -Xmx). Grown on
# demand, it left corpus_dedup's pass times spread twice as wide between
# runs (quartile distance 18% of the median against 9%).
HEAP = "3g"
RUN_LIMIT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def source_stamp():
    """Digest of everything the build reads, so an unchanged tree is not
    rebuilt."""
    import hashlib
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        if not os.path.exists(path):
            die(f"{rel} is missing: run from the root of a checkout of the library")
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the library and the harness with sbt; returns the classpath."""
    stamp = source_stamp()
    out = os.path.join(WORK, "build")
    cp_file, stamp_file = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die("build failed")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def harness(cp, run_dir, args, deadline):
    """Runs the harness JVM; its log goes to ``run_dir/jvm.log``."""
    scratch = os.path.join(run_dir, "scratch")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", *ADD_OPENS, f"-Djava.io.tmpdir={scratch}/tmp",
           "-cp", cp, "perfbench.Harness", "--scratch", scratch, "--cores", str(cores()), *args]
    with open(os.path.join(run_dir, "jvm.log"), "ab") as log:
        proc = subprocess.Popen(cmd + ["--spawn-ns", str(time.time_ns())],
                                stdin=subprocess.DEVNULL, stdout=log, stderr=log)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"harness timed out; see {run_dir}/jvm.log")
    shutil.rmtree(scratch, ignore_errors=True)
    if code != 0:
        die(f"harness exited with {code}; see {run_dir}/jvm.log")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def per_pass(passes, key):
    """Per pass, the sum of one job figure over the jobs that ran."""
    return [sum(r["m"].get(key, 0.0) for r in p["jobs"] if "error" not in r) for p in passes]


def job_medians(passes, key):
    """Per job, the median of one figure over the passes it ran in."""
    jobs = {}
    for p in passes:
        for r in p["jobs"]:
            if "error" not in r:
                jobs.setdefault(r["job"], []).append(r["m"].get(key, 0.0))
    return {j: median(v) for j, v in jobs.items()}


def end_to_end(result):
    warm, cold = result["warm"], result["cold"]
    times = [t for t in job_medians(warm, "job_s").values() if t > 0]
    heaps = [r["m"]["heap_mb"] for r in cold["jobs"] if "heap_mb" in r["m"]]
    return {
        "setup_s": (result["setup_s"], "s"),
        "pass_s": (sum(times), "s"),
        "job_geomean_s": (math.exp(sum(map(math.log, times)) / len(times)) if times else 0.0, "s"),
        "cpu_s": (sum(job_medians(warm, "cpu_s").values()), "s"),
        "peak_heap_mb": (max(heaps + [p["heap_mb"] for p in [cold] + warm]), "MB"),
    }


SUMMED = {  # per-layer metric -> unit; summed over a pass's jobs
    "api.build_jobs": "count", "checkpoints.pins": "count", "checkpoints.pinned_mb": "MB",
    "checkpoints.free_s": "s", "checkpoints.leaked_rdds": "count",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "plan.topk_nodes": "count", "plan.exchanges": "count", "plan.broadcasts": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.broadcast_build_s": "s",
    "exec.count_s": "s", "tables.input_mb": "MB", "tables.input_rows": "count",
    "tables.scan_s": "s", "tables.files_read": "count", "tables.output_mb": "MB",
}


def layers_of(passes, cores_n):
    """Per-layer figures of each pass, by metric name."""
    rows = []
    for p in passes:
        ok = [r for r in p["jobs"] if "error" not in r]
        s = {k: sum(r["m"].get(k, 0.0) for r in ok) for k in SUMMED}
        tot = lambda k: sum(r["m"][k] for r in ok)  # noqa: E731
        s["api.build_s"] = tot("build_s")
        s["api.build_share"] = tot("build_s") / max(tot("job_s"), 1e-9)
        s["plan.s"] = tot("plan_s")
        s["exec.s"] = tot("exec_s")
        s["exec.core_util"] = s["exec.task_run_s"] / max(s["exec.s"] * cores_n, 1e-9)
        s["exec.peak_mem_mb"] = max([r["m"].get("exec.peak_mem_mb", 0.0) for r in ok] or [0.0])
        s["exec.pruned_s"] = s["exec.s"] - s["exec.count_s"]
        s["jvm.gc_s"] = tot("gc_s")
        rows.append(s)
    return rows


LAYER_UNITS = dict(SUMMED, **{
    "api.build_s": "s", "api.build_share": "ratio", "plan.s": "s", "exec.s": "s",
    "exec.core_util": "ratio", "exec.peak_mem_mb": "MB", "exec.pruned_s": "s",
    "jvm.gc_s": "s", "jvm.cold_pass_s": "s", "trace.pass_s": "s", "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s", "trace.overhead_frac": "ratio"})


def per_layer(result):
    traced = [p for p in result["warm"] if p["traced"]]
    untraced = [p for p in result["warm"] if not p["traced"]]
    rows = layers_of(traced, result["cores"])
    out = {k: (median([r[k] for r in rows]), LAYER_UNITS[k]) for k in rows[0]}
    # the first pass of a new JVM: what a one-shot job pays for class
    # loading, codegen and JIT. One sample per run, so it swings with
    # the machine too much to carry an end-to-end bound.
    out["jvm.cold_pass_s"] = (per_pass([result["cold"]], "job_s")[0], "s")
    t, u = median(per_pass(traced, "job_s")), median(per_pass(untraced, "job_s"))
    out["trace.pass_s"] = (t, "s")
    out["trace.untraced_pass_s"] = (u, "s")
    out["trace.overhead_s"] = (t - u, "s")
    out["trace.overhead_frac"] = ((t - u) / u if u else 0.0, "ratio")
    return out


def per_job(result):
    """Median of every figure of every job over the traced (or, in an
    untraced run, all) warm passes: the breakdown behind the totals."""
    passes = [p for p in result["warm"] if p["traced"]] or result["warm"]
    table = {}
    for r0 in result["cold"]["jobs"]:
        runs = [r for p in passes for r in p["jobs"] if r["job"] == r0["job"] and "error" not in r]
        keys = sorted({k for r in runs for k in r["m"]})
        row = {k: median([r["m"].get(k, 0.0) for r in runs]) for k in keys}
        if "exec.count_s" in row:
            row["exec.pruned_s"] = row["exec_s"] - row["exec.count_s"]
        table[r0["job"]] = row
    return table


def run_workload(name, seed, seconds, trace, cp, inject):
    start = time.time()
    deadline = start + RUN_LIMIT_S
    spec = WORKLOADS[name]
    data = gen.ensure(spec["inputs"], seed, os.path.join(WORK, "inputs", f"{name}-s{seed}"))
    run_dir = os.path.join(WORK, "runs", f"{name}-s{seed}-t{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jobs = spec["jobs"] + (["inject.fail"] if inject else [])
    passes = WARMUP_PASSES + max(MIN_PASSES, round(seconds / PASS_S) - WARMUP_PASSES)
    harness(cp, run_dir, ["--data", data, "--out", run_dir, "--jobs", ",".join(jobs),
                          "--passes", str(passes), "--trace", str(trace)], deadline)
    result = json.load(open(os.path.join(run_dir, "result.json")))
    measured = dict(result, warm=result["warm"][WARMUP_PASSES:])

    failures = check.run(data, run_dir, result)
    executions = [r for p in [result["cold"]] + result["warm"] for r in p["jobs"]]
    for r in executions:
        if "error" in r:
            failures.setdefault(r["job"], []).append(r["error"])
    attempted = len(executions)
    failed = min(attempted, sum(len(v) for v in failures.values()))
    metrics = per_layer(measured) if trace else end_to_end(measured)
    shutil.rmtree(os.path.join(run_dir, "outputs"), ignore_errors=True)
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump({"workload": name, "seed": seed, "trace": trace, "seconds": seconds,
                   "input_digest": gen.digest(data),
                   "failed_frac": failed / attempted, "failures": failures,
                   "metrics": {k: v for k, (v, _) in metrics.items()},
                   "per_job": per_job(measured), "wall_s": time.time() - start}, f, indent=1)
    for job, reasons in sorted(failures.items()):
        for why in reasons:
            print(f"perfbench: {name}: {job}: {why}", file=sys.stderr)
    print(f"perfbench: {name}: failed_frac {failed / attempted:.4f} ({failed} of {attempted} "
          f"job executions); details in {run_dir}/summary.json", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="append a job that always throws (self-check)")
    a = ap.parse_args()
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    if a.workload != "all" and a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload!r}; choose from {sorted(WORKLOADS)}")
    cp = build()
    for name in names:
        line = run_workload(name, a.seed, a.seconds, a.trace, cp, a.inject_failure)
        if len(names) > 1:
            line = {"workload": name, **line}
        print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
