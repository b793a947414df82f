#!/usr/bin/env python3
"""Self-checks of the benchmark. Run from the root of a checkout:

    python3 perfbench/selfcheck.py

1. The same seed gives byte-identical inputs, and another seed does not.
2. An injected failing job raises ``failed`` (and so the failed share)
   and clears ``correct``, the way HarnessSpec injects a broken key
   into ``graft.Bench``.
3. One command (``--workload all``) prints every end-to-end metric of
   BENCHMARK.json for every workload, and a traced run prints every
   per-layer metric.

Exits non-zero on the first check that fails.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave nothing behind in the checkout's sources
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
CONTRACT = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))


def bench(*args):
    """Runs the benchmark; returns its result lines (one per workload)."""
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          capture_output=True, text=True, cwd=ROOT)
    if proc.returncode != 0:
        sys.exit(f"selfcheck: run.py {' '.join(args)} failed:\n{proc.stderr[-3000:]}")
    return [json.loads(ln) for ln in proc.stdout.splitlines() if ln.startswith("{")]


def expect(ok, what):
    print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        sys.exit(1)


def main():
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        for name, spec in sorted(WORKLOADS.items()):
            a, b, c = (os.path.join(tmp, f"{name}-{i}") for i in "abc")
            for out, seed in ((a, 7), (b, 7), (c, 8)):
                os.makedirs(out)
                gen.build(spec["inputs"], seed, out)
            da, db, dc = gen.digest(a), gen.digest(b), gen.digest(c)
            expect(da == db, f"{name}: seed 7 twice gives byte-identical inputs")
            expect(da != dc, f"{name}: seed 8 gives other inputs than seed 7")

    (line,) = bench("--workload", "paper_pipeline", "--seed", "1", "--seconds", "1",
                    "--inject-failure")
    expect(line["failed"] >= 1 and not line["correct"] and line["attempted"] > line["failed"],
           f"injected failure counted: {line['failed']} of {line['attempted']} failed")

    e2e = [m["name"] for m in CONTRACT["end_to_end"]]
    lines = bench("--workload", "all", "--seed", "1", "--seconds", "1")
    expect(sorted(ln["workload"] for ln in lines) == sorted(w["name"] for w in CONTRACT["workloads"]),
           "one command runs every workload")
    for ln in lines:
        expect(sorted(ln["metrics"]) == sorted(e2e) and ln["correct"],
               f"{ln['workload']}: all {len(e2e)} end-to-end metrics, outputs correct")

    layers = [m["name"] for m in CONTRACT["per_layer"]]
    (line,) = bench("--workload", "corpus_dedup", "--seed", "1", "--seconds", "1", "--trace", "1")
    expect(sorted(line["metrics"]) == sorted(layers),
           f"traced run prints all {len(layers)} per-layer metrics")


if __name__ == "__main__":
    main()
