"""Output checks of one benchmark run, made after the timed passes.

- Every job with an oracle: its full result (written once, from the
  last warm pass) must equal the job's ``SparkEntry.oracleSql`` run in DuckDB
  over the same generated tables.
- Every job without an oracle: its rows must have the same digest on
  every pass that took one (the cold pass and the last warm pass).
- ``ml_infer_mlp_gemm`` must equal ``ml_infer_mlp`` at 4 decimals.

Each check returns one failure per failed job execution.
"""
import glob
import json
import math
import os

import duckdb
import pandas as pd


def register(con, data_dir):
    """One DuckDB view per generated table; multi-file tables are
    directories of part files."""
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")


def same(a, b, tol):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= tol
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if hasattr(a, "__len__") and hasattr(b, "__len__") and not isinstance(a, str):
        la, lb = list(a), list(b)
        return len(la) == len(lb) and all(same(x, y, tol) for x, y in zip(la, lb))
    return a == b


def compare(got, want, tol=1e-9):
    """None when the frames hold the same rows in the same order (columns
    compared by name); otherwise the first difference."""
    got = got.reindex(sorted(got.columns), axis=1).reset_index(drop=True)
    want = want.reindex(sorted(want.columns), axis=1).reset_index(drop=True)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not same(x, y, tol):
                return f"column {c} row {i}: {x!r} != {y!r}"
    return None


def output(out_dir, job):
    path = os.path.join(out_dir, "outputs", job)
    return pd.read_parquet(path) if os.path.isdir(path) else None


def run(data_dir, out_dir, result):
    """Returns {job: [reason, ...]}, one reason per failed execution."""
    failures = {}
    oracle = json.load(open(os.path.join(out_dir, "oracle.json")))
    passes = [result["cold"]] + result["warm"]
    dumped = result["warm"][-1]  # the pass that wrote the outputs
    threw = {r["job"] for r in dumped["jobs"] if "error" in r}

    con = duckdb.connect()
    register(con, data_dir)
    for job, sql in sorted(oracle["sql"].items()):
        if job in threw:
            continue  # already counted as a failed execution
        got = output(out_dir, job)
        try:
            err = "no output" if got is None else compare(got, con.execute(sql).fetchdf())
        except Exception as e:  # noqa: BLE001 - any oracle error fails the job
            err = f"oracle: {type(e).__name__}: {e}"
        if err:
            failures.setdefault(job, []).append(f"oracle mismatch: {err}")
    con.close()

    for job in oracle["no_oracle"]:
        digests = [r["digest"] for p in passes for r in p["jobs"]
                   if r["job"] == job and "digest" in r]
        for d in digests[1:]:
            if d != digests[0]:
                failures.setdefault(job, []).append("digest differs from the cold pass")

    pair = ("ml_infer_mlp_gemm", "ml_infer_mlp")
    if all(j in {r["job"] for r in dumped["jobs"]} for j in pair) and not threw & set(pair):
        a, b = (output(out_dir, j) for j in pair)
        err = "no output" if a is None or b is None else compare(a.round(4), b.round(4), 0.0)
        if err:
            failures.setdefault(pair[0], []).append(f"differs from {pair[1]}: {err}")
    return failures
