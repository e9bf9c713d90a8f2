#!/usr/bin/env python3
"""Re-pin the expected outputs in perfbench/pins.json. Run from the root of
a graft checkout whose outputs you trust:

    python3 perfbench/pin.py

1. builds graft and generates the inputs exactly as run.py does;
2. runs `graft.Verify` over the inputs for the benchmark's queries and
   `tools/check_oracle.py` on its output (its oracle file cut down to
   those queries), both unmodified, so each query is
   marked `match`, `mismatch` (kept, and always failed by the benchmark) or
   `none` (no oracle);
3. runs the harness once per workload in pin mode and records each query's
   row count + fingerprint (batch workloads) and schema hash (transpile);
4. cross-checks each pinned row count against the Verify output.
"""
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

import run

LISTS = ("reference_batch", "llm_pipeline")


def names(workload):
    with open(os.path.join(run.HERE, "workloads", f"{workload}.txt")) as f:
        return [line.strip() for line in f if line.strip()]


def pin_outputs(root, workload):
    classes, d, work = run.prepare(root, workload)
    path = os.path.join(work, "pins.jsonl")
    args = run.harness_args(workload, 0, 0, 0, d, work) + ["--pin-out", path]
    code, _ = run.jvm(run.java(classes, "graftbench.Main", args, work), os.path.join(work, "pin.log"), 1800)
    if code != 0:
        run.fail(f"pin run for {workload} failed; see {work}/pin.log")
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    bad = [r for r in rows if "error" in r]
    if bad:
        run.fail(f"{workload}: queries failed while pinning: {bad}")
    return {r["name"]: r["output"] for r in rows}, classes, d, work


def oracle_status(root, classes, d, work, queries):
    out = os.path.join(run.out_dir(root), "verify")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_ONLY=",".join(queries))
    code, _ = run.jvm(run.java(classes, "graft.Verify", [d, out], work), out + ".log", 3600, env)
    if code != 0:
        run.fail(f"graft.Verify failed; see {out}.log")
    # the check covers the benchmark's queries only, like SPARK_GRAFT_ONLY
    oracle_path = os.path.join(out, "oracle_sql.json")
    with open(oracle_path) as f:
        oracles = json.load(f)
    has_oracle = set(oracles)
    with open(oracle_path, "w") as f:
        json.dump({q: sql for q, sql in oracles.items() if q in queries}, f)
    check = subprocess.run([sys.executable, os.path.join(root, "tools/check_oracle.py"), d, out],
                           capture_output=True, text=True).stdout
    with open(out + ".check.txt", "w") as f:
        f.write(check)
    status = {}
    for line in check.splitlines():
        head, _, _ = line.partition(":")
        verdict, _, name = head.partition(" ")
        name = name.strip()
        if name in queries:
            status[name] = "match" if verdict == "ok" else "mismatch"
    for q in queries:
        if q not in has_oracle:
            status[q] = "none"
        elif q not in status:
            status[q] = "mismatch"
    rows = {}
    for q in queries:
        qdir = os.path.join(out, q)
        rows[q] = pq.read_table(qdir).num_rows if os.path.isdir(qdir) else None
    return status, rows


def main():
    root = os.getcwd()
    fps = {}
    for w in LISTS:
        fps.update(pin_outputs(root, w)[0])
    schemas, classes, d, work = pin_outputs(root, "transpile")
    queries = [q for w in LISTS for q in names(w)]
    status, verify_rows = oracle_status(root, classes, d, work, queries)
    pins = {}
    for q in queries:
        n, h = fps[q].split(":")
        if verify_rows[q] != int(n):
            run.fail(f"{q}: pinned {n} rows but graft.Verify wrote {verify_rows[q]}")
        pins[q] = {"rows": int(n), "hash": h, "schema": schemas[q], "oracle": status[q]}
    doc = {"sf": run.SF, "data": os.path.basename(d), "queries": pins}
    with open(os.path.join(run.HERE, "pins.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    counts = {s: sum(1 for p in pins.values() if p["oracle"] == s) for s in ("match", "none", "mismatch")}
    print(f"[perfbench] pinned {len(pins)} queries: {counts}", file=sys.stderr)


if __name__ == "__main__":
    main()
