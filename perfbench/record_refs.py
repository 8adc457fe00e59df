#!/usr/bin/env python3
"""Record the reference output fingerprints in perfbench/refs.json.

    python3 perfbench/record_refs.py

Run from the root of a graft checkout with DuckDB's Python module
installed. For every query of every workload it:

1. dumps graft's output at sf0.1 with `graft.Verify` (the project's own
   correctness dump) and checks it against its DuckDB oracle with
   `tools/compare.py`, one query at a time under ORACLE_TIMEOUT seconds;
2. fingerprints the output in two fresh benchmark JVMs with different
   seeds (so different query orders).

A query gets a reference only when both fingerprints agree. Its status is
`verified` when the oracle compare passed, `unverified` when the query has
no oracle or its oracle did not finish, and `oracle_mismatch` (no
reference, so every run counts it as failed) when the compare failed.
No query is dropped from its workload.
"""
import json
import os
import shutil
import subprocess
import sys

import run as bench

ROOT = bench.ROOT
WORK = os.path.join(bench.BUILD, "refs")
ORACLE_TIMEOUT = 120


def verify_dump(names, classes, jars):
    out = os.path.join(WORK, "verify")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(out)
    flags = bench.jvm_flags(WORK)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(bench.nproc()))
    subprocess.run(["java"] + flags + ["-cp", ":".join(classes + jars), "graft.Verify",
                                       bench.SF_DIR, out, ",".join(names)],
                   cwd=WORK, env=env, check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    return out


def oracle_status(name, oracles, out):
    if name not in oracles:
        return "unverified", "no oracle"
    if not os.path.isdir(os.path.join(out, name)):
        return "oracle_mismatch", "graft.Verify wrote no output"
    one = os.path.join(WORK, "one", name)
    os.makedirs(one)
    os.symlink(os.path.join(out, name), os.path.join(one, name))
    with open(os.path.join(one, "oracle_sql.json"), "w") as f:
        json.dump({name: oracles[name]}, f)
    try:
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                            bench.SF_DIR, one], cwd=WORK, capture_output=True, text=True,
                           timeout=ORACLE_TIMEOUT)
    except subprocess.TimeoutExpired:
        return "unverified", f"oracle did not finish in {ORACLE_TIMEOUT} s"
    line = next((l for l in r.stdout.splitlines()
                 if l.split(" ")[:2] in (["PASS", name], ["FAIL", name + ":"])), "")
    if line.startswith("PASS"):
        return "verified", line
    return "oracle_mismatch", line or r.stdout[-300:]


def main():
    workloads = bench.load("workloads.json")["workloads"]
    names = sorted({q for w in workloads.values() for g in w["groups"] for q in g})
    jars = bench.spark_jars()
    classes = bench.build(jars)

    out = verify_dump(names, classes, jars)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    status = {n: oracle_status(n, oracles, out) for n in names}

    prints = {}
    for w, spec in workloads.items():
        for seed in (1, 2):
            res = bench.run_jvm(w, spec, seed, 0, classes, jars, deadline=float("inf"))
            for q in res["queries"]:
                prints.setdefault(q["name"], set()).add(
                    (q["rows"], q["hash"]) if q["ok"] else ("error", q["error"]))

    refs = {}
    for n in names:
        st, note = status[n]
        fp = prints.get(n, set())
        entry = {"status": st, "note": note}
        if len(fp) != 1 or next(iter(fp))[0] == "error":
            entry.update(status="no_reference", note=f"{note}; fingerprints {sorted(map(str, fp))}")
        elif st != "oracle_mismatch":
            rows, h = next(iter(fp))
            entry.update(rows=rows, hash=h)
        refs[n] = entry
    doc = {
        "about": "Reference fingerprints (row count, order-insensitive row hash) at "
                 "sf0.1, written by perfbench/record_refs.py. 'unverified' rows have no "
                 "DuckDB oracle or one that did not finish; they are checked against "
                 "their own recorded output.",
        "unverified": sorted(n for n, e in refs.items() if e["status"] == "unverified"),
        "failing": sorted(n for n, e in refs.items() if "hash" not in e),
        "queries": refs,
    }
    with open(os.path.join(bench.HERE, "refs.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    counts = {}
    for e in refs.values():
        counts[e["status"]] = counts.get(e["status"], 0) + 1
    print(json.dumps(counts))
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
