#!/usr/bin/env python3
"""Traced-run artifact, tracing overhead and determinism check.

    python3 perfbench/ledger.py [--seed N] [workload ...]

For each workload (default: all) it makes four runs with one seed and
BENCHMARK.json's `run_seconds`, each in a fresh JVM, alternating untraced
and traced. It writes `perfbench/artifacts/<workload>.json` holding the
first untraced run's end-to-end metrics, the first traced run's per-query
and per-workload per-layer ledger, the attribution self-checks, the
tracing overhead (mean traced `wall_s` against mean untraced `wall_s`,
each run listed) and every difference between the two traced runs
(fingerprints; jobs, tasks, Exchanges, codegen compiles and shuffle MiB).
Differences are reported, not filtered. Exits 1 when an attribution check
fails or a binding difference shows (see compare.py: counters bind only
for single-client workloads).
"""
import argparse
import json
import os
import subprocess
import sys

import compare

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "artifacts")


def run(workload, seed, seconds, trace, path):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                        "--artifact", path], cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} trace={trace} run failed")
    with open(path) as f:
        return json.load(f)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    with open(os.path.join(HERE, "workloads.json")) as f:
        every = list(json.load(f)["workloads"])
    ap.add_argument("workloads", nargs="*", default=every)
    a = ap.parse_args()
    tmp = os.path.join(ROOT, ".bench_build", "ledger")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    bad = 0
    for w in a.workloads:
        runs = [run(w, a.seed, bench["run_seconds"], i % 2, os.path.join(tmp, f"{w}-{i}.json"))
                for i in range(4)]
        plain, traced, again = runs[0], runs[1], runs[3]
        diffs = compare.exact(traced, again)
        binding = [d for b, d in diffs if b]
        wall0 = [r["end_to_end"]["wall_s"] for r in runs[0::2]]
        wall1 = [r["end_to_end"]["wall_s"] for r in runs[1::2]]
        record = {
            "workload": w, "seed": a.seed, "commit": traced["commit"],
            "untraced_end_to_end": plain["end_to_end"],
            "tracing_overhead": {
                "untraced_wall_s": wall0, "traced_wall_s": wall1,
                "overhead_frac": sum(wall1) / sum(wall0) - 1,
                "untraced_steal_s": [r["context"]["box.steal_s"] for r in runs[0::2]],
                "traced_steal_s": [r["context"]["box.steal_s"] for r in runs[1::2]],
                "note": "two runs a side; on a shared 4-core box wall_s moves between "
                        "runs by more than a small overhead, with the hypervisor steal "
                        "listed per run"},
            "determinism": {"runs": 2, "seed": a.seed, "binding_differences": binding,
                            "other_differences": [d for b, d in diffs if not b]},
            "traced": traced,
        }
        with open(os.path.join(OUT, f"{w}.json"), "w") as f:
            json.dump(record, f, indent=1)
        ok = traced["attribution"]["ok"] and again["attribution"]["ok"]
        print(f"{w}: attribution {'ok' if ok else 'FAILED'}, overhead "
              f"{record['tracing_overhead']['overhead_frac']:+.1%}, {len(binding)} binding "
              f"differences of {len(diffs)}")
        reason = compare.why_not_binding(traced, again)
        note = f"  ({reason})" if reason else ""
        for b, d in diffs:
            print(f"  {d}{'' if b else note}")
        bad += (not ok) + bool(binding)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
