#!/usr/bin/env python3
"""Compare two sets of benchmark run records.

    python3 perfbench/compare.py A B [--exact]

A and B are run records written by `perfbench/run.py --artifact` or
`perfbench/ledger.py`, or directories of them. For each workload the tool
prints every end-to-end metric as median [first quartile, third quartile]
over the runs of each side; a ledger.py artifact contributes its untraced
run's end-to-end metrics. For traced runs it then diffs the deterministic
counters per query (`exec.jobs`, `exec.tasks`, `plan.exchanges`,
`codegen.compiles`, shuffle MiB) and the output fingerprints exactly,
first run of A against first run of B, execution by execution (query and
pass). Per-query walls of different runs are never compared.

`--exact` exits 1 when a fingerprint differs, or a counter of a
single-client workload run with the same seed on both sides: two runs of
one commit with one seed must agree. With another seed the query order
changes, and with it which memo twin pays for a shared fit; with two
clients the clients race for shared memos, so the payer moves between
runs. Those counter differences are printed but do not fail.
"""
import json
import os
import statistics
import sys

COUNTERS = ["exec.jobs", "exec.tasks", "plan.exchanges", "codegen.compiles",
            "shuffle.write_mb", "shuffle.read_mb"]


def records(path):
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".json"))
    out = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "traced" in r:  # a ledger.py artifact: its traced run, untraced end-to-end
            r = dict(r["traced"], end_to_end=r["untraced_end_to_end"])
        if "end_to_end" in r and "workload" in r:
            out.append(r)
    return out


def by_workload(recs):
    out = {}
    for r in recs:
        out.setdefault(r["workload"], []).append(r)
    return out


def spread(vals):
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return med, q1, q3


def fmt(vals):
    if not vals:
        return "-"
    med, q1, q3 = spread(vals)
    return f"{med:.4g} [{q1:.4g}, {q3:.4g}] n={len(vals)}"


def end_to_end(wa, wb):
    keys = list((wa or wb)[0]["end_to_end"])
    print(f"  {'metric':<14} {'A median [q1, q3]':<34} {'B median [q1, q3]':<34} B/A")
    for k in keys:
        va = [r["end_to_end"][k] for r in wa]
        vb = [r["end_to_end"][k] for r in wb]
        ratio = "-"
        if va and vb and statistics.median(va):
            ratio = f"{statistics.median(vb) / statistics.median(va):.3f}"
        print(f"  {k:<14} {fmt(va):<34} {fmt(vb):<34} {ratio}")


def why_not_binding(ra, rb):
    """None when two runs' counters must agree, else the reason they may
    not: another seed or two clients moves which query pays for a memo."""
    if ra["seed"] != rb["seed"]:
        return "seeds differ: not binding"
    if ra["clients"] != 1 or rb["clients"] != 1:
        return "two clients: not binding"
    return None


def exact(ra, rb):
    """Every fingerprint and counter difference between two runs, as
    (binding, text). Fingerprints always bind; counters only when
    why_not_binding gives no reason."""
    diffs = []
    binds = why_not_binding(ra, rb) is None
    qa = {q["tag"]: q for q in ra["queries"]}
    qb = {q["tag"]: q for q in rb["queries"]}
    for tag in sorted(set(qa) ^ set(qb)):
        diffs.append((True, f"{tag}: only in {'B' if tag in qb else 'A'}"))
    for tag in sorted(set(qa) & set(qb)):
        a, b = qa[tag], qb[tag]
        if (a["rows"], a["hash"]) != (b["rows"], b["hash"]):
            diffs.append((True, f"{tag}: fingerprint {a['rows']}/{a['hash']} -> "
                                f"{b['rows']}/{b['hash']}"))
        if not (ra["trace"] and rb["trace"]):
            continue
        for k in COUNTERS:
            if a.get(k) != b.get(k):
                diffs.append((binds, f"{tag}: {k} {a.get(k)} -> {b.get(k)}"))
    return diffs


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (by_workload(records(p)) for p in args)
    n_diff = 0
    for w in sorted(set(a) | set(b)):
        wa, wb = a.get(w, []), b.get(w, [])
        print(f"{w}: A {len(wa)} runs, B {len(wb)} runs")
        end_to_end(wa, wb)
        if wa and wb:
            diffs = exact(wa[0], wb[0])
            n_diff += sum(binding for binding, _ in diffs)
            print(f"  exact diffs (seed {wa[0]['seed']} vs {wb[0]['seed']}): {len(diffs)}")
            reason = why_not_binding(wa[0], wb[0])
            note = f"  ({reason})" if reason else ""
            for binding, d in diffs:
                print(f"    {d}{'' if binding else note}")
    if "--exact" in argv and n_diff:
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
