#!/usr/bin/env python3
"""graft's benchmark: seeded sf0.1 workloads, one fresh JVM per run.

    python3 perfbench/run.py --workload sql_oneshot --seed 1 --seconds 25 --trace 0

`--workload all` runs every workload in turn with the one seed.

Run from the root of a checkout. The first run compiles graft
(`src/main/scala`) and the harness (`perfbench/src`) with the Scala
compiler that ships in Spark's jars, into `.bench_build/`; later runs reuse
the classes while the sources are unchanged.

The seed shuffles the queries inside each group of the workload's fixed
queue (perfbench/workloads.json); the clients pull from the queue in a
closed loop. A cold workload runs its queue once, timed. A repeated one
(`timed_passes` in workloads.json) runs it once untimed to warm the JVM,
then in that many timed passes, each in a new seeded order; its `wall_s`
and `cpu_s` are the medians over the timed passes. Every query execution's
output fingerprint is checked against `perfbench/refs.json`. With
`--trace 0` the last stdout line carries
the end-to-end metrics, with `--trace 1` the per-layer ones. The full run
record goes to `--artifact` (default `.bench_build/artifacts/`).

`--seconds` is the measured window each workload is sized to: a cold
workload's pass, or a repeated workload's timed passes together, take
about that long on a 4-core box. A run still going after `--seconds` x
WATCHDOG_FACTOR is stopped and fails.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
SF_DIR = os.path.join(HERE, "data", "sf0.1")
WATCHDOG_FACTOR = 6
TAIL_RANK = 11  # the 11th-slowest query: ten samples lie beyond it
UNITS = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "held_mb_peak": "MiB", "failed_frac": "ratio",
    "ops.build_s": "s", "ops.build_jobs": "count", "ops.build_task_cpu_s": "s",
    "plan.optimize_s": "s", "plan.physical_s": "s", "plan.exchanges": "count",
    "codegen.rdd_s": "s", "codegen.jobs": "count", "codegen.task_cpu_s": "s",
    "codegen.compiles": "count", "jit.compile_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "task.cpu_s": "s", "task.run_s": "s", "task.deser_s": "s", "task.gc_s": "s",
    "task.empty_frac": "ratio", "task.result_mb": "MiB",
    "shuffle.write_mb": "MiB", "shuffle.read_mb": "MiB", "shuffle.fetch_wait_s": "s",
    "spill.mb": "MiB", "tables.held_mb_end": "MiB", "tables.persisted_rdds_end": "count",
    "jvm.gc_s": "s", "jvm.rss_peak_mb": "MiB", "box.steal_s": "s",
}

# graft.Bench's JIT flags (build.sbt) and the module opens Spark needs on
# JDK 17 outside spark-submit.
JIT_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=1g"]
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def spark_jars():
    d = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(d):
        fail(f"no Spark jars at {d}")
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def scala_files(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_once(name, srcs, classpath, jars):
    """Compiles `srcs` into .bench_build/<name>, keyed by a hash of the
    sources and the classpath; returns the class directory."""
    h = hashlib.sha256()
    for p in srcs + classpath:
        h.update(os.path.relpath(p, ROOT).encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
        elif os.path.isfile(os.path.join(p, ".stamp")):
            with open(os.path.join(p, ".stamp")) as f:
                h.update(f.read().encode())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, name)
    stamp_file = os.path.join(out, ".stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = ":".join(classpath + jars)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars), "scala.tools.nsc.Main",
         "-nowarn", "-classpath", cp, "-d", tmp] + srcs,
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail(f"compiling {name} failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"[perfbench] compiled {name} ({len(srcs)} files) in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return out


def build(jars):
    graft = scala_files(GRAFT_SRC)
    if not graft:
        fail(f"no graft sources under {GRAFT_SRC}: run from the root of a graft checkout")
    graft_cls = compile_once("graft-classes", graft, [], jars)
    bench_cls = compile_once("perfbench-classes", scala_files(BENCH_SRC), [graft_cls], jars)
    return [bench_cls, graft_cls]


def nproc():
    return len(os.sched_getaffinity(0))


def heap():
    """A quarter of MemTotal, 2-8 GiB: graft's 24g sbt default would not
    fit a small box."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{max(2, min(8, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration):
        return "4g"


def session_confs(cpus, work):
    """graft.Bench's session, scaled to this box: FAIR, AQE off, a
    4096-entry codegen cache and input-sized shuffle partitions."""
    data = sum(os.path.getsize(os.path.join(SF_DIR, f)) for f in os.listdir(SF_DIR))
    return {
        "spark.sql.shuffle.partitions": str(max(8, min(cpus, data >> 25))),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.sql.codegen.cache.maxEntries": "4096",
        "spark.scheduler.mode": "FAIR",
        "spark.sql.adaptive.enabled": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def jvm_flags(tmp):
    """graft's JVM flags, with every temporary file kept under `tmp`
    (-XX:-UsePerfData: HotSpot's perf data file ignores java.io.tmpdir).
    A 1 GiB initial heap and a 256 MiB first metaspace threshold keep the
    JVM from spending its first seconds in heap-growth collections and
    metadata-triggered concurrent marking, which varied from run to run."""
    return [f"-Xmx{heap()}", "-Xms1g", "-XX:MetaspaceSize=256m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"] + JIT_FLAGS + \
        [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] + \
        ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def repeated(spec):
    return "timed_passes" in spec


def passes_for(spec, seed):
    """The query order of each pass: the groups in their listed order, each
    shuffled by the seed. A cold workload has one pass; a repeated one has
    an untimed warm-up pass and then its timed passes."""
    rng = random.Random(seed)
    passes = []
    for _ in range(1 + spec["timed_passes"] if repeated(spec) else 1):
        queue = []
        for group in spec["groups"]:
            g = list(group)
            rng.shuffle(g)
            queue += g
        passes.append(queue)
    return passes


def run_jvm(workload, spec, seed, trace, classes, jars, deadline):
    """Runs one workload in a fresh JVM whose working, warehouse, local and
    temp directories sit under .bench_build/work; returns the harness's
    result record."""
    cpus = nproc()
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    plan = {"sf_dir": SF_DIR, "trace": bool(trace), "clients": spec["clients"],
            "passes": passes_for(spec, seed), "warmup_passes": int(repeated(spec)),
            "master": f"local[{cpus}]", "confs": session_confs(cpus, work)}
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f)
    result = os.path.join(work, "result.json")
    flags = jvm_flags(os.path.join(work, "tmp"))
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS")}
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(["java"] + flags + ["-cp", ":".join(classes + jars),
                                                 "graftbench.Main", "plan.json", result],
                             cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException:
            stop(p)
            shutil.copy(log_path, os.path.join(BUILD, "last-failed-jvm.log"))
            shutil.rmtree(work, ignore_errors=True)
            fail(f"{workload} run stopped: over its time limit or interrupted")
    if rc != 0 or not os.path.isfile(result):
        with open(log_path) as f:
            print("".join(f.readlines()[-40:]), file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload} JVM exited with {rc}")
    with open(result) as f:
        out = json.load(f)
    out["plan"] = {"master": plan["master"], "clients": plan["clients"],
                   "warmup_passes": plan["warmup_passes"],
                   "queues": plan["passes"]}
    shutil.rmtree(work, ignore_errors=True)
    return out


def stop(p):
    """Stops the JVM's whole process group and waits for it."""
    for sig, wait in ((signal.SIGTERM, 10), (signal.SIGKILL, 30)):
        try:
            os.killpg(p.pid, sig)
        except ProcessLookupError:
            return
        try:
            p.wait(timeout=wait)
            return
        except subprocess.TimeoutExpired:
            pass


def check_outputs(queries, refs):
    """Marks each execution failed when it threw or its fingerprint differs
    from the recorded reference."""
    failed = 0
    for q in queries:
        ref = refs.get(q["name"])
        if not q["ok"]:
            q["check"] = "error"
        elif ref is None or "hash" not in ref:
            q["check"] = "no reference: " + (ref["status"] if ref else "not recorded")
        elif ref["rows"] != q["rows"] or ref["hash"] != q["hash"]:
            q["check"] = f"mismatch: reference {ref['rows']} rows {ref['hash']}"
        else:
            q["check"] = "ok"
        if q["check"] != "ok":
            failed += 1
    return failed


def tail_rank(n):
    """The 11th-slowest has ten samples beyond it; below 22 samples that
    rank is not in the upper half, so the slowest stands in."""
    return TAIL_RANK if n >= 2 * TAIL_RANK else 1


def timed(res):
    """The timed passes and the query executions in them."""
    passes = [p for p in res["passes"] if not p["warmup"]]
    first = passes[0]["pass"]
    return passes, [q for q in res["queries"] if q["pass"] >= first]


def end_to_end(res, failed):
    passes, qs = timed(res)
    lat = sorted((q["latency_s"] for q in qs), reverse=True)
    return {
        "setup_s": res["setup_s"],
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": lat[tail_rank(len(lat)) - 1],
        "held_mb_peak": res["held_mb_peak"],
        "failed_frac": failed / len(res["queries"]),
    }


PER_QUERY_SUMS = ("ops.build_s", "ops.build_jobs", "ops.build_task_cpu_s",
                  "plan.optimize_s", "plan.physical_s", "plan.exchanges",
                  "codegen.rdd_s", "codegen.jobs", "codegen.task_cpu_s", "exec.s",
                  "exec.jobs", "exec.stages", "exec.tasks", "task.cpu_s", "task.run_s",
                  "task.deser_s", "task.gc_s", "task.result_mb", "shuffle.write_mb",
                  "shuffle.read_mb", "shuffle.fetch_wait_s", "spill.mb")


def per_layer(res):
    """The traced run's per-layer metrics per timed pass: per-query values
    summed over the timed executions, and process values over the timed
    passes, each divided by the number of timed passes."""
    passes, qs = timed(res)
    n = len(passes)

    def s(k):
        # A query that threw before its executed plan has no Exchange count.
        return sum(q[k] for q in qs if q[k] is not None) / n

    m = {k: s(k) for k in PER_QUERY_SUMS}
    tasks = sum(q["exec.tasks"] for q in qs)
    m["task.empty_frac"] = (sum(q["task.empty_frac"] * q["exec.tasks"] for q in qs) / tasks
                            if tasks else 0.0)
    for k in ("codegen.compiles", "jit.compile_s", "jvm.gc_s", "box.steal_s"):
        m[k] = sum(p[k] for p in passes) / n
    m.update({
        "tables.held_mb_end": res["held_mb_end"],
        "tables.persisted_rdds_end": res["persisted_rdds_end"],
        "jvm.rss_peak_mb": res["rss_peak_mb"],
    })
    return m


def commit():
    """HEAD, marked `+dirty` when the working tree differs from it; None
    outside a git checkout."""
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                               text=True, timeout=10).stdout.strip()
        return (head + ("+dirty" if dirty else "")) or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_workload(name, spec, seed, seconds, trace, artifact, refs, classes, jars):
    """One run of one workload: prints its metrics and returns the result line."""
    deadline = time.time() + seconds * WATCHDOG_FACTOR
    res = run_jvm(name, spec, seed, trace, classes, jars, deadline)
    failed = check_outputs(res["queries"], refs)
    e2e = end_to_end(res, failed)
    passes, timed_qs = timed(res)
    record = {
        "workload": name, "seed": seed, "trace": trace, "seconds": seconds,
        "commit": commit(), "nproc": nproc(), "clients": spec["clients"],
        "n_queries": len(res["queries"]),
        "timed_passes": len(passes), "warmup_passes": len(res["passes"]) - len(passes),
        "tail": f"query_tail_s is latency rank {tail_rank(len(timed_qs))} from the top "
                f"of {len(timed_qs)} timed executions",
        "end_to_end": e2e,
        "per_layer": per_layer(res) if trace else None,
        "context": dict({k: v for k, v in res["window"].items() if k not in e2e},
                        timed_window_s=res["window"]["wall_s"],
                        warmup_wall_s=[p["wall_s"] for p in res["passes"] if p["warmup"]]),
        "setup_phases": res["setup_phases"],
        "passes": res["passes"],
        "jvm_flags": res["jvm_flags"], "confs": res["confs"],
        "attribution": res["trace"]["attribution"] if trace else None,
        "queries": res["queries"],
    }
    path = artifact or os.path.join(BUILD, "artifacts", f"{name}-seed{seed}-trace{trace}.json")
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        json.dump(record, f, indent=1)

    for q in res["queries"]:
        if q["check"] != "ok":
            print(f"[perfbench] {q['name']}: {q['check']} {q.get('error') or ''}", file=sys.stderr)
    for k, v in e2e.items():
        print(f"{name} {k} {v:.6g} {UNITS[k]}")
    if trace:
        att = res["trace"]["attribution"]
        print(f"{name} attribution {'ok' if att['ok'] else 'FAILED'} "
              f"untagged_jobs={att['untagged_jobs']}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["per_layer" if trace else "end_to_end"]]
    src = record["per_layer"] if trace else e2e
    ok = failed == 0 and (not trace or res["trace"]["attribution"]["ok"])
    return {"correct": ok, "attempted": len(res["queries"]), "failed": failed,
            "metrics": {n: {"value": src[n], "unit": UNITS[n]} for n in names}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="a workload name, or `all`")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--artifact", help="where to write the run record (one workload)")
    a = ap.parse_args()
    # A stopped benchmark stops its JVM too (see run_jvm).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(SF_DIR):
        fail(f"missing fixtures {SF_DIR}")
    workloads = load("workloads.json")["workloads"]
    names = list(workloads) if a.workload == "all" else [a.workload]
    if any(n not in workloads for n in names):
        fail(f"unknown workload {a.workload}; known: all, {', '.join(workloads)}")
    refs = load("refs.json")["queries"]
    jars = spark_jars()
    classes = build(jars)
    for n in names:
        line = run_workload(n, workloads[n], a.seed, a.seconds, a.trace,
                            a.artifact if len(names) == 1 else None, refs, classes, jars)
        print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
