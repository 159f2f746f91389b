#!/usr/bin/env python3
"""Fully-consumed benchmark of the graft query builders.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Builds the engine and the benchmark from source with sbt (once per
source tree), runs one workload in a fresh JVM, checks every result digest
against the digests frozen in workloads.json, and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The environment of the run (cores, master, heap, commit,
seed, load canary) is printed on the line before it.

    python3 perfbench/run.py --freeze        # re-freeze digests (serial)
    python3 perfbench/run.py --oracle        # graft.Verify + scripts/check.py
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
DATA = os.path.join(HERE, "data", "sf0.1")
WORKLOADS = os.path.join(HERE, "workloads.json")
CLASSPATH = os.path.join(WORK, "classpath.txt")
STAMP = os.path.join(WORK, "build.stamp")
# The heap size the engine's own build gives its JVMs. The benchmark pins
# the heap at that size and fixes the young generation: with the collector
# sizing them, peak resident memory varied by 20% between runs of the same
# work.
DRIVER_MEM = os.environ.get("SPARK_DRIVER_MEM", "8g")
JVM_HEAP = [f"-Xms{DRIVER_MEM}", f"-Xmx{DRIVER_MEM}", "-Xmn512m"]
# Untimed warm-up before the window, in seconds of nominal pass time.
WARMUP_S = 14
# Packages the JVM opens to Spark, one a line; the sbt tests read it too.
JAVA_OPENS = os.path.join(HERE, "java-opens.txt")
END_TO_END = {
    "setup_s": "s", "latency_p50_s": "s", "latency_p90_s": "s",
    "throughput_qpm": "1/min", "peak_rss_mb": "MB",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), JAVA_OPENS,
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(src_hash):
    """Compiles the engine and the benchmark; skipped when the sources are
    unchanged since the last build in this checkout."""
    if os.path.exists(STAMP) and open(STAMP).read() == src_hash \
            and os.path.exists(CLASSPATH):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("sbt build failed")
    cp = [l for l in proc.stdout.splitlines() if "scala-2.13/classes" in l
          and not l.startswith("[")]
    if not cp:
        fail("sbt did not print the runtime classpath")
    os.makedirs(WORK, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(src_hash)


def commit_id():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             text=True)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


def java(main_class, args, log):
    """Runs `main_class` of the build in a fresh JVM, with Spark's
    directories emptied under WORK and SPARK_GRAFT_CPUS set to the cores
    this process may use; the measured runs and the oracle dump share it."""
    for d in ("warehouse", "tmp", "cwd"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        os.makedirs(os.path.join(WORK, d))
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    cmd = ["java"] + JVM_HEAP
    with open(JAVA_OPENS) as fh:
        for p in fh.read().split():
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={WORK}/tmp",
        f"-Dspark.sql.warehouse.dir={WORK}/warehouse",
        f"-Djava.io.tmpdir={WORK}/tmp",
        "-cp", open(CLASSPATH).read(), main_class,
    ] + args
    with open(log, "w") as fh:
        return subprocess.run(cmd, cwd=os.path.join(WORK, "cwd"), env=env,
                              stdout=fh, stderr=subprocess.STDOUT)


def run_jvm(workload, queries, seed, warmup, passes, trace):
    """Runs one workload in a fresh JVM and returns its result document."""
    out = os.path.join(WORK, f"result_{workload}.json")
    log = os.path.join(WORK, f"jvm_{workload}.log")
    if os.path.exists(out):
        os.remove(out)
    proc = java("perfbench.PerfBench", [
        "--workload", workload, "--seed", str(seed),
        "--warmup", str(warmup), "--passes", str(passes),
        "--trace", "1" if trace else "0",
        "--data", DATA, "--out", out,
    ] + queries, log)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM exited with {proc.returncode}; log in {log}")
    with open(out) as fh:
        return json.load(fh)


def quantile(xs, q):
    """Inclusive-method quantile; q in (0, 1)."""
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def check(doc, expected):
    """Counts invocations that failed or whose digest differs from the
    frozen one, and reports each to stderr."""
    failed = 0
    for inv in doc["invocations"]:
        want = expected[inv["query"]]
        if inv["error"] is not None or inv["digest"] != want:
            failed += 1
            print(f"perfbench: {inv['query']} pass {inv['pass']}: "
                  f"{inv['error'] or 'digest ' + str(inv['digest'])} "
                  f"(expected {want})", file=sys.stderr)
    return failed


def end_to_end(doc):
    setup = doc["setup"]
    invs = doc["invocations"]
    lat = [i["latency_ms"] / 1000.0 for i in invs]
    return {
        "setup_s": setup["session_build_s"] + setup["tables_resolve_s"],
        "latency_p50_s": statistics.median(lat),
        "latency_p90_s": quantile(lat, 0.9),
        "throughput_qpm": len(invs) / (doc["window"]["seconds"] / 60.0),
        "peak_rss_mb": doc["env"]["peak_rss_mb"],
    }


PER_LAYER = {
    "session.build_s": "s", "session.tables_resolve_s": "s",
    "build.ms": "ms", "build.jobs": "count", "build.stages": "count",
    "build.tasks": "count", "build.materialized_bytes": "bytes",
    "plan.optimize_ms": "ms", "plan.physical_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_ms": "ms", "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms", "exec.task_queue_ms": "ms", "exec.slot_util": "ratio",
    "exec.input_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.output_rows": "count",
    "op.agg_ms": "ms", "op.sort_ms": "ms", "op.join_build_ms": "ms",
    "op.scan_ms": "ms", "op.rows_scanned": "count", "op.peak_mem_bytes": "bytes",
    "storage.leaked_rdds": "count", "storage.peak_bytes": "bytes",
    "write.bytes": "bytes", "write.files": "count",
    "trace.overhead_frac": "ratio", "trace.residual_ms": "ms",
}


def per_invocation_layers(inv):
    """Every per-layer metric of one invocation, from its spans and the
    counters the benchmark JVM attributed to them."""
    m = dict(inv["layers"])
    m["build.ms"] = inv["build_ms"]
    m["plan.optimize_ms"] = inv["optimize_ms"]
    m["plan.physical_ms"] = inv["physical_ms"]
    m["exec.ms"] = inv["exec_ms"]
    m["exec.output_rows"] = int(inv["digest"].split(":")[0]) if inv["digest"] else 0
    m["trace.residual_ms"] = inv["latency_ms"] - (
        inv["build_ms"] + inv["optimize_ms"] + inv["physical_ms"] + inv["exec_ms"])
    return m


def per_layer(doc):
    """Per-layer metrics summed over the invocations of one pass (the mean
    over the passes), plus set-up and the tracing overhead: the time the
    client threads spent on tracing (span bookkeeping, plan walks, storage
    snapshots) plus the time inside the listener, over the window's wall
    time."""
    invs = doc["invocations"]
    window = doc["window"]
    passes = window["passes"]
    per_inv = [per_invocation_layers(i) for i in invs]
    sums = {k: sum(m.get(k, 0.0) for m in per_inv) / passes for k in PER_LAYER}
    exec_ms = sums["exec.ms"]
    cores = doc["env"]["cores"]
    sums["exec.slot_util"] = sums["exec.task_ms"] / (exec_ms * cores) if exec_ms else 0.0
    sums["session.build_s"] = doc["setup"]["session_build_s"]
    sums["session.tables_resolve_s"] = doc["setup"]["tables_resolve_s"]
    tracing_ms = window["listener_ms"] + sum(
        m["trace.residual_ms"] + m["trace.harness_ms"] for m in per_inv)
    sums["trace.overhead_frac"] = tracing_ms / (window["seconds"] * 1000.0)
    return sums, per_inv


def measure(args, spec):
    src = source_hash()
    build(src)
    # Warm-up and window are whole numbers of passes, fixed by the
    # workload's nominal pass time, so every run does the same work.
    warmup = max(1, int(WARMUP_S // spec["pass_s"]))
    passes = max(1, int(args.seconds // spec["pass_s"]))
    doc = run_jvm(args.workload, list(spec["queries"]),
                  args.seed, warmup, passes, args.trace)
    attempted = len(doc["invocations"])
    failed = check(doc, spec["queries"])
    env = dict(doc["env"], commit=commit_id(), source_sha256=src[:16],
               samples=attempted, passes=doc["window"]["passes"],
               failed_frac=failed / attempted)
    if args.trace:
        values, per_inv = per_layer(doc)
        units = PER_LAYER
        with open(os.path.join(WORK, f"trace_{args.workload}.json"), "w") as fh:
            json.dump({"env": env, "per_pass": values, "invocations": [
                dict(query=i["query"], spans=i["spans"], metrics=m)
                for i, m in zip(doc["invocations"], per_inv)]}, fh, indent=1)
    else:
        values, units = end_to_end(doc), END_TO_END
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))


def freeze(workloads):
    """Runs every query of every workload once, serially, and records its
    digest. Queries shared by two workloads must digest the same."""
    src = source_hash()
    build(src)
    names = sorted({q for spec in workloads.values() for q in spec["queries"]})
    doc = run_jvm("freeze", names, 0, 1, 1, False)
    digests = {}
    for inv in doc["invocations"]:
        if inv["error"] is not None:
            fail(f"{inv['query']} failed while freezing: {inv['error']}")
        digests[inv["query"]] = inv["digest"]
    for spec in workloads.values():
        spec["queries"] = {q: digests[q] for q in spec["queries"]}
    with open(WORKLOADS, "w") as fh:
        json.dump(workloads, fh, indent=1)
        fh.write("\n")
    print(f"froze {len(digests)} digests into {WORKLOADS}")


def oracle(workloads):
    """Dumps every workload query with graft.Verify at sf0.1 and compares
    the oracle-backed ones with DuckDB through scripts/check.py."""
    build(source_hash())
    names = sorted({q for spec in workloads.values() for q in spec["queries"]})
    out = os.path.join(WORK, "verify_out")
    shutil.rmtree(out, ignore_errors=True)
    log = os.path.join(WORK, "verify.log")
    if java("graft.Verify", [DATA, out] + names, log).returncode != 0:
        fail(f"graft.Verify failed; log in {log}")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle_sql = json.load(fh)
    backed = [n for n in names if n in oracle_sql]
    rc = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"),
                         out, DATA] + backed).returncode
    print(f"oracle-backed queries checked: {len(backed)} of {len(names)}; "
          f"check.py exit {rc}")
    sys.exit(rc)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--freeze", action="store_true")
    ap.add_argument("--oracle", action="store_true")
    args = ap.parse_args()
    for p in (os.path.join(ROOT, "src", "main", "scala"), WORKLOADS, DATA):
        if not os.path.exists(p):
            fail(f"missing {os.path.relpath(p, ROOT)}: run from a full checkout")
    with open(WORKLOADS) as fh:
        workloads = json.load(fh)
    if args.freeze:
        return freeze(workloads)
    if args.oracle:
        return oracle(workloads)
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    measure(args, workloads[args.workload])


if __name__ == "__main__":
    main()
