#!/usr/bin/env python3
"""Warehouse benchmark: builds the engine with the harness, generates the
inputs, runs one workload closed-loop from one client thread on a
local[nproc] Spark session, checks every output and prints every metric
with its unit.

    python3 perfbench/run.py --workload curation-mix --seed 1 --seconds 8 --trace 0

Run from the repository root. Workloads:
  curation-mix  8 Dedup + Similarity entries, after pre-building the
                artifacts they read; each pass runs every entry once in a
                seed-drawn order
  etl-upsert    seeded 5,000-row dirty transaction chunks through
                RetailIngest's cleaning, enrichment and last-write-wins,
                MERGEd into a graft-jsonl table, each followed by a read-back
                checked against a plain-Scala model of the table
  olap-mix      the reference's ten OLAP reports (Q1-Q10), run like
                curation-mix; not in BENCHMARK.json (see perfbench/README.md)

The star schema is generated once per checkout (gen.py, fixed data seed);
query outputs are checked against pinned row counts and hashes
(pins/sf0.01.tsv). The run exits 1 when any op failed. With --trace 0 the
last line carries the end-to-end metrics, with --trace 1 the per-layer ones
(from the traced passes, which alternate with untraced ones); a traced run
writes its spans to perfbench/.out/spans-<workload>.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SF = "0.01"
DATA_SEED = 42
XMX = "3g"
JVM_TIMEOUT_S = 170

# the end-to-end metrics of BENCHMARK.json; the report prints more
E2E = [("setup_s", "s"), ("op_p50_s", "s"), ("ops_per_s", "1/s"), ("rss_peak_mb", "MB")]
LAYERS = [
    ("session.start_s", "s"),
    ("artifacts.wall_s", "s"), ("artifacts.sum_s", "s"), ("artifacts.parallelism", "x"),
    ("artifacts.pole_s", "s"), ("artifacts.failed", "count"),
    ("memo.first_over_warm_max", "x"), ("memo.first_over_warm_geo", "x"),
    ("builder.s", "s"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("codegen.compile_s", "s"), ("codegen.classes", "count"),
    ("codegen.setup_compile_s", "s"), ("codegen.setup_classes", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.cpu_s", "s"), ("exec.run_s", "s"), ("exec.gc_s", "s"),
    ("exec.busy_frac", "fraction"), ("exec.driver_s", "s"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("shuffle.fetch_wait_s", "s"),
    ("spill.mb", "MB"),
    ("scan.input_mb", "MB"), ("scan.input_rows", "rows"), ("scan.rows_per_result_row", "x"),
    ("lake.commit_s", "s"), ("lake.files_added", "count"), ("lake.files_live", "count"),
    ("lake.bytes_written_per_commit", "B"), ("lake.write_amp", "x"),
    ("ingest.enrich_s", "s"), ("ingest.rows_in", "rows"), ("ingest.rows_rejected", "rows"),
    ("ingest.fact_rows", "rows"),
    ("self.op_s", "s"), ("self.builder_s", "s"), ("self.plan_s", "s"), ("self.execute_s", "s"),
    ("self.enrich_s", "s"), ("self.merge_s", "s"), ("self.read_s", "s"), ("self.job_s", "s"),
    ("trace.overhead_frac", "fraction"), ("trace.ops", "count"),
]
WORKLOADS = ["curation-mix", "etl-upsert", "olap-mix"]
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "Compile/products"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (rc={r.returncode}), see {log}", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def dataset():
    """The generated star schema, made once per checkout."""
    d = os.path.join(HERE, ".data", f"sf{SF}-seed{DATA_SEED}")
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), tmp, "--sf", SF,
                        "--seed", str(DATA_SEED)], check=True)
        os.replace(tmp, d)
    return d


def load1():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_ticks():
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(args, work):
    spark_home = os.environ.get("SPARK_HOME") or fail("SPARK_HOME is not set")
    cp = CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", *opens, f"-Xms{XMX}", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", dataset(), "--pins", os.path.join(HERE, "pins", f"sf{SF}.tsv"),
            "--work", os.path.join(work, "jvm"), "--plant", args.plant,
            "--spans", os.path.join(HERE, ".out", f"spans-{args.workload}.jsonl")])
    env = dict(os.environ, GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"))
    os.makedirs(env["GRAFT_SCRATCH_DIR"], exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            env=env, cwd=work)
    try:
        out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"the benchmark JVM did not finish within {JVM_TIMEOUT_S} s", 4)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-6000:])
        fail(f"the benchmark JVM failed (rc={proc.returncode})", 5)
    for l in err.splitlines():
        if l.startswith("[perfbench]"):
            sys.stderr.write(l + "\n")
    return json.loads(lines[-1][len("PERFBENCH "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant", choices=["none", "hash", "sum"], default="none",
                    help="plant a wrong expected value (self-test only)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE}; run from the repository root")

    build()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    l0, t0, w0 = load1(), cpu_ticks(), time.time()
    try:
        res = run_jvm(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    l1, t1 = load1(), cpu_ticks()
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d) or 1
    host = {"nproc": os.cpu_count(), "load1_start": l0, "load1_end": l1,
            "iowait_frac": round(d[4] / total, 4), "steal_frac": round(d[7] / total, 4),
            "xmx": XMX, "java": res["jvm"]["java"], "spark": res["jvm"]["spark"],
            "jvm_cpus": res["jvm"]["cpus"], "head": head(), "sf": SF,
            "wall_s": round(time.time() - w0, 3)}

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} sf={SF}: {res['passes']} passes, "
          f"{res['attempted']} ops attempted, {res['failed']} failed")
    for name, m in res["e2e"].items():
        print(f"  {name:<22} {m['value']:>14.6g} {m['unit']:<9} n={m['n']}")
    for name, unit in LAYERS if args.trace else []:
        print(f"  {name:<32} {res['layers'][name]:>14.6g} {unit}")
    for name, e in res["entries"].items():
        print(f"  entry {name:<28} first {e['first_s']:8.3f} s  warm p50 {e['warm_p50_s']:8.3f} s"
              f"  n={e['n']}")
    print("  host: " + json.dumps(host, sort_keys=True))
    for note in res["notes"]:
        print(f"  note: {note}")
    for f in res["failures"]:
        print(f"  failure: {f}")

    names = LAYERS if args.trace else E2E
    src = res["layers"] if args.trace else {k: v["value"] for k, v in res["e2e"].items()}
    print(json.dumps({
        "correct": res["failed"] == 0, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {n: {"value": src[n], "unit": u} for n, u in names}}))
    sys.exit(0 if res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
