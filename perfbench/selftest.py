#!/usr/bin/env python3
"""Self-test of the benchmark at small scale (short runs, a few ETL chunks).

    python3 perfbench/selftest.py

Asserts that
  * every metric named in BENCHMARK.json is printed with its unit (the
    end-to-end ones by an untraced run, the per-layer ones by a traced run);
  * a planted wrong pinned hash is counted in failed_frac and makes the run
    exit non-zero;
  * a planted wrong SUM(SALE_CENTS) in the ETL model is counted the same way.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*extra):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--seed", "7",
                        "--seconds", "1", *extra], cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if not lines:
        sys.exit(f"no output from run.py {' '.join(extra)}:\n{r.stderr[-3000:]}")
    return r.returncode, lines, json.loads(lines[-1])


def failed_frac(lines):
    row = next(l.split() for l in lines if l.strip().startswith("failed_frac"))
    return float(row[1])


def check_metrics(spec, res, lines):
    for m in spec:
        got = res["metrics"].get(m["name"])
        assert got is not None, f"{m['name']} missing from the result line"
        assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']} != {m['unit']}"
        assert any(l.split()[:1] == [m["name"]] and m["unit"] in l.split() for l in lines), \
            f"{m['name']} is not printed with its unit"


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = [w["name"] for w in bench["workloads"]]

    rc, lines, res = run("--workload", workloads[0], "--trace", "0")
    assert rc == 0 and res["correct"] and res["failed"] == 0, lines[-3:]
    check_metrics(bench["end_to_end"], res, lines)
    assert failed_frac(lines) == 0.0

    rc, lines, res = run("--workload", "etl-upsert", "--trace", "1")
    assert rc == 0 and res["correct"], lines[-3:]
    check_metrics(bench["per_layer"], res, lines)

    rc, lines, res = run("--workload", "curation-mix", "--trace", "0", "--plant", "hash")
    assert rc != 0 and not res["correct"] and res["failed"] >= 1, lines[-3:]
    assert failed_frac(lines) > 0, "planted hash not counted in failed_frac"

    rc, lines, res = run("--workload", "etl-upsert", "--trace", "0", "--plant", "sum")
    assert rc != 0 and not res["correct"] and res["failed"] >= 1, lines[-3:]
    assert failed_frac(lines) > 0, "planted SUM not counted in failed_frac"
    print("selftest: OK")


if __name__ == "__main__":
    main()
