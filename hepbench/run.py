#!/usr/bin/env python3
"""Run one workload of the validator benchmark and print one JSON result line.

    python3 hepbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                            [--corrupt-expectation]

Run it from the root of a checkout. The first run compiles the validator's
main sources together with the harness in hepbench/src (build.py) into
.bench_build/classes; later runs reuse that build while no source changed. Inputs, Spark scratch space and results stay under
.bench_build/. A traced run (--trace 1) also writes its spans to
.bench_build/spans/.

--corrupt-expectation alters one expected output, so a correct program must
be reported with failed > 0: the negative control of the output checks.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
from build import build, fail, spark_jars  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("hep_small_dirs", "page_pipeline")
HEAP = "4g"
DEADLINE_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def run_jvm(cmd, deadline):
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run exceeded its time limit", 4)


def oracle_check(root, outputs, tables):
    """Compare the query outputs with DuckDB over the same tables, through
    the repository's oracle script; returns the number of failing queries."""
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "compare_oracle.py"),
                        outputs, tables], capture_output=True, text=True)
    print(f"hepbench: oracle check in {time.time() - t0:.1f} s", file=sys.stderr)
    lines = r.stdout.splitlines()
    bad = [line for line in lines if not line.startswith("OK ")]
    for line in bad:
        print(f"hepbench: oracle {line}", file=sys.stderr)
    if r.returncode != 0 or not lines:
        print(r.stderr, file=sys.stderr)
        return max(1, len(bad))
    return len(bad)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expectation", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    jars = spark_jars(root)
    classes = build(root, out, jars)

    deadline = time.time() + DEADLINE_S
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(out, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    result = os.path.join(results, tag + ".json")
    if os.path.exists(result):
        os.remove(result)
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                                    os.path.join(jars, "*")]),
            "hepbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", root,
            "--work", work, "--out", result,
            "--corrupt-expectation", "1" if a.corrupt_expectation else "0"]
    queries = a.workload == "page_pipeline" and a.trace == 1
    try:
        if queries:
            tables = os.path.join(work, "tables")
            subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"), tables,
                            str(a.seed)], check=True)
            cmd += ["--tables", tables]
        code = run_jvm(cmd, deadline)
        oracle_failed = oracle_check(root, os.path.join(work, "query-out"), tables) \
            if queries and code == 0 else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(result):
        fail(f"harness exited with code {code}", 5)
    if a.trace:
        spans = result + ".spans.jsonl"
        os.makedirs(os.path.join(out, "spans"), exist_ok=True)
        shutil.move(spans, os.path.join(out, "spans", tag + ".spans.jsonl"))

    res = json.load(open(result))
    res["failed"] += oracle_failed
    res["correct"] = res["correct"] and oracle_failed == 0
    metrics = res["metrics"]
    for k in sorted(metrics):
        print(f"{k} = {metrics[k]['value']:.6g} {metrics[k]['unit']}")
    print(f"samples = {res['samples']} timed operations of {res['attempted']} checked")
    print(f"failed_share = {res['failed'] / res['attempted']:.6g}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
