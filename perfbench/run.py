#!/usr/bin/env python3
"""Benchmark command: builds the program from source (first run only), makes
the workload's inputs from the seed, runs one JVM for the workload, checks
its outputs, and prints one JSON result as the last line of stdout.

Usage: python3 perfbench/run.py --workload gates|search --seed N
                                --seconds S --trace 0|1

Run from the root of a checkout. Everything it writes goes under
perfbench/.build (classpath and build stamp) and perfbench/.work.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
CHECK_ORACLE = os.path.join(ROOT, "tools", "check_oracle.py")
GEN_REPS = 3

# fixed seed of the gates tables: the seed argument drives only the search
# inputs, so every gates run sees the same tables
GATES_SEED, GATES_SF = 42, 0.001
SEARCH_DOCS, SEARCH_READS, READ_LEN = 800, 200, 120

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every source and build file the benchmark compiles."""
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(HERE, "src/main/**/*.scala"),
                             recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found under {PROGRAM_SRC}")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "--error",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def timed_reps(fn):
    """Run the input generator GEN_REPS times; median seconds."""
    secs = []
    for _ in range(GEN_REPS):
        t0 = time.perf_counter()
        fn()
        secs.append(time.perf_counter() - t0)
    return statistics.median(secs)


def jvm_timeout_s(seconds, trace):
    """Seconds the JVM may run: an allowance for start, setup and the
    kernel timings plus twice the measured windows (three half windows
    when traced)."""
    return 140 + 2 * seconds * (1.5 if trace else 1)


def oracle_failures(tables, out):
    """Gates whose dumped rows differ from the DuckDB oracle, by the
    repository's tools/check_oracle.py. A gate that left no rows already
    failed in the JVM."""
    if not os.path.isfile(CHECK_ORACLE):
        fail(f"oracle check not found at {CHECK_ORACLE}")
    p = subprocess.run([sys.executable, CHECK_ORACLE, out, tables],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=120)
    with open(f"{out}/panel.json") as f:
        panel = json.load(f)
    bad = []
    for line in p.stdout.splitlines():
        m = re.match(r"(\S+): (MISMATCH|ERROR)", line)
        if m and glob.glob(f"{out}/{m.group(1)}/*.parquet"):
            print(f"perfbench: gate {line}", file=sys.stderr)
            bad.append(m.group(1))
    if p.returncode != 0 and not bad:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"oracle check exited with {p.returncode}")
    return bad, len(panel)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["gates", "search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = classpath()
    work = os.path.join(WORK, args.workload)
    subprocess.run(["rm", "-rf", work], check=True)
    for d in ("jtmp", "tmp", "out"):
        os.makedirs(os.path.join(work, d))
    inputs = os.path.join(work, "inputs")

    # the transcripts of the search workload's build stage are generated in
    # the JVM (Transcripts.generate); the JVM reports that time itself
    if args.workload == "gates":
        gen_s = timed_reps(lambda: gen.sf_tables(inputs, GATES_SEED, GATES_SF))
    else:
        gen_s = timed_reps(lambda: gen.search_inputs(
            inputs, args.seed, SEARCH_DOCS, SEARCH_READS, READ_LEN))

    # a fixed heap and the throughput collector keep heap sizing and GC
    # work from varying between runs
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}/jtmp"] +
           [x for p in ADD_OPENS for x in ("--add-opens",
                                           f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--inputs", inputs])
    launch = time.time()
    timeout = jvm_timeout_s(args.seconds, args.trace)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log,
                               text=True, timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"JVM did not finish within {timeout:.0f} s")
    lines = [l for l in p.stdout.splitlines()
             if l.startswith("GRAFTBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {p.returncode}")
    res = json.loads(lines[-1].split(" ", 1)[1])

    attempted, failed = res["attempted"], res["failed"]
    if args.workload == "gates":
        bad, panel = oracle_failures(inputs, os.path.join(work, "out"))
        # every execution of a gate whose rows disagree with the oracle fails
        failed = min(attempted, failed + len(bad) * (attempted // panel))

    setup_s = gen_s + res["ready_epoch_ms"] / 1000.0 - launch - \
        res["setup_excess_s"]
    measured = dict(res["layers"] if args.trace else res["e2e"])
    measured["setup_s"] = {"value": setup_s, "unit": "s"}
    measured["fail_frac"] = {"value": failed / attempted, "unit": "ratio"}
    # exactly the metrics BENCHMARK.json names; a per-layer metric of a
    # layer this workload does not exercise reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in spec:
        got = measured.get(m["name"], {"value": 0.0, "unit": m["unit"]})
        if got["unit"] != m["unit"]:
            fail(f"{m['name']} measured in {got['unit']}, not {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    detail = dict(res["detail"])
    detail["setup_s"] = {"value": setup_s, "unit": "s"}
    detail["fail_frac"] = {"value": failed / attempted, "unit": "ratio"}
    artifact = {"workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace,
                "attempted": attempted, "failed": failed,
                "sentinel": res["sentinel"], "detail": detail,
                "passes_s": res["passes_s"], "ops_median_s": res["ops"],
                "metrics": metrics}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    for name, m in sorted(detail.items()):
        print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
    print("sentinel " + json.dumps(res["sentinel"]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
