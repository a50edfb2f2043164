#!/usr/bin/env python3
"""graft's benchmark: one command per workload.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 15 --trace 0

Builds graft and the harness from source (once per source state, into
`.bench_build/`), generates the workload's inputs from the seed, runs the
harness JVM, checks every answer against DuckDB, and prints a summary
followed by one JSON line: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import verdict  # noqa: E402

WORKLOADS = ("serve_read", "serve_mixed", "batch_board")
RUN_LIMIT_S = 170  # the whole command, build excluded
BUILD_LIMIT_S = 800
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        fail("no Spark installation found; set SPARK_HOME")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(os.path.join(roots[0], "graft")):
        fail("graft's sources (src/main/scala/graft) are not in this checkout")
    files = []
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files) + [os.path.join(HERE, "build.sh")]


def build(jars):
    """Compiles once per source state; later runs reuse the classes."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(ROOT, ".bench_build", "classes")
    stamp = os.path.join(ROOT, ".bench_build", "stamp")
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    t0 = time.time()
    if run_child(["bash", os.path.join(HERE, "build.sh"), out, jars], BUILD_LIMIT_S, "build",
                 stdout=sys.stderr, stderr=sys.stderr) != 0:
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return out


def run_child(cmd, limit_s, what, **kw):
    """Runs `cmd` to completion within `limit_s`; stops it with this process,
    whatever ends this process."""
    proc = subprocess.Popen(cmd, **kw)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{what} did not finish within {limit_s:.0f} s")


def run_jvm(classes, jars, spec_path, out_path, work, limit_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *ADD_OPENS, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch",
           "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", f"{classes}{os.pathsep}{jars}/*",
           "perfbench.Main", spec_path, out_path]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        code = run_child(cmd, limit_s, f"harness (log: {work}/jvm.log)",
                         stdout=log, stderr=subprocess.STDOUT, cwd=work)
    if code != 0 or not os.path.exists(out_path):
        fail(f"harness exited with {code} (log: {work}/jvm.log)")
    with open(out_path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    started = time.time()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec = inputs.make(args.workload, args.seed, args.seconds, args.trace, work, os.cpu_count() or 1)
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    raw = run_jvm(classes, jars, spec_path, os.path.join(work, "out.json"), work,
                  RUN_LIMIT_S - (time.time() - started))
    result = verdict.evaluate(spec, raw)
    result["fingerprint"] = inputs.fingerprint(work)
    if args.trace:
        keep = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(keep, exist_ok=True)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(keep, f"{args.workload}-seed{args.seed}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    named = {m["name"] for m in cfg["end_to_end"] + cfg["per_layer"]}
    result["unlisted"] = {k: v for k, v in result["metrics"].items() if k not in named}
    # a layer this workload does not use reads 0
    metrics = {m["name"]: {"value": result["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
               for m in cfg["per_layer" if args.trace else "end_to_end"]}
    verdict.print_summary(args.workload, result, metrics)
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
