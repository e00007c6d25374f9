#!/usr/bin/env python3
"""The benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark's
own sources when they changed (see build.py), runs one workload in one JVM on
`local[<cores>]`, and prints as its last stdout line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it is
the run record (input fingerprint and sizes, sample counts, check failures).
Exits 0 only when every output check passed.

`--max-buffered <n>` sets the capture buffer bound of the drainer; the
loss-check self-test sets it to 1 and expects a non-zero exit.
"""

import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("capture_live", "dedup_corpus")
JVM_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (the same set the root
# build passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_options(run_dir, traced):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    opts += [
        "-Xms3g", "-Xmx3g", "-Xmn1g",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-XX:ReservedCodeCacheSize=512m",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
        "-Dderby.system.home=" + tmp,
    ]
    if traced:
        opts.append("-Dspark.metrics.conf.*.sink.jmx.class="
                    "org.apache.spark.metrics.sink.JmxSink")
    return opts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--max-buffered", type=int)
    args = ap.parse_args()

    try:
        _, cp = build.build()
    except subprocess.CalledProcessError as e:
        sys.exit(f"run: build failed ({e.returncode})")

    target = build.target_dir()
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(target, "runs", name)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result = os.path.join(run_dir, "result.json")
    cmd = ["java"] + jvm_options(run_dir, args.trace == 1) + [
        "-cp", os.pathsep.join(cp), "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--result", result]
    if args.max_buffered is not None:
        cmd += ["--max-buffered", str(args.max_buffered)]

    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            cwd=build.ROOT)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(f"run: {args.workload} exceeded {JVM_TIMEOUT_S} s")
    if not os.path.exists(result):
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(f"run: {args.workload} ended ({rc}) without a result")
    with open(result) as f:
        lines = f.read().splitlines()
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):
        traces = os.path.join(target, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(spans, os.path.join(traces, name + ".jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()
    sys.exit(rc)


if __name__ == "__main__":
    main()
