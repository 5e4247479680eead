#!/usr/bin/env python3
"""Repo benchmark: one command, two seeded workloads (see README.md).

    python3 perfbench/run.py --workload frontier_probe --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (the program through its own build.sbt, so the JVM runs
with the options that build ships); later runs reuse the build while the
sources are unchanged. Build output and run data live under `.bench_build/`.

The last line of standard output is one JSON object:
{"correct": …, "attempted": …, "failed": …, "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. The lines before it are JSON details: named metrics per workload
(urls_per_s or pages_per_s, failed_share, …), check results, input
properties, the effective Spark conf and, when traced, the spans.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["frontier_probe", "page_results"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# variables the program's build.sbt or session factory read; unset, so the
# shipped defaults apply
SHIPPED = ("SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS", "SPARK_GC")


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def clean_env():
    """The shipped settings: no SPARK_GRAFT_* or other overrides."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in SHIPPED}
    env.setdefault("COURSIER_MODE", "offline")
    return env


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"), os.path.abspath(__file__)]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's build.sbt and src/main/scala are not next to perfbench/; "
             "run from the root of a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "launch.stamp")
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = source_stamp()
    if os.path.isfile(launch) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return launch
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                               cwd=HERE, env=clean_env(), stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=max(1, deadline - time.time()))
        except (subprocess.TimeoutExpired, FileNotFoundError) as e:
            fail("build did not finish: %s (log: %s)" % (e, log_path))
    if p.returncode != 0 or not os.path.isfile(launch):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("build failed (log: %s)" % log_path)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return launch


def read_launch(path):
    cp, opts, cur = [], [], None
    with open(path) as fh:
        for line in fh:
            line = line.rstrip("\n")
            if line == "# classpath":
                cur = cp
            elif line == "# javaOptions":
                cur = opts
            elif line and cur is not None:
                cur.append(line)
    return cp, opts


def run_jvm(launch, main_args, work, deadline):
    cp, opts = read_launch(launch)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = clean_env()
    # The one departure from the shipped settings: the session factory's
    # default spark.local.dir is a tmpfs outside the checkout, and a run may
    # write only inside it. Shuffle files are small here (spark.shuffle_write_s
    # in the traced run measures the time spent writing them).
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = ([java] + opts
           + ["-Djava.io.tmpdir=" + tmp,
              "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
              "-cp", os.pathsep.join(cp)]
           + main_args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("the benchmark JVM did not finish in time")
    if p.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        fail("the benchmark JVM exited with code %d" % p.returncode, 1)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="test the benchmark's own generators and checks")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    start = time.time()
    launch = build(start + BUILD_LIMIT_S)
    work = os.path.join(BUILD, "work", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        deadline = time.time() + RUN_LIMIT_S
        if a.selftest:
            out = run_jvm(launch, ["perfbench.SelfTest"], work, deadline)
            sys.stdout.write(out)
            return
        with open(os.path.join(BUILD, "launch.stamp")) as fh:
            state = os.path.join(BUILD, "state", fh.read()[:16])
        out = run_jvm(launch, ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", str(a.trace),
                               "--work", work, "--state", state], work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in out.splitlines():
        tag, _, body = line.partition(" ")
        if tag in ("PERFBENCH_DETAIL", "PERFBENCH_SPANS"):
            print(body)
        elif tag == "PERFBENCH_RESULT":
            result = json.loads(body)
    if result is None:
        fail("the benchmark JVM printed no result", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
