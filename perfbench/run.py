#!/usr/bin/env python3
"""Run one perfbench workload against the graft sources in this checkout.

    python3 perfbench/run.py --workload lakehouse_incremental --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. Builds graft and the benchmark with sbt
(offline) into .bench_build/ when the sources changed since the last
build, runs the workload in a fresh JVM with a pinned heap and
local[nproc], checks the outputs, and prints the workload's named figures
followed by one JSON line: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Exits 1 when an output check failed, 2 when the benchmark cannot run.
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

WORKLOADS = ("lakehouse_incremental", "lake_serving")
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def stop(p):
    """Kill a child that is still running, and wait for it to end."""
    if p is not None and p.poll() is None:
        p.kill()
        p.wait()


def source_stamp(root, bench):
    """Hash of every input of the build, so an unchanged tree is not rebuilt."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "build.sbt"),
              os.path.join(root, "project", "build.properties"),
              os.path.join(bench, "build.sbt"),
              os.path.join(bench, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(bench, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, bench, out):
    """sbt build; returns the JVM options + classpath lines to launch with."""
    launch = os.path.join(out, "launch.txt")
    stamp_file = os.path.join(out, "stamp")
    stamp = source_stamp(root, bench)
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(launch) as f:
                    return f.read().split("\n")
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    # offline: the toolchain resolves from its local caches only, through
    # the user's sbt repositories file when one is set up
    opts = env.get("SBT_OPTS")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if opts is None and os.path.isfile(repos):
        opts = "-Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
    env["SBT_OPTS"] = " ".join([opts or "", "-Dsbt.offline=true",
                                "-Djava.io.tmpdir=" + tmp, "-XX:-UsePerfData"]).strip()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           "-Dsbt.global.base=" + os.path.join(out, "sbt-global"),
           "writeLaunch"]
    t0 = time.time()
    with open(os.path.join(out, "build.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=bench, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die("build timed out")
        finally:
            stop(p)
    if rc != 0:
        with open(os.path.join(out, "build.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"build failed (exit {rc})")
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    shutil.copy(os.path.join(bench, "target", "launch.txt"), launch)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(launch) as f:
        return f.read().split("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a termination request unwinds through the finally blocks below,
    # which stop the child processes and delete the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    bench = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(root, "build.sbt")):
        die("run from the repository root: graft's sources (src/main/scala/graft) "
            "and build.sbt are missing")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    launch = [l for l in build(root, bench, out) if l]

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(root, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result_file = os.path.join(run_dir, "result.json")
    java = shutil.which("java") or die("java is not on PATH")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = [java, "-Xmx" + HEAP, "-Xms" + HEAP, "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp] + launch + [
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(cores), "--root", run_dir, "--out", result_file]
    p = None
    try:
        # the JVM's stdout goes to stderr: this script's last stdout line
        # must be the result
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"{a.workload} did not finish within {RUN_TIMEOUT_S}s")
        if rc != 0 or not os.path.exists(result_file):
            die(f"{a.workload} exited with {rc} and no result")
        with open(result_file) as f:
            res = json.load(f)
        for name in ("spans", "jobs"):
            f = os.path.join(run_dir, name + ".tsv")
            if os.path.exists(f):
                shutil.copy(f, os.path.join(out, f"{name}-{a.workload}.tsv"))
    finally:
        stop(p)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds:g} trace {a.trace} "
          f"cores {cores} heap {HEAP}")
    for name, m in res["report"].items():
        print(f"  {name:<28} {m['value']:.6g} {m['unit']}")
    for n in res["notes"]:
        print(f"  note: {n}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
