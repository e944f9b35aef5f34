#!/usr/bin/env python3
"""Layered benchmark of the graft engine: entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the library and the
harness with sbt (offline) and caches the launch spec under .bench_build/;
later calls rebuild only when a source or build file changed. The harness
then runs in one JVM with a fixed heap, and its last stdout line is the
result object: {"correct", "attempted", "failed", "metrics"}.

Extra modes (not used by the timed runs): --corrupt-pin (self-test: a wrong
pin must be counted as failed), --profile <out.json> (whole-surface traced
profile), --pin <set> (print pins.tsv rows for a set), --staging <dir>
(write the seeded GeoNames staging only).
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "4g"
YOUNG = "1g"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840


def fail(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    """Hash of the paths, sizes and mtimes of everything the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile library + harness with sbt if the sources changed; return the
    launch spec (classpath, then the library's JVM options)."""
    spec = os.path.join(BUILD, "launch.txt")
    stamp = os.path.join(BUILD, "launch.fingerprint")
    fp = fingerprint()
    if os.path.exists(spec) and os.path.exists(stamp) and open(stamp).read() == fp:
        return open(spec).read().splitlines()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0:
        fail("build failed", 3)
    os.makedirs(BUILD, exist_ok=True)
    shutil.copyfile(os.path.join(HERE, "target", "launch.txt"), spec)
    with open(stamp, "w") as f:
        f.write(fp)
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    return open(spec).read().splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--corrupt-pin", action="store_true")
    ap.add_argument("--profile")
    ap.add_argument("--pin")
    ap.add_argument("--staging")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"library source missing ({need}): run from the root of a checkout", 2)
    spec = build()

    work = os.path.join(BUILD, "run")
    for sub in ("tmp", "spark-local", "out", "stage", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + spec[1:] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Dperfbench.heap={HEAP}",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", spec[0], "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work,
            "--data", os.path.join(HERE, "data", "sf0.1"),
            "--pins", os.path.join(HERE, "pins.tsv")])
    if a.corrupt_pin:
        cmd.append("--corrupt-pin")
    for flag, v in (("--profile", a.profile), ("--staging", a.staging)):
        if v:
            cmd += [flag, os.path.abspath(v)]
    if a.pin:
        cmd += ["--pin", a.pin]
    timeout = None if (a.profile or a.pin) else RUN_TIMEOUT_S
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"harness exceeded {timeout} s", 4)
    finally:
        shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
        shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    if proc.returncode != 0:
        fail(f"harness exited with {proc.returncode}", 5)
    lines = out.splitlines()
    if a.profile or a.pin or a.staging:
        print("\n".join(lines))
        return
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail("harness printed no result line", 6)
    print("\n".join(lines[:-1]), file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
