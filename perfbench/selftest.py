#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the library).

    python3 perfbench/selftest.py

1. A corrupted pin is caught: `--corrupt-pin` on surface_exec (one
   query's content hash altered) and on geonames_ndjson (expected pit count
   off by one) must report correct=false and failed > 0.
2. Seed 0 reproduces GeoBench's staging byte for byte: the harness's
   staging and `graft.tools.GeoBench`'s, both at 240,000 rows on this
   host's core count, are compared file by file.
3. Without the library beside it (a directory holding only BENCHMARK.json
   and perfbench/) the benchmark exits non-zero and prints no result.
"""
import filecmp
import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench", "selftest")
RUN = [sys.executable, os.path.join(HERE, "run.py")]
GEONAMES_ROWS = 240000  # GeoNdjson.rows


def check(ok, msg):
    print(("PASS " if ok else "FAIL ") + msg, flush=True)
    return ok


def corrupt_pin(workload):
    r = subprocess.run(RUN + ["--workload", workload, "--seed", "1", "--seconds", "2",
                              "--trace", "0", "--corrupt-pin"],
                       cwd=ROOT, capture_output=True, text=True)
    res = json.loads(r.stdout.splitlines()[-1]) if r.returncode == 0 else {}
    return check(res.get("correct") is False and res.get("failed", 0) > 0,
                 f"corrupted pin caught on {workload}: "
                 f"failed={res.get('failed')}/{res.get('attempted')}")


def staging_parity():
    ours, theirs = os.path.join(WORK, "ours"), os.path.join(WORK, "geobench")
    subprocess.run(RUN + ["--staging", ours, "--seed", "0"], cwd=ROOT, check=True,
                   capture_output=True)
    spec = open(os.path.join(ROOT, ".bench_build", "perfbench", "launch.txt")).read().splitlines()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    subprocess.run(["java"] + spec[1:] + ["-Xmx4g", "-cp", spec[0], "graft.tools.GeoBench",
                    str(GEONAMES_ROWS), theirs], cwd=ROOT, env=env, check=True, capture_output=True)
    theirs = os.path.join(theirs, "stage")

    def parts(d):
        return b"".join(open(f, "rb").read() for f in sorted(glob.glob(os.path.join(d, "ac", "part-*"))))
    same = parts(ours) == parts(theirs) and len(parts(ours)) > 0 and all(
        filecmp.cmp(os.path.join(ours, f), os.path.join(theirs, f), shallow=False)
        for f in ("admin1CodesASCII.txt", "admin2Codes.txt"))
    return check(same, "seed 0 staging is byte-identical to GeoBench's")


def bare_directory():
    bare = os.path.join(WORK, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "data"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "surface_exec",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    return check(r.returncode != 0 and r.stdout.strip() == "",
                 f"bare directory exits {r.returncode} with no result")


def main():
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    results = [corrupt_pin("surface_exec"), corrupt_pin("geonames_ndjson"),
               staging_parity(), bare_directory()]
    shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(0 if all(results) else 1)


if __name__ == "__main__":
    main()
