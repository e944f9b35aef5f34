#!/usr/bin/env python3
"""Cross-check the surface pins against the DuckDB oracles.

    python3 perfbench/oracle_check.py [--timeout 120]

Dumps every pinned query with the library's own `graft.Verify` (using the
launch spec the benchmark built under .bench_build/), runs the query's
`SparkEntry.oracleSql` text in DuckDB over the same sf0.1 parquet, and
compares them the way the repository's correctness gate does: columns
sorted by name, rows sorted, floats at 9 significant digits. It also checks
that each dump's row count equals the pinned count. An oracle slower than
--timeout seconds is reported as SKIP. Exit status 1 on any mismatch.
"""
import argparse
import glob
import json
import os
import subprocess
import sys
import threading

import duckdb
import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
WORK = os.path.join(ROOT, ".bench_build", "perfbench", "oracle")


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def cell(v):
    if isinstance(v, (float, np.floating)):
        return f"{float(v):.9g}"
    if isinstance(v, np.integer):
        return str(int(v))
    return str(v)


def rows_repr(df):
    return ["|".join(cell(v) for v in r) for r in df.itertuples(index=False)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--timeout", type=float, default=120)
    a = ap.parse_args()
    pins = [l.rstrip("\n").split("\t") for l in open(os.path.join(HERE, "pins.tsv"))
            if l.strip() and not l.startswith("#")]
    names = sorted({p[1] for p in pins})
    spec = open(os.path.join(ROOT, ".bench_build", "perfbench", "launch.txt")).read().splitlines()
    subprocess.run(["java"] + spec[1:] + ["-Xmx6g", "-cp", spec[0], "graft.Verify",
                    DATA, WORK, ",".join(names)], cwd=ROOT, check=True,
                   env=dict(os.environ, SPARK_GRAFT_VERIFY_THREADS="1"))
    oracle = json.load(open(os.path.join(WORK, "oracle_sql.json")))
    con = duckdb.connect()
    for p in glob.glob(os.path.join(DATA, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = 0
    for _, q, rows, _ in pins:
        got = pd.concat([pd.read_parquet(f) for f in glob.glob(os.path.join(WORK, q, "*.parquet"))],
                        ignore_index=True)
        if len(got) != int(rows):
            print(f"PINROWS {q}: dump {len(got)}, pinned {rows}")
            bad += 1
            continue
        if q not in oracle:
            print(f"NOORACLE {q} ({len(got)} rows, pin only)")
            continue
        timer = threading.Timer(a.timeout, con.interrupt)
        timer.start()
        try:
            exp = con.execute(oracle[q]).fetchdf()
        except Exception as e:
            print(f"SKIP    {q}: oracle did not finish ({type(e).__name__})")
            continue
        finally:
            timer.cancel()
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns) or rows_repr(g) != rows_repr(e):
            print(f"DIFF    {q}: spark {len(g)} rows {list(g.columns)}, duckdb {len(e)} rows {list(e.columns)}")
            bad += 1
        else:
            print(f"MATCH   {q} ({len(g)} rows)")
    print(f"== {len(pins)} pins, {bad} mismatches ==")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
