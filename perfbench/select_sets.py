#!/usr/bin/env python3
"""Choose the two surface query sets from a whole-surface traced profile.

    python3 perfbench/select_sets.py perfbench/selection_profile.json

The profile (written by `run.py --profile`) holds, per declared query, the
warm traced wall split into construction, planning and execution, plus the
listener's job/task/shuffle counts. The rule, applied to every query that
ran without error:

  driver share = (entry.construct_s + catalyst.plan_wall_s + sched.driver_gap_s) / wall_s
  exec share   = (exec.run_s - sched.driver_gap_s - sched.delay_s) / wall_s

  driver set: driver share >= 0.5
  exec set:   exec share >= 0.6, with exec.task_run_s > 0.25 s of task time

Each set is stratified over the 9 query families (the entry/*Queries.scala
file that declares the query): every family contributes its highest-share
qualifier whose warm wall is at most CAP_S. The cap keeps a cold run (set-up
plus the timed passes) inside the benchmark's time budget. Prints the chosen
names per set with their shares.
"""
import glob
import json
import os
import re
import sys

CAP_S = 0.8
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def families():
    fam = {}
    for f in sorted(glob.glob(os.path.join(ROOT, "src/main/scala/graft/entry/*Queries.scala"))):
        name = os.path.basename(f)[:-len("Queries.scala")].lower()
        src = open(f).read()
        decl = src[:src.find("val oracles")]
        for q in re.findall(r'"(q_[A-Za-z0-9_]+)"\s*->', decl):
            fam.setdefault(q, name)
    return fam


def shares(p):
    w = p["wall_s"]
    driver = (p["entry.construct_s"] + p["catalyst.plan_wall_s"] + p["sched.driver_gap_s"]) / w
    exe = (p["exec.run_s"] - p["sched.driver_gap_s"] - p["sched.delay_s"]) / w
    return driver, exe


def pick(cands):
    """Per family, the highest-share qualifier within the cap."""
    best = {}
    for q, fam, share, wall in sorted(cands, key=lambda c: (-c[2], c[0])):
        if wall <= CAP_S and fam not in best:
            best[fam] = (q, fam, share, wall)
    return [best[f] for f in sorted(best)]


def main():
    prof = json.load(open(sys.argv[1]))
    fam = families()
    driver, exe = [], []
    for q, p in prof["queries"].items():
        if "error" in p or q not in fam:
            continue
        d, e = shares(p)
        if d >= 0.5:
            driver.append((q, fam[q], d, p["wall_s"]))
        if e >= 0.6 and p["exec.task_run_s"] > 0.25:
            exe.append((q, fam[q], e, p["wall_s"]))
    for name, cands in (("driver", driver), ("exec", exe)):
        chosen = pick(cands)
        total = sum(c[3] for c in chosen)
        print(f"# {name}: {len(cands)} qualify, {len(chosen)} chosen, warm wall {total:.2f} s")
        for q, f, s, w in chosen:
            print(f"{name}\t{q}\t{f}\tshare={s:.2f}\twall={w:.3f}")


if __name__ == "__main__":
    main()
