#!/usr/bin/env python3
"""Round-close checklist gate. Run before the round ends:

    python3 tools/round_close.py <round> [sfDir] [sf1Dir]

Checks, in order:
  1. BENCHDETAIL_r{N}.json exists and its queries_min keys cover EVERY
     query declared in SparkEntry.scala (r6 shipped a stale mid-round
     detail file covering 153/230 — this is the gate against that).
  2. Oracle output types are in the driver-safe set (local_verify.py
     --typescan): a HUGEINT/DECIMAL/UINTEGER oracle column hash-fails
     at the driver even when values match.
  3. The newest committed BENCHSCALE_r*.json postdates every commit
     touching operator/kernel/query sources (r8 shipped a pre-fix scale
     curve as the round's evidence — this is the gate against that).
  4. docs/QUERIES.md is regenerated (stale index = wrong judge picture).
  5. Canary-normalized cross-round regression gate: BENCHDETAIL_r{N} vs
     the newest earlier BENCHDETAIL, compared in CANARY UNITS
     (bench_compare.py), flagging only normalized regressions > 1.25×.
     Raw-seconds drift that the machine canary explains does NOT flag —
     this one line replaces the r9–r11 era-attribution archaeology.
  6. The env-gated sf1 pin assertions in EntrySpec actually EXECUTE
     (not cancel): run whenever a tiled sf1 dir is available — pass it
     as sf1Dir, set SPARK_GRAFT_SF1_DIR, or leave the run_benches.sh
     workdir's `big/` discoverable via SPARK_GRAFT_BENCH_WORKDIR. The
     pins only bind when something runs them; before this gate they
     canceled in every default `sbt test`.
  7. The full-surface sf1 oracle sweep is assembled for THIS round
     (CORRECTNESS_sf1_full_r{N}.json), committed, fresh vs the hot
     dirs, with zero unexplained mismatches and at most
     $SPARK_GRAFT_SF1_PENDING_BUDGET (default 0) pending heavy
     oracles, each carrying documented carryover evidence.
  8. Real-reference parity runs LIVE (tools/refparity: the actual
     geonames.js vs the engine, byte-compare + edge semantics) and
     REFPARITY_r{N}.json is committed. 8b: the full-dump parity
     artifact (REFPARITY_FULLDUMP_r*) is ancestry-fresh vs everything
     it executes.
  9. JsNum differential fuzz vs node (50k fresh-seed bit patterns).
  10. The newest BENCH_r*/CORRECTNESS_r*/LEAKCHECK round artifacts are
     committed clean — the r14 verdict found them untracked at judge
     time; the artifact chain must stay in-history.
  11. docs/PLANS.md is regenerated by graft.tools.ExplainDump and shows
     no diff (a stale plan dossier hides the plan a change made).

Exit 0 only when all gates pass. The typescan needs an oracle_sql.json;
pass sfDir (default /root/testdata/sf0.01) and the script dumps one via
`graft.Verify <sfDir> <tmp> none` (the no-match filter skips queries).
"""
import json
import os
import re
import subprocess
import sys
import tempfile

rnd = int(sys.argv[1])
sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
sf1_dir = sys.argv[3] if len(sys.argv) > 3 else None
repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
failures = []

# -- 1. bench-detail coverage ------------------------------------------
# declarations live in the per-family objects under graft/entry/
import glob as _glob
declared = set()
for p in _glob.glob(os.path.join(repo, "src/main/scala/graft/entry/*Queries.scala")):
    declared |= set(re.findall(r'"(q_[a-z_0-9]+)" -> \(\(s', open(p).read()))
detail_path = os.path.join(repo, f"BENCHDETAIL_r{rnd:02d}.json")
if not os.path.exists(detail_path):
    failures.append(f"missing {detail_path} — run Bench at sf0.1 and copy "
                    "target/bench-detail.json there")
else:
    detail = json.load(open(detail_path))
    have = set(detail.get("queries_min", {}))
    missing = sorted(declared - have)
    extra = sorted(have - declared)
    if missing:
        failures.append(f"BENCHDETAIL_r{rnd:02d} misses {len(missing)}/"
                        f"{len(declared)} declared queries: {missing[:8]}...")
    if extra:
        failures.append(f"BENCHDETAIL_r{rnd:02d} has undeclared keys: {extra[:8]}")
    print(f"bench-detail: {len(have)}/{len(declared)} declared queries covered")

# The compiled classes (`sbt compile`) plus the Spark jars, for the gates
# that run an engine main directly.
java = ["java", "-cp",
        os.path.join(repo, "target/scala-2.13/classes") + ":" + ":".join(
            os.path.join("/opt/spark/jars", j)
            for j in os.listdir("/opt/spark/jars") if j.endswith(".jar")),
        "-Xmx4g"] + ["--add-opens=java.base/%s=ALL-UNNAMED" % m for m in (
            "java.lang", "java.lang.invoke", "java.io", "java.net", "java.nio",
            "java.util", "java.util.concurrent", "sun.nio.ch", "sun.nio.cs",
            "sun.security.action", "sun.util.calendar")]

# -- 2. oracle output types --------------------------------------------
with tempfile.TemporaryDirectory() as tmp:
    dump = subprocess.run(java + ["graft.Verify", sf_dir, tmp, "none"],
                          capture_output=True, text=True)
    oracle_json = os.path.join(tmp, "oracle_sql.json")
    if not os.path.exists(oracle_json):
        failures.append(f"oracle_sql.json dump failed: {dump.stderr[-400:]}")
    else:
        scan = subprocess.run(
            [sys.executable, os.path.join(repo, "tools/local_verify.py"),
             "--typescan", sf_dir, oracle_json],
            capture_output=True, text=True)
        print(scan.stdout.strip().splitlines()[-1])
        if scan.returncode != 0:
            failures.append("oracle typescan failed:\n" + scan.stdout)

# -- 3. bench-artifact freshness (BENCHSCALE and BENCHDETAIL) ----------
# The r8 postmortem: a scale curve was committed, the flagged operators
# were then fixed, and the STALE pre-fix measurements shipped as the
# round's evidence. Gate: the newest committed bench artifact must have
# no operator/kernel/query commits AFTER it in COMMIT ANCESTRY — the r9
# wall-clock-timestamp compare could be fooled by rebases/cherry-picks
# with preserved dates; `git rev-list <artifact-commit>..HEAD -- <dirs>`
# is exact under both. BENCHDETAIL gets the same gate (r9 carried it for
# BENCHSCALE only — a stale warm-min detail, the evidence the driver-
# overhead ratio is judged against, could still ship).
# Every dir whose code a BENCHED query executes. sources/ (Tables,
# Layout — q_zorder_scan, q_bucket_join), multimodal/ (q_image_decode,
# q_audio_decode) and the graft/*.scala roots (SparkEntry wires the
# declarations; Bench IS the measurement harness) are hot: a commit to
# any of them after the artifacts ships a stale curve through a green
# gate — exactly the r8 postmortem. streaming/ and geonames/ stay out,
# documented: no declared bench query executes code from either (the
# stream twins are spec-only, the geonames path is unit/golden-tested).
HOT_DIRS = ["src/main/scala/graft/operators",
            "src/main/scala/graft/functions",
            "src/main/scala/graft/entry",
            "src/main/scala/graft/sources",
            "src/main/scala/graft/multimodal",
            "src/main/scala/graft/SparkEntry.scala",
            "src/main/scala/graft/Bench.scala",
            "src/main/scala/graft/Verify.scala",
            "src/main/scala/graft/GraftExtensions.scala"]


def last_commit_of(path):
    r = subprocess.run(["git", "log", "-1", "--format=%H", "--", path],
                       cwd=repo, capture_output=True, text=True)
    return r.stdout.strip() or None


def commits_after(commit, paths):
    """Hot-dir commits strictly after `commit` in ancestry (exact under
    rebases and amended dates, unlike wall-clock %ct compares)."""
    r = subprocess.run(["git", "rev-list", f"{commit}..HEAD", "--"] + paths,
                       cwd=repo, capture_output=True, text=True)
    return [c for c in r.stdout.split() if c]


def freshness_gate(pattern, rerun_hint, dirs=None):
    files = sorted(f for f in os.listdir(repo) if re.fullmatch(pattern, f))
    if not files:
        failures.append(f"no {pattern} committed — {rerun_hint}")
        return
    latest = files[-1]
    commit = last_commit_of(latest)
    if commit is None:
        failures.append(f"{latest} exists but is not committed")
        return
    stale_vs = commits_after(commit, dirs or HOT_DIRS)
    if stale_vs:
        failures.append(
            f"{latest} predates {len(stale_vs)} later commit(s) touching "
            f"its sources (e.g. {stale_vs[0][:12]}) — "
            f"the artifact no longer measures HEAD; {rerun_hint}")
    else:
        print(f"freshness: {latest} postdates all its sources (ancestry)")


freshness_gate(r"BENCHSCALE_r\d+\.json",
               "re-run tools/bench_scale.py over fresh sf0.1/sf1 details "
               "and commit the refreshed curve")
freshness_gate(r"BENCHDETAIL_r\d+\.json",
               "re-run graft.Bench at sf0.1 and commit the refreshed "
               "target/bench-detail.json")

# -- 5. canary-normalized cross-round regression gate -------------------
# bench_compare divides every per-query floor by its run's machine-era
# canary (Bench.canaryRun) before comparing, so a slow/noisy box era
# does not read as hundreds of small regressions; only a NORMALIZED
# per-query regression > 1.25x (plus 0.3 canary-unit absolute) fails.
prev = sorted(f for f in os.listdir(repo)
              if re.fullmatch(r"BENCHDETAIL_r\d+\.json", f)
              and int(re.findall(r"\d+", f)[0]) < rnd)
cur_detail = f"BENCHDETAIL_r{rnd:02d}.json"
if not prev:
    print("canary gate: no earlier BENCHDETAIL — first round, skipped")
elif not os.path.exists(os.path.join(repo, cur_detail)):
    pass  # gate 1 already failed on the missing detail file
else:
    # a committed BENCH_ADJUDICATION_r{N}.json carries this round's
    # isolated-rerun + no-code-change proofs for flagged queries; the
    # compare prints them loudly but doesn't fail on them
    adj_path = os.path.join(repo, f"BENCH_ADJUDICATION_r{rnd:02d}.json")
    adj_args = [f"--adjudicated={adj_path}"] if os.path.exists(adj_path) else []
    cmp_run = subprocess.run(
        [sys.executable, os.path.join(repo, "tools/bench_compare.py"),
         os.path.join(repo, prev[-1]), os.path.join(repo, cur_detail),
         "1.25", "--fail"] + adj_args,
        capture_output=True, text=True)
    out = cmp_run.stdout.strip()
    print("canary gate vs " + prev[-1] + ":")
    for line in out.splitlines():
        print("  " + line)
    if "CANARY-NORMALIZED" not in out:
        failures.append(
            f"bench compare vs {prev[-1]} ran in RAW mode — one side lacks "
            "a canary; re-run graft.Bench (it brackets every run with "
            "canaryRun) or merge_details.py (it carries canary_min)")
    if cmp_run.returncode != 0:
        failures.append(
            f"canary-normalized regression(s) vs {prev[-1]} — see SLOWER "
            "lines above; adjudicate with an isolated rerun "
            "(SPARK_GRAFT_BENCH_ONLY) before shipping, per the noise "
            "methodology in docs/THROUGHPUT.md")

# -- 6. sf1 pins actually execute ---------------------------------------
# The EntrySpec sf1 pin tests assume() on SPARK_GRAFT_SF1_DIR, so a
# default `sbt test` cancels them; this gate runs them against a tiled
# sf1 dir so the committed PINS_sf1_*.json bind every round. Dir
# resolution order: argv[3], $SPARK_GRAFT_SF1_DIR,
# $SPARK_GRAFT_BENCH_WORKDIR/big (what run_benches.sh tiles).
if sf1_dir is None:
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR")
if sf1_dir is None:
    wd = os.environ.get("SPARK_GRAFT_BENCH_WORKDIR")
    if wd and os.path.isdir(os.path.join(wd, "big")):
        sf1_dir = os.path.join(wd, "big")
if sf1_dir is None or not os.path.isdir(sf1_dir):
    failures.append(
        "no tiled sf1 dir for the pin gate — run_benches.sh builds one "
        "(<workdir>/big); pass it as argv[3] or set SPARK_GRAFT_SF1_DIR / "
        "SPARK_GRAFT_BENCH_WORKDIR so the sf1 pins execute instead of "
        "canceling")
else:
    env = dict(os.environ, SPARK_GRAFT_SF1_DIR=sf1_dir)
    pins = subprocess.run(
        # two -z filters (OR): the rows-only pin maps AND the GK
        # rank-error test that is q_approx_quantile's PRIMARY sf1 pin
        # since its layout-pinned hash was demoted to a witness
        ["sbt", "-batch",
         'testOnly graft.EntrySpec -- -z "sf1 pins" -z "q_approx_quantile sf1"'],
        cwd=repo, env=env, capture_output=True, text=True)
    tail = "\n".join(pins.stdout.splitlines()[-12:])
    m = re.search(r"Tests: succeeded (\d+), failed (\d+), canceled (\d+)",
                  pins.stdout)
    if not m:
        failures.append("sf1 pin run produced no ScalaTest summary:\n" + tail)
    else:
        ok, bad, canceled = (int(g) for g in m.groups())
        print(f"sf1 pins ({sf1_dir}): {ok} succeeded, {bad} failed, "
              f"{canceled} canceled")
        if bad or canceled or ok == 0:
            failures.append(
                f"sf1 pin assertions did not all execute+pass "
                f"(succeeded={ok} failed={bad} canceled={canceled}):\n" + tail)

# -- 7. full-surface sf1 oracle sweep (budgeted) -------------------------
# A scale-only correctness regression (the r12 zero-length-interval bug)
# is invisible to the sf0.01 driver gate; the full sf1 sweep is the only
# net that catches it the round it lands. Gate on the ASSEMBLED artifact
# (tools/sf1_assemble.py merging sf1_full_check / sf1_graph_sample /
# sf1_heavy_closure results):
#   - CORRECTNESS_sf1_full_r{N}.json exists for THIS round,
#   - zero unexplained mismatches,
#   - every non-matched query is either a reasoned sketch regime
#     (expected_mismatch) or a pending with a documented carryover note
#     (fallback_evidence / note) — the carryover LEDGER,
#   - pendings within the budget knob ($SPARK_GRAFT_SF1_PENDING_BUDGET,
#     default 0 now that the heavy-closure runner finishes the whole
#     surface in minutes; raise deliberately if an oracle regresses past
#     the round's timeout ceiling),
#   - artifact committed and fresh vs the hot dirs (same ancestry rule
#     as gate 3 — a sweep of pre-fix dumps must not ship as evidence).
sf1_art = f"CORRECTNESS_sf1_full_r{rnd}.json"
budget = int(os.environ.get("SPARK_GRAFT_SF1_PENDING_BUDGET", "0"))
if not os.path.exists(os.path.join(repo, sf1_art)):
    failures.append(
        f"missing {sf1_art} — run the sf1 sweep (graft.Verify at the tiled "
        "dir, tools/sf1_full_check.py + sf1_graph_sample.py + "
        "sf1_heavy_closure.py, then tools/sf1_assemble.py)")
else:
    art = json.load(open(os.path.join(repo, sf1_art)))
    qrecs = art.get("queries", {})
    unexplained = list(art.get("mismatches", []))
    no_ledger = []
    for q in art.get("oracle_timeouts", []) + art.get("errors", []):
        r = qrecs.get(q, {})
        if not (r.get("fallback_evidence") or r.get("note")):
            no_ledger.append(q)
    pend = len(art.get("oracle_timeouts", [])) + len(art.get("errors", []))
    print(f"sf1 sweep: {art.get('n_hash_matched')}/{art.get('n_queries')} "
          f"hash-matched, {pend} pending (budget {budget}), "
          f"{len(unexplained)} unexplained mismatches")
    if unexplained:
        failures.append(f"{sf1_art} has unexplained sf1 mismatches: "
                        f"{unexplained}")
    if no_ledger:
        failures.append(f"{sf1_art} pendings without carryover evidence: "
                        f"{no_ledger}")
    if pend > budget:
        failures.append(
            f"{sf1_art}: {pend} pending oracle(s) exceed the budget "
            f"({budget}) — finish them via tools/sf1_heavy_closure.py / "
            "the big-memory retry, or raise "
            "SPARK_GRAFT_SF1_PENDING_BUDGET deliberately with a ledger")
    commit = last_commit_of(sf1_art)
    if commit is None:
        failures.append(f"{sf1_art} exists but is not committed")
    else:
        stale_vs = commits_after(commit, HOT_DIRS)
        if stale_vs:
            failures.append(
                f"{sf1_art} predates {len(stale_vs)} later commit(s) "
                f"touching operator/kernel/query sources "
                f"(e.g. {stale_vs[0][:12]}) — re-dump the affected "
                "queries at sf1 and re-assemble")
        else:
            print(f"freshness: {sf1_art} postdates all operator sources "
                  "(ancestry)")

# -- 8. real-reference execution parity (live) ---------------------------
# tools/refparity runs the ACTUAL /root/reference/geonames.js transform
# (verbatim module code over library shims) against GeoNames.transform:
# byte-equal NDJSON on the spec cast and a 20k-row adversarial-coordinate
# sweep, plus the crash and empty-filters edge semantics pinned on the
# real file. ~2 min; a geonames-path drift that keeps the golden green
# but diverges from the reference (the r13 integral-".0" find) fails
# here the round it lands.
refp = subprocess.run(
    [sys.executable, os.path.join(repo, "tools/refparity/refparity.py"),
     os.path.join(repo, f"REFPARITY_r{rnd}.json")],
    cwd=repo, capture_output=True, text=True)
tail8 = "\n".join((refp.stdout or refp.stderr).splitlines()[-6:])
if refp.returncode != 0:
    failures.append("real-reference parity failed (tools/refparity):\n"
                    + tail8)
else:
    print(f"refparity: all_ok (REFPARITY_r{rnd}.json)")
    if subprocess.run(["git", "status", "--porcelain",
                       f"REFPARITY_r{rnd}.json"], cwd=repo,
                      capture_output=True, text=True).stdout.strip():
        failures.append(f"REFPARITY_r{rnd}.json was regenerated — commit it")

# -- 8b. FULL-DUMP real-reference parity freshness ------------------------
# tools/refparity/fulldump.py runs the verbatim (sha256-pinned, sandboxed)
# geonames.js across the complete 8M-row staging and byte-compares all
# 4,000,000 records, plus pins the dump-scale crash on the original
# staging. ~25 min (the reference is single-threaded and its curried
# per-row filters are slow), so unlike gate 8 it is NOT re-run per close;
# the gate is ancestry freshness against every source the run executes —
# the engine geonames path, the staging/driver tools, and the shim
# harness. A commit to any of those after the newest artifact means the
# artifact no longer proves HEAD: re-run fulldump.py and commit.
freshness_gate(r"REFPARITY_FULLDUMP_r\d+\.json",
               "re-run tools/refparity/fulldump.py and commit the artifact",
               dirs=["src/main/scala/graft/geonames",
                     "src/main/scala/graft/tools/GeoBench.scala",
                     "src/main/scala/graft/tools/RefParityDump.scala",
                     "tools/refparity"])

# -- 9. JsNum differential fuzz (quick, live) -----------------------------
# graft.geonames.JsNum renders doubles as node's JSON.stringify does —
# the NDJSON sink's byte-fidelity kernel, with its OWN shortest-digit
# selection (Java ≤18 Double.toString is not ECMAScript shortest form).
# A drift here keeps `sbt test` green on the 30 pinned edge cases but
# diverges on the long tail; this ~20 s live fuzz (50k uniform bit
# patterns + coordinate-like decimals + the hard-case list, fresh seed
# per round) compares the compiled kernel against node bit-for-bit.
fuzz = subprocess.run(
    [sys.executable, os.path.join(repo, "tools/jsnum_fuzz.py"),
     "50000", str(1000 + rnd)],
    capture_output=True, text=True, cwd=repo)
fuzz_tail = (fuzz.stdout or fuzz.stderr).strip().splitlines()[-1:]
print("jsnum fuzz:", *fuzz_tail)
if fuzz.returncode != 0:
    failures.append("JsNum differential fuzz vs node found diffs:\n"
                    + (fuzz.stderr or fuzz.stdout)[-800:])

# -- 10. round artifacts tracked ----------------------------------------
# The r14 verdict found BENCH_r14.json / CORRECTNESS_r14.json untracked
# and LEAKCHECK.json modified at judge time — the artifact chain must
# stay in-history. Gate: the NEWEST BENCH_r*/CORRECTNESS_r* in the repo
# root and LEAKCHECK.json must be committed clean (tracked, unmodified).
for pat in (r"BENCH_r\d+\.json", r"CORRECTNESS_r\d+\.json",
            r"LEAKCHECK\.json"):
    # numeric newest, not lexicographic (r100 > r99)
    def round_num(f):
        m = re.search(r"\d+", f)
        return int(m.group()) if m else 0
    cands = sorted((f for f in os.listdir(repo) if re.fullmatch(pat, f)),
                   key=round_num)
    if not cands:
        continue
    newest = cands[-1]
    st = subprocess.run(["git", "status", "--porcelain", "--", newest],
                        cwd=repo, capture_output=True, text=True).stdout.strip()
    if st:
        failures.append(f"round artifact {newest} is untracked/modified "
                        f"({st.split()[0]}) — commit it so the artifact "
                        "chain stays in-history")
    else:
        print(f"artifact tracked: {newest}")

# -- 4. query index ----------------------------------------------------
subprocess.run([sys.executable, os.path.join(repo, "tools/gen_query_index.py")],
               check=True, cwd=repo)
if subprocess.run(["git", "diff", "--quiet", "docs/QUERIES.md"],
                  cwd=repo).returncode != 0:
    failures.append("docs/QUERIES.md was stale — regenerated, commit it")

# -- 11. plan dossier ---------------------------------------------------
# docs/PLANS.md regenerates byte-identical from unchanged code (ExplainDump
# masks the run-to-run tokens), so any diff is a plan change that was not
# committed with the code that made it.
plans = subprocess.run(java + ["graft.tools.ExplainDump"], cwd=repo,
                       capture_output=True, text=True)
if plans.returncode != 0:
    failures.append("ExplainDump failed:\n" + plans.stderr[-800:])
elif subprocess.run(["git", "diff", "--quiet", "docs/PLANS.md"],
                    cwd=repo).returncode != 0:
    failures.append("docs/PLANS.md was stale — regenerated, commit it")
else:
    print("plan dossier: docs/PLANS.md regenerates unchanged")

if failures:
    print("\nROUND-CLOSE GATES FAILED:")
    for f in failures:
        print(" -", f)
    sys.exit(1)
print("\nround-close gates: all green")
