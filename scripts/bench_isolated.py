#!/usr/bin/env python3
"""Isolated per-family bench for round-over-round accounting (r14
verdict task 5): the driver's single-JVM 220-query sweep accumulates
JVM/JIT/cache pressure that has repeatedly produced phantom per-query
regressions (d05 r12, +11% r13, d27/t18 r14). This script re-measures
the TOP-N sweep queries in a FRESH JVM per query family (one sbt
runMain graft.Bench with SPARK_GRAFT_ONLY=<family subset>), so each
family's numbers carry only its own warmth, and merges the results
into BENCH_ISOLATED_r{N}.json next to the sweep numbers.

Usage: python3 scripts/bench_isolated.py [round] [topN] [sfDir]
(top-N is chosen from the committed BENCH_LOCAL.json sweep breakdown.)
"""
import json, subprocess, sys, collections, re, os

rnd = sys.argv[1] if len(sys.argv) > 1 else "15"
topn = int(sys.argv[2]) if len(sys.argv) > 2 else 30
sfdir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

sweep = json.load(open("BENCH_LOCAL.json"))
queries = sweep["queries"] if "queries" in sweep else sweep
top = [k for k, _ in sorted(queries.items(), key=lambda kv: -kv[1])[:topn]]

# r18 verdict task 5 — ledger completeness: every round's isolated set
# must be a SUPERSET of the previous round's (no adjudication holes
# when a key drops out of the top-N) plus ALL six ANN gate queries.
GATES = ["s02_ann_lsh", "s03_ann_ivf", "s06_cosine_pairs_lsh",
         "s12_ivf_pq", "s13_ivf_pq_residual", "s26_ann_index"]
# Keys deliberately renamed or removed from SparkEntry: a previous ledger
# may still carry them, and only these may be absent from the sweep.
# Add a key here in the change that retires it, with the reason.
RETIRED = []
prev = {}
for n in range(int(rnd) - 1, 13, -1):
    p = f"BENCH_ISOLATED_r{n}.json"
    if os.path.exists(p):
        prev = json.load(open(p)).get("isolated", {})
        break
prev = {k: v for k, v in prev.items() if k not in RETIRED}
# a partial sweep (SPARK_GRAFT_ONLY dev run committed by mistake) would
# silently drop gates/carried keys from the ledger — fail loudly instead
missing = sorted(set(list(prev) + GATES) - set(queries))
if missing:
    sys.exit(f"[isolated] BENCH_LOCAL.json is not a full sweep: missing "
             f"gates/carried keys {missing} — re-run the full Bench first, "
             f"or list a deliberately retired key in RETIRED")
carry = [k for k in list(prev) + GATES if k not in top]
top = top + sorted(set(carry))

fams = collections.defaultdict(list)
for q in top:
    fams[q[0]].append(q)  # family = leading letter (d/m/p/q/r/s/t)

out = {}
for fam in sorted(fams):
    names = ",".join(sorted(fams[fam]))
    env = dict(os.environ, SPARK_GRAFT_ONLY=names,
               SPARK_GRAFT_SF_DIR=sfdir, SPARK_GRAFT_CPUS="32")
    r = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                       env=env, capture_output=True, text=True)
    m = re.search(r'^\{"metric".*$', r.stdout, re.M)
    if not m:
        print(f"[isolated] family {fam} FAILED:\n{r.stdout[-2000:]}", file=sys.stderr)
        sys.exit(1)
    j = json.loads(m.group(0))
    out.update(j.get("queries", {}))
    print(f"[isolated] {fam}: {j.get('queries')}")

doc = {
    "round": int(rnd),
    "note": ("fresh JVM per query family (sbt runMain graft.Bench, "
             f"SPARK_GRAFT_ONLY per family), quiet machine, {sfdir}; "
             "sweep numbers for the same queries are in BENCH_LOCAL.json / "
             "the driver's BENCH_r{N}.json — divergence between the two "
             "columns is JVM-warmth/sweep pressure, not code"),
    "isolated": out,
    "sweep_at_selection": {k: queries[k] for k in top if k in queries},
}
path = f"BENCH_ISOLATED_r{rnd}.json"
json.dump(doc, open(path, "w"), indent=1)
print(f"[isolated] wrote {path} ({len(out)} queries)")
