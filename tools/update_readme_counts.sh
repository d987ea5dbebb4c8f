#!/usr/bin/env bash
# Regenerate the README status block from the registry itself (graft.Counts)
# plus a spec census — the hand-maintained numbers were wrong two rounds
# running. Usage: tools/update_readme_counts.sh [round-label]
set -euo pipefail
cd "$(dirname "$0")/.."

# --check: regenerate the status block and FAIL (exit 1) if the README's
# committed block disagrees with what the committed artifacts produce —
# the guard that makes a stale-README state impossible to commit silently
# (round 13 shipped a README derived from one bench window next to a
# BENCH_FULL.json from another). Run it in CI / pre-commit. In check mode
# the round label is read from the existing block so an unchanged README
# can't fail on the label alone.
CHECK=0
ARGS=()
for a in "$@"; do
  if [ "$a" = "--check" ]; then CHECK=1; else ARGS+=("$a"); fi
done
ROUND="${ARGS[0]:-current}"
if [ "$CHECK" = 1 ]; then
  ROUND=$(sed -n 's/^Status (\(.*\)): .*$/\1/p' README.md | head -1)
  ROUND="${ROUND:-current}"
fi
# the forked run prints straight to stdout, unprefixed (build.sbt outputStrategy)
OUT=$(sbt -batch "runMain graft.Counts" 2>/dev/null | sed -n '/^\(queries=\|oracled=\|no_oracle\|names=\)/p')
QUERIES=$(echo "$OUT" | sed -n 's/^queries=//p')
ORACLED=$(echo "$OUT" | sed -n 's/^oracled=//p')
NO_ORACLE_N=$(echo "$OUT" | sed -n 's/^no_oracle_n=//p')
NO_ORACLE=$(echo "$OUT" | sed -n 's/^no_oracle=//p')
# registered query names: artifact-derived figures below skip any name a
# committed artifact still carries for a row that has since been deleted
export REGISTERED=$(echo "$OUT" | sed -n 's/^names=//p')
if [ -z "$QUERIES" ] || [ -z "$REGISTERED" ]; then
  echo "graft.Counts printed no registry census (does the build compile?)" >&2
  exit 2
fi
# Spec count = what the last test run ran: the sum of the tests= attributes
# of sbt's per-suite JUnit reports, for suites whose source still exists
# (a deleted suite's report would otherwise linger in the count).
SPECS=$(python3 - <<'PYEOF'
import glob, os, re, sys
total, seen = 0, 0
for f in glob.glob("target/test-reports/TEST-graft.*.xml"):
    suite = os.path.basename(f)[len("TEST-graft."):-len(".xml")]
    if not os.path.exists(f"src/test/scala/graft/{suite}.scala"):
        continue
    m = re.search(r'<testsuite [^>]*?tests="(\d+)"', open(f).read())
    if m:
        total += int(m.group(1)); seen += 1
if seen == 0:
    print("no test reports under target/test-reports: run the tests "
          "(sbt \"testOnly *\") before regenerating the status block",
          file=sys.stderr)
    sys.exit(1)
print(total)
PYEOF
)

# Registry-growth policy nudge (README "Registry growth policy"): WARN on
# newly added overhead-dominated bench rows. Never fatal.
python3 tools/registry_cost_guard.py >&2 || true

# Bench narrative numbers come FROM the committed artifact, never typed by
# hand (the hand-typed total drifted from BENCH_FULL.json two rounds
# running).
BENCH_LINE=$(python3 - <<'PYEOF'
import json, statistics, sys
try:
    d = json.load(open("BENCH_FULL.json"))
except Exception:
    print("Bench: BENCH_FULL.json not present.")
    raise SystemExit
# Since round 12 "queries" holds the per-query FLOOR (min of `reps`
# executions) and "single_shot" the first execution; older files carry a
# single-shot "queries" plus an optional "min3" floor map.
import os
registered = set(os.environ["REGISTERED"].split(","))
def live(m):
    return {k: v for k, v in m.items() if k in registered}
qs = live(d.get("queries", {}))
vals = sorted(qs.values())
total = sum(vals)
med = statistics.median(vals) if vals else 0.0
worst = max(qs.items(), key=lambda kv: kv[1]) if qs else ("-", 0.0)
reps = d.get("reps", 1)
label = f"min-of-{reps} floors" if reps > 1 and "single_shot" in d else "single-shot"
# artifacts written before Bench recorded "master" keep the label they were
# published with
master = d.get("master", "local[32]")
line = (f"Bench (BENCH_FULL.json, sf0.1 {master}, {label}): {total:.1f} s "
        f"total over {len(qs)} queries, median {med:.2f} s, worst {worst[0]} "
        f"{worst[1]:.2f} s, setup {d.get('setup_sec', 0.0):.1f} s.")
if "single_shot_total" in d:
    line += f" First-shot (cold-plan) total {d['single_shot_total']:.1f} s."
# Registry growth guard: with ~0.3 s of fixed planning/launch cost per
# query, N queries x overhead is a large, growing share of the floor
# total — surfacing it lets future rounds tell planning overhead from
# compute regressions at a glance before adding more rows.
ss = live(d.get("single_shot", {}))
if ss and qs:
    overhead = sum(max(0.0, ss[q] - qs[q]) for q in qs if q in ss)
    line += (f" Estimated fixed per-query overhead (first-shot minus "
             f"floor, summed): {overhead:.1f} s = "
             f"{100 * overhead / max(total, 1e-9):.0f}% of the floor "
             f"total (cold planning/launch cost, amortized on a "
             f"long-lived session or cluster).")
m3 = live(d.get("min3") or {})
if m3:
    m3total = sum(m3.values())
    m3worst = max(m3.items(), key=lambda kv: kv[1])
    line += (f" Isolated re-run floor (min of {d.get('reps', 3)}): "
             f"{m3total:.1f} s total, worst {m3worst[0]} {m3worst[1]:.2f} s.")
# The Spark-vs-DuckDB ratio comes ONLY from the matched-window pair:
# BENCH_PAIRED.json and BASELINE_DUCKDB.json floored back-to-back by
# tools/make_bench_pair.sh in ONE calm window, stamped with one pair_id.
# BENCH_FULL.json is deliberately NOT used here — the end-of-round
# snapshot clobbers it with whatever window the driver ran in, and a
# cross-window numerator/denominator violates BASELINE.md's protocol
# (the round-13 defect). A mismatched pair is a HARD ERROR, not a skip.
try:
    bp = json.load(open("BENCH_PAIRED.json"))
    dd = json.load(open("BASELINE_DUCKDB.json"))
except FileNotFoundError:
    bp = dd = None
    line += (" No matched-window Spark-vs-DuckDB pair present "
             "(run tools/make_bench_pair.sh in a calm window).")
if bp is not None:
    bpid, ddid = bp.get("pair_id"), dd.get("pair_id")
    if not bpid or bpid != ddid:
        print(f"PAIR MISMATCH: BENCH_PAIRED.json pair_id={bpid!r} != "
              f"BASELINE_DUCKDB.json pair_id={ddid!r} — re-run "
              f"tools/make_bench_pair.sh; refusing to publish a "
              f"cross-window ratio", file=sys.stderr)
        sys.exit(3)
    pq = live(bp.get("queries", {}))
    dmin = live(dd.get("min", {}))
    common = sorted(set(pq) & set(dmin))
    if common:
        ss = sum(pq[q] for q in common)
        ds = sum(dmin[q] for q in common)
        wins = sum(1 for q in common if pq[q] < dmin[q])
        # wins among the compute-heavy slice: derived, not asserted
        heavy = [q for q in common if dmin[q] >= 1.0]
        hwins = sum(1 for q in heavy if pq[q] < dmin[q])
        line += (f" Single-node DuckDB baseline on the same {len(common)} "
                 f"oracle queries (matched-window pair {bpid}: "
                 f"BENCH_PAIRED.json min-of-{bp.get('reps', 3)} "
                 f"{ss:.1f} s vs BASELINE_DUCKDB.json min-of-"
                 f"{dd.get('reps', 3)} {ds:.1f} s) -> ratio {ss/ds:.2f}x; "
                 f"Spark ahead on {wins}/{len(common)} overall and "
                 f"{hwins}/{len(heavy)} of the queries DuckDB itself needs "
                 f">=1 s for (see BASELINE.md for the reading protocol).")
try:
    st = json.load(open("BENCH_STREAM.json"))
    line += (f" Streaming ingest (BENCH_STREAM.json, full 4-sink fan-out, "
             f"{st['micro_batches']} micro-batches): {st['value']:.0f} rows/s "
             f"over {st['lines']} wire-format lines — {st['ingest_floor_margin_x']:.0f}x "
             f"the reference's 8,000-rows-in-60s IT floor and "
             f"{st['counter_floor_margin_x']:.0f}x its 500-counter-rows floor "
             f"(BASELINE.md; KafkaStreamingActorSpec.scala:59-69).")
    if "batch_p50_ms" in st:
        line += (f" Micro-batch commit latency p50/p95 "
                 f"{st['batch_p50_ms']}/{st['batch_p95_ms']} ms.")
except Exception:
    pass
try:
    st = json.load(open("SCALE_STRESS.json"))
    qs_ = live(st["queries"])
    wr = max(qs_.items(), key=lambda kv: kv[1]["ratio"])
    # derive the claim from the data, never assert it unconditionally: a
    # linear_ok pass allows ratio up to rep*1.5, so "linear-or-better"
    # must be checked against the actual worst per-corpus-x factor
    per_x = wr[1]["ratio"] / st["rep"]
    if not st["all_ok"]:
        shape = "AT LEAST ONE QUERY FAILED the linear/plan-shape gate"
    elif per_x <= 1.0:
        shape = "every query linear-or-better in corpus growth"
    else:
        shape = "all queries within the rep*1.5 linear gate"
    flips = sum(1 for v in qs_.values() if v.get("plan_flip"))
    flip_txt = ("no plan flips to nested-loop/cartesian" if flips == 0
                else f"{flips} PLAN FLIP(S) to nested-loop/cartesian")
    line += (f" Scale stress (SCALE_STRESS.json, {len(qs_)} worst-floor "
             f"queries at 1x vs a {st['rep']}x-replicated key-shifted "
             f"corpus): all_ok={str(st['all_ok']).lower()} — {shape} "
             f"(worst ratio {wr[1]['ratio']:.1f}x, i.e. {per_x:.2f}x "
             f"per corpus-x, on {wr[0]}), {flip_txt}.")
except Exception:
    pass
try:
    ab = json.load(open("BENCH_TOPK_AB.json"))
    h, w = live(ab["heap_min"]), ab["window_min"]
    hs, ws = sum(h.values()), sum(w[q] for q in h)
    hw = sum(1 for q in h if h[q] < w[q])
    line += (f" TopKPerKey A/B (BENCH_TOPK_AB.json, same declarative "
             f"queries, min-of-{ab.get('reps', 3)}): heap {hs:.2f} s vs "
             f"excluded-rewrite window plan {ws:.2f} s ({ws/hs:.2f}x), "
             f"winning {hw}/{len(h)}")
    hi = ab.get("heap_iter_min")
    if hi:
        his = sum(hi[q] for q in h)
        line += (f"; the whole-stage-codegen build (round 12) accounts for "
                 f"{his/hs:.2f}x of that over the iterator heap's "
                 f"{his:.2f} s.")
    else:
        line += " net of its whole-stage-codegen break."
except Exception:
    pass
try:
    ab = json.load(open("BENCH_BAND_AB.json"))
    r, n = live(ab["rewrite_min"]), ab["nested_loop_min"]
    worst = max(r, key=lambda q: n.get(q, 0) / r[q])
    ratio = n[worst] / r[worst]
    line += (f" BandJoinRewrite A/B (BENCH_BAND_AB.json, naive band joins, "
             f"min-of-{ab.get('reps', 3)}): vs the excluded-rule "
             f"BroadcastNestedLoopJoin the rewrite's win scales with "
             f"|L|*|R| — up to {ratio:.0f}x on {worst} "
             f"({n[worst]:.1f} s -> {r[worst]:.2f} s); dimension-sized "
             f"sides are a wash, exactly the expected shape.")
except Exception:
    pass
print(line)
PYEOF
)

BLOCK=$(cat <<EOF
<!-- STATUS-BEGIN (generated by tools/update_readme_counts.sh — do not edit by hand) -->
Status ($ROUND): $QUERIES registered queries, $ORACLED with DuckDB
oracles (the driver's hash-compare gate); the remaining $NO_ORACLE_N
($NO_ORACLE)
are inherently engine-order-dependent or estimate-valued and are
ScalaTest-bounded instead. $SPECS ScalaTest specs. SURVEY §2 coverage
is 51/51. $BENCH_LINE
Per-query seconds in BENCH_FULL.json; bucketed-layout DDL and stored
index/graph/MV builds reported separately as setup_sec.
<!-- STATUS-END -->
EOF
)

python3 - "$BLOCK" "$CHECK" <<'PYEOF'
import re, sys
block, check = sys.argv[1], sys.argv[2] == "1"
readme = open("README.md").read()
marked = re.compile(r"<!-- STATUS-BEGIN.*?STATUS-END -->", re.S)
if check:
    m = marked.search(readme)
    current = m.group(0) if m else "<no status block>"
    if current.strip() != block.strip():
        import difflib
        print("README STATUS BLOCK IS STALE — its numbers disagree with "
              "the committed artifacts it claims to derive from. Re-run "
              "tools/update_readme_counts.sh <round>.", file=sys.stderr)
        sys.stderr.writelines(difflib.unified_diff(
            current.splitlines(True), block.splitlines(True),
            "README.md (committed)", "regenerated-from-artifacts"))
        sys.exit(1)
    print("README status block matches the committed artifacts")
    raise SystemExit
if marked.search(readme):
    readme = marked.sub(block, readme)
else:
    # first run: replace the legacy hand-written status paragraph (from
    # "Status (round N):" to end of file)
    readme = re.sub(r"Status \(round \d+\):.*\Z", block + "\n", readme, flags=re.S)
open("README.md", "w").write(readme)
print("README.md status block updated")
PYEOF
