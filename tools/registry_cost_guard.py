#!/usr/bin/env python3
"""Registry run-cost guard: WARN when newly added queries are overhead-
dominated bench rows.

Every registered query costs ~0.3 s of fixed planning/launch overhead per
bench execution; with 291 queries that fixed cost already dominates the
floor total (~65%, see README). A query whose floor is essentially ALL
fixed overhead (first-shot ~= floor ~= the registry's launch floor) adds
bench minutes but no scale signal — its correctness is already carried by
the CORRECTNESS gate, so it should only join the bench registry
deliberately.

Heuristic: the registry's pure-launch floor F is estimated as the 5th
percentile of all floors (the cheapest rows do negligible compute); a row
is overhead-dominated when floor <= F / 0.9 (compute <= ~10% of the row).
Rows NEW since the committed BENCH_FULL.json (git show HEAD:BENCH_FULL.json)
are WARNed individually; the standing overhead-dominated population is
reported as one summary line. Exit code is always 0 — this is a policy
nudge, not a gate (some overhead-dominated rows are deliberate anchors).

Usage: python3 tools/registry_cost_guard.py [BENCH_FULL.json]
"""
import json, subprocess, sys


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else "BENCH_FULL.json"
    try:
        cur = json.load(open(path))
    except FileNotFoundError:
        print(f"[cost-guard] {path} not present; nothing to check")
        return
    qs = cur.get("queries", {})
    if len(qs) < 20:
        print(f"[cost-guard] only {len(qs)} floors in {path} (targeted run?); skipping")
        return
    floors = sorted(qs.values())
    # proper percentile index (ADVICE r14): the old int(0.05*n)-1 picked
    # the MINIMUM floor for any registry under 40 queries, making the
    # heuristic degenerate on small artifacts
    f_launch = floors[int(0.05 * (len(floors) - 1))]
    ceil = f_launch / 0.9
    dominated = sorted(q for q, v in qs.items() if v <= ceil)
    try:
        prev = json.loads(subprocess.run(
            ["git", "show", "HEAD:BENCH_FULL.json"],
            capture_output=True, text=True, check=True).stdout)
        prev_qs = set(prev.get("queries", {}))
    except Exception:
        prev_qs = set(qs)  # no committed artifact: nothing is "new"
    new_dominated = [q for q in dominated if q not in prev_qs]
    print(f"[cost-guard] launch-floor estimate {f_launch * 1000:.0f} ms "
          f"(p05 of {len(qs)} floors); {len(dominated)} rows are "
          f">90% fixed overhead (floor <= {ceil * 1000:.0f} ms)")
    for q in new_dominated:
        print(f"[cost-guard] WARN: NEW query '{q}' ({qs[q] * 1000:.0f} ms floor) "
              f"is overhead-dominated — it adds bench minutes but no scale "
              f"signal; correctness is already carried by CORRECTNESS. Keep "
              f"it out of the bench registry unless the row is a deliberate "
              f"anchor (document why at the GraftQuery site).")
    if not new_dominated:
        print("[cost-guard] no NEW overhead-dominated rows since the "
              "committed BENCH_FULL.json")


if __name__ == "__main__":
    main()
