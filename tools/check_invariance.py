#!/usr/bin/env python3
"""Compare two graft.Verify dumps (same queries, different parallelism):
any value difference is a partitioning-dependent result — the merge-order
float hazard class. Exits non-zero on any divergence or one-sided query
so the protocol can be scripted as a gate."""
import sys, glob, os
import pandas as pd
import numpy as np

a_dir, b_dir = sys.argv[1], sys.argv[2]

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def dirs(d):
    return {os.path.basename(p) for p in glob.glob(f"{d}/*") if os.path.isdir(p)}

# union of BOTH sides: a Verify run that died partway must surface as
# MISSING entries, not silently shrink the compared set
names = sorted(dirs(a_dir) | dirs(b_dir))
bad, missing = [], []
for n in names:
    if not (os.path.isdir(f"{a_dir}/{n}") and os.path.isdir(f"{b_dir}/{n}")):
        missing.append(n); continue
    try:
        a = norm(pd.read_parquet(f"{a_dir}/{n}"))
        b = norm(pd.read_parquet(f"{b_dir}/{n}"))
    except Exception as e:
        bad.append((n, f"read error: {e}")); continue
    if list(a.columns) != list(b.columns):
        bad.append((n, "column mismatch")); continue
    if len(a) != len(b):
        bad.append((n, f"row count {len(a)} vs {len(b)}")); continue
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            xf = x.astype(float).fillna(-1e308)
            yf = y.astype(float).fillna(-1e308)
            neq = ~np.isclose(xf, yf, rtol=0, atol=0)
        else:
            neq = (x.astype(str) != y.astype(str)).to_numpy()
        if neq.any():
            i = int(np.argmax(neq))  # located with the SAME comparison
            bad.append((n, f"col {c} row {i}: {x.iloc[i]!r} vs {y.iloc[i]!r}"))
            break
for n, why in bad:
    print(f"DIVERGENT {n}: {why}")
for n in missing:
    print(f"MISSING {n}")
print(f"{len(names)-len(bad)-len(missing)} invariant, {len(bad)} divergent, "
      f"{len(missing)} missing of {len(names)}")
# receipt: the record that no query's values depend on partition count
# (the merge-order float hazard class), written beside the first dump; copy
# it to the repo root to refresh the committed one
import json
receipt = os.path.join(a_dir, "INVARIANCE.json")
print(f"receipt -> {receipt}")
with open(receipt, "w") as f:
    json.dump({"metric": "partition_invariance", "dumps": sys.argv[1:3],
               "n_queries": len(names),
               "invariant": len(names) - len(bad) - len(missing),
               "divergent": [n for n, _ in bad], "missing": missing,
               "float_atol": 0}, f)
sys.exit(1 if bad or missing else 0)
