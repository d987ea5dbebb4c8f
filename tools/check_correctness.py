#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check_correctness.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB over the same testdata
parquet tables, and compares: row count, column names, and values (sorted by
all columns, column order normalized by name — the driver hashes after
sorting columns by name).
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def compare(name, mine: pd.DataFrame, oracle: pd.DataFrame):
    if sorted(mine.columns) != sorted(oracle.columns):
        return f"FAIL cols: mine={sorted(mine.columns)} oracle={sorted(oracle.columns)}"
    if len(mine) != len(oracle):
        return f"FAIL rows: mine={len(mine)} oracle={len(oracle)}"
    a, b = norm(mine), norm(oracle)
    notes = []
    for c in a.columns:
        x, y = a[c], b[c]
        # The driver hashes raw values, so int64 0 vs float64 0.0 is a hash
        # FAIL even though allclose passes. DuckDB sum(BIGINT) -> HUGEINT ->
        # pandas float64 is the classic cause (round-4 graph_pagerank
        # regression): fail loudly on int-vs-float here.
        if (x.dtype.kind in "iu" and y.dtype.kind == "f") or (x.dtype.kind == "f" and y.dtype.kind in "iu"):
            return (f"FAIL col {c}: int-vs-float dtype mismatch ({x.dtype} vs {y.dtype}) — "
                    f"driver hash WILL fail; align dtypes: CAST whichever side "
                    f"widened (usually the DuckDB sum) to BIGINT, or emit a "
                    f"double on the engine side")
        # Same-kind width mismatches (int32 vs int64, float32 vs float64)
        # have never produced a driver hash failure (python ints/floats of
        # equal value hash identically regardless of storage width), but
        # surface them so a future width-sensitive driver change is
        # diagnosable from this log rather than invisible.
        if x.dtype.kind in "iuf" and y.dtype.kind in "iuf" and x.dtype != y.dtype:
            notes.append(f"{c}:{x.dtype}/{y.dtype}")
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            ok = np.allclose(x.astype(float).fillna(-1e308), y.astype(float).fillna(-1e308),
                             rtol=0, atol=1e-9)
        else:
            xs = x.astype(str)
            ys = y.astype(str)
            ok = (xs == ys).all()
        if not ok:
            bad = (x.astype(str) != y.astype(str))
            i = bad[bad].index[0] if bad.any() else 0
            return f"FAIL col {c}: row {i} mine={x.iloc[i]!r} oracle={y.iloc[i]!r} (dtypes {x.dtype}/{y.dtype})"
    if notes:
        compare.last_notes = "; width differs " + ", ".join(notes)
    return None

# Bounded cross-engine compares for the sketch tail (round 15): the
# no-oracle rows DuckDB can ALSO estimate get a tolerance leg —
# |spark_est − duck_est| / exact <= bound per row, exact computed in the
# same DuckDB query (the anchor-twin value). This does not replace the
# ScalaTest bound (which pins spark-est vs spark-exact); it adds a
# cross-engine sanity rail so "no_oracle" never means "only self-checked".
# Bound 0.10: two independent sketches each spec'd within ~5% of exact.
BOUNDED = {
    "agg_approx_distinct": {
        "duck": """SELECT event_type, approx_count_distinct(user_id) AS approx_users,
                          count(DISTINCT user_id) AS exact_users
                   FROM events GROUP BY 1 ORDER BY 1""",
        "key": ["event_type"],
        "exact_cols": ["exact_users"],
        "est": [("approx_users", "approx_users", "exact_users", 0.10)],
    },
    "agg_approx_percentile": {
        "duck": """SELECT event_type,
                          approx_quantile(CAST(floor(value*100+0.5) AS BIGINT), 0.5) AS p50_approx,
                          quantile_cont(CAST(floor(value*100+0.5) AS BIGINT), 0.5) AS p50_exact,
                          count(*) AS cnt
                   FROM events GROUP BY 1 ORDER BY 1""",
        "key": ["event_type"],
        "exact_cols": ["cnt", "p50_exact"],
        "est": [("p50_approx", "p50_approx", "p50_exact", 0.10)],
    },
}

def bounded_compare(name, mine: pd.DataFrame, con):
    """Returns (ok: bool, detail: str) for a BOUNDED row."""
    spec = BOUNDED[name]
    duck = con.sql(spec["duck"]).df()
    key = spec["key"]
    if len(mine) != len(duck):
        return False, f"rows mine={len(mine)} duck={len(duck)}"
    m = mine.sort_values(key).reset_index(drop=True)
    d = duck.sort_values(key).reset_index(drop=True)
    for k in key:
        if (m[k].astype(str) != d[k].astype(str)).any():
            return False, f"key mismatch in {k}"
    for c in spec["exact_cols"]:
        if not np.allclose(m[c].astype(float), d[c].astype(float), rtol=0, atol=1e-6):
            i = int(np.argmax(~np.isclose(m[c].astype(float), d[c].astype(float), rtol=0, atol=1e-6)))
            return False, f"exact col {c} row {i}: mine={m[c].iloc[i]} duck={d[c].iloc[i]}"
    worst = 0.0
    for (mc, dc, ec, bound) in spec["est"]:
        exact = d[ec].astype(float)
        rel = (m[mc].astype(float) - d[dc].astype(float)).abs() / exact.clip(lower=1.0)
        worst = max(worst, float(rel.max()))
        if (rel > bound).any():
            i = int(rel.idxmax())
            return False, (f"est col {mc} row {i}: |{m[mc].iloc[i]} - {d[dc].iloc[i]}| / "
                           f"{exact.iloc[i]} = {rel.iloc[i]:.3f} > {bound}")
    return True, f"worst_rel_err={worst:.4f} (bound 0.10, exact from the same DuckDB query)"

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    # no-oracle queries self-describe the ScalaTest suite that bounds them
    # (bounded_by.json, written by graft.Verify); absent for old dumps
    bb_path = os.path.join(out_dir, "bounded_by.json")
    bounded = json.load(open(bb_path)) if os.path.exists(bb_path) else {}
    results = {}
    bounded_results = {}
    names = sorted([os.path.basename(p) for p in glob.glob(os.path.join(out_dir, "*")) if os.path.isdir(p)])
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            results[name] = "FAIL: no output parquet"
            continue
        mine = pd.concat([pd.read_parquet(f) for f in sorted(files)], ignore_index=True)
        if name not in oracles:
            suite = bounded.get(name)
            if name in BOUNDED:
                try:
                    ok, detail = bounded_compare(name, mine, con)
                except Exception as e:
                    ok, detail = False, f"bounded-compare error: {e}"
                bounded_results[name] = {"bounded_ok": ok, "detail": detail,
                                         "bounded_by": suite}
                if ok:
                    results[name] = (f"SKIP (no exact oracle; bounded_ok=true: "
                                     f"{detail}; bounded_by={suite}; rows={len(mine)})")
                else:
                    results[name] = f"FAIL bounded cross-engine compare: {detail}"
            elif suite:
                results[name] = f"SKIP (no oracle; bounded_by={suite}; rows={len(mine)})"
            else:
                # a no-oracle query with no declared bounding suite is
                # UNVERIFIED — that is a failure of the registry contract
                results[name] = "FAIL: no oracle AND no bounded_by suite declared"
            continue
        try:
            oracle = con.sql(oracles[name]).df()
        except Exception as e:
            results[name] = f"FAIL oracle error: {e}"
            continue
        compare.last_notes = ""
        err = compare(name, mine, oracle)
        results[name] = err or f"OK ({len(mine)} rows{compare.last_notes})"
    width = max(len(n) for n in results)
    n_ok = sum(1 for v in results.values() if v.startswith("OK"))
    n_skip = sum(1 for v in results.values() if v.startswith("SKIP"))
    for n, v in sorted(results.items()):
        print(f"{n:<{width}}  {v}")
    # receipt for the sketch tail's cross-engine bound (CORRECTNESS_r{N}.json
    # records these rows as bare no_oracle; this artifact carries their
    # bounded_ok verdicts), written beside the dump it checks; copy it to
    # the repo root to refresh the committed one
    if bounded_results:
        receipt = os.path.join(out_dir, "CORRECTNESS_BOUNDED.json")
        with open(receipt, "w") as f:
            json.dump({"sf": sf_dir, "bound": 0.10,
                       "criterion": "|spark_est - duck_est| / exact <= bound per row; exact from the same DuckDB query",
                       "rows": bounded_results}, f, indent=1)
        print(f"bounded cross-engine compares -> {receipt} "
              f"({sum(1 for r in bounded_results.values() if r['bounded_ok'])}/"
              f"{len(bounded_results)} ok)")
    print(f"\n{n_ok} OK, {n_skip} SKIP, {len(results) - n_ok - n_skip} FAIL of {len(results)}")
    sys.exit(0 if n_ok + n_skip == len(results) else 1)

if __name__ == "__main__":
    main()
