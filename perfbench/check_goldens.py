#!/usr/bin/env python3
"""Check the registry goldens against DuckDB before committing them.

    python3 perfbench/check_goldens.py <work> <outDir>

`<work>` and `<outDir>` are the two arguments `perfbench.Goldens` was run
with: the generated corpus is under <work>/corpus, each registry row's
Spark result under <outDir>/<row>/, and the rows' oracle SQL in
<outDir>/oracle_sql.json. Every row's oracle runs in DuckDB over the same
parquet tables; rows and values must match (columns compared by name, rows
after sorting, floats within 1e-9). Exits non-zero on any mismatch.
"""
import json
import os
import sys

import duckdb
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events".split()


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True) if len(df) else df


def compare(mine, oracle):
    if sorted(mine.columns) != sorted(oracle.columns):
        return f"columns {sorted(mine.columns)} vs {sorted(oracle.columns)}"
    if len(mine) != len(oracle):
        return f"rows {len(mine)} vs {len(oracle)}"
    a, b = norm(mine), norm(oracle)
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            ok = np.allclose(x.astype(float).fillna(-1e308), y.astype(float).fillna(-1e308), rtol=0, atol=1e-9)
        else:
            ok = (x.astype(str) == y.astype(str)).all()
        if not ok:
            return f"column {c} differs"
    return None


def main():
    work, out = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/corpus/{t}.parquet/*.parquet')")
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    bad = 0
    for name, sql in sorted(oracles.items()):
        mine = con.sql(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").df()
        err = compare(mine, con.sql(sql).df())
        print(f"{'OK  ' if err is None else 'FAIL'} {name}{'' if err is None else ': ' + err}")
        bad += err is not None
    print(f"{len(oracles) - bad} OK, {bad} FAIL")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
