#!/usr/bin/env python3
"""Self-hosted replica of the driver's DuckDB oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [key,key,...]

The optional third argument is the comma-separated key filter
`graft.Verify` takes: only those keys are checked (a key missing from
oracle_sql.json fails). Without it, every key is.

For each query in <verifyOutDir>/oracle_sql.json:
  - load the Spark result parquet from <verifyOutDir>/<name>/
  - run the oracle SQL in DuckDB over the same source parquet tables
  - BOTH results go through the pandas `.df()` path (dtype-faithful:
    DuckDB HUGEINT becomes float64 here, exactly as on the driver, so
    "18606.0" vs "18606" drift is caught locally)
  - sort columns by name, sort rows by all columns (pandas sort_values,
    which crashes on array-typed columns exactly like the driver does),
    compare stringified cell values BYTE-EXACTLY. No tolerance.

Exit code = number of mismatching queries.
"""
import duckdb, json, sys, os, glob
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if f != f:
            return "NaN"
        return repr(f)
    if isinstance(v, np.integer):
        return str(int(v))
    return str(v)


def norm_df(df):
    """Driver-faithful normalization: columns sorted by name, rows sorted
    by all columns (raises on unhashable/array cells, like the driver),
    cells stringified with dtype visible (int64 "1" vs float64 "1.0")."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    rows = [tuple(norm_cell(v) for v in row)
            for row in df.itertuples(index=False, name=None)]
    rows.sort()  # stringified tiebreak for columns pandas can't total-order
    return list(df.columns), rows


def main():
    sf, out = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    n_fail = 0
    if only is not None:
        for name in sorted(only - set(oracle)):
            print(f"FAIL {name}: no oracle sql")
            n_fail += 1
        oracle = {k: v for k, v in oracle.items() if k in only}
    for name in sorted(oracle):
        files = glob.glob(os.path.join(out, name, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output parquet")
            n_fail += 1
            continue
        try:
            s_df = con.execute(
                f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").df()
            o_df = con.execute(oracle[name]).df()
            sc, srn = norm_df(s_df)
            oc, orn = norm_df(o_df)
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if sc != oc:
            print(f"FAIL {name}: columns differ spark={sc} oracle={oc}")
            n_fail += 1
        elif srn != orn:
            diffs = [i for i, (a, b) in enumerate(zip(srn, orn)) if a != b]
            msg = f"rows {len(srn)} vs {len(orn)}"
            if diffs:
                i = diffs[0]
                msg += f"; first diff row {i}: spark={srn[i]} oracle={orn[i]}"
            elif len(srn) != len(orn):
                longer, shorter = (srn, orn) if len(srn) > len(orn) else (orn, srn)
                msg += f"; extra row: {longer[len(shorter)]}"
            print(f"FAIL {name}: {msg} (cols {sc})")
            n_fail += 1
        else:
            print(f"OK   {name}: {len(srn)} rows")
    total = len(oracle) if only is None else len(only)
    print(f"---- {total - n_fail}/{total} oracle queries match")
    sys.exit(min(n_fail, 120))


if __name__ == "__main__":
    main()
