#!/usr/bin/env python3
"""Dev-only replica of the driver's DuckDB oracle compare.

Usage: oracle_check.py <sfDir> <verifyOutDir>
Reads each <out>/<name>/ parquet dir written by graft.Verify, runs the
matching SQL from oracle_sql.json in DuckDB (tables registered as views on
the sf dir), sorts columns by name and rows by value, and diffs.

A query that failed in Verify (listed in errors.json; it writes no output
dir) counts as a failure. Exits 1 when any query fails, so a scripted
verify can gate on the exit code.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
errors_path = os.path.join(outdir, "errors.json")
errors = json.load(open(errors_path)) if os.path.exists(errors_path) else {}
names = sorted(set(errors) |
               {d for d in os.listdir(outdir) if os.path.isdir(os.path.join(outdir, d))})
fails = 0
for name in names:
    if name in errors:
        print(f"{name}: VERIFY ERROR: {errors[name][:200]}"); fails += 1; continue
    files = glob.glob(os.path.join(outdir, name, "*.parquet"))
    if not files:
        print(f"{name}: NO ENGINE OUTPUT"); fails += 1; continue
    eng = con.sql(f"SELECT * FROM '{os.path.join(outdir,name)}/*.parquet'").df()
    if name not in oracle:
        print(f"{name}: rows-only check, engine rows={len(eng)}")
        continue
    try:
        ora = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"{name}: ORACLE SQL ERROR: {e}"); fails += 1; continue
    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True)
    if sorted(eng.columns) != sorted(ora.columns):
        print(f"{name}: SCHEMA MISMATCH eng={sorted(eng.columns)} ora={sorted(ora.columns)}"); fails += 1; continue
    if len(eng) != len(ora):
        print(f"{name}: ROWCOUNT MISMATCH eng={len(eng)} ora={len(ora)}"); fails += 1; continue
    e, o = canon(eng), canon(ora)
    # exact value compare (hash-match proxy)
    try:
        eq = e.equals(o.astype(e.dtypes.to_dict()))
    except Exception:
        eq = False
    # strict signed-zero check: pandas equals() treats -0.0 == 0.0, but the
    # driver hashes FORMATTED values, where "-0.0" != "0.0" (the r18
    # q55/d81 mismatch: DuckDB round(-eps, 6) keeps the sign bit, Spark's
    # BigDecimal round does not). Compare sign bits on float columns too.
    if eq:
        import numpy as np
        for c in e.columns:
            if e[c].dtype.kind == "f":
                ev, ov = e[c].to_numpy(), o[c].astype(e[c].dtype).to_numpy()
                both = ~(pd.isna(ev) | pd.isna(ov))
                if (np.signbit(ev[both]) != np.signbit(ov[both])).any():
                    i = int(np.nonzero(both)[0][
                        (np.signbit(ev[both]) != np.signbit(ov[both])).argmax()])
                    print(f"{name}: SIGNED-ZERO MISMATCH col={c} row{i}: "
                          f"eng={ev[i]!r} ora={ov[i]!r}")
                    eq = False
                    break
    if eq:
        print(f"{name}: OK rows={len(eng)}")
    else:
        diff_cols = []
        for c in e.columns:
            try:
                same = (e[c].fillna("__N") == o[c].astype(e[c].dtype).fillna("__N")).all()
            except Exception:
                same = False
            if not same: diff_cols.append(c)
        print(f"{name}: VALUE MISMATCH rows={len(eng)} cols={diff_cols}")
        for c in diff_cols[:2]:
            m = (e[c].fillna("__N") != o[c].fillna("__N"))
            idx = m[m].index[:3] if m.any() else []
            for i in idx:
                print(f"    [{c}] row{i}: eng={e[c][i]!r} ora={o[c][i]!r}")
        fails += 1
print(f"\n{len(names)-fails}/{len(names)} queries match")
sys.exit(1 if fails else 0)
