#!/usr/bin/env python3
"""Regenerates the stored result fingerprints in perfbench/fingerprints.json.

    python3 perfbench/make_fingerprints.py

Takes the query lists from the "workloads" entry of fingerprints.json,
computes every query's fingerprint twice in two separate JVMs (they must
agree), and checks every query that has oracle SQL against DuckDB on the
same parquet tables: columns sorted by name, rows sorted, exact values,
signed zeros compared. Writes the fingerprints only if every check passes.
Run it only after a deliberate change of query results.
"""
import json
import os
import shutil
import sys

import duckdb
import numpy as np
import pandas as pd

import run

FILE = os.path.join(run.HERE, "fingerprints.json")


def duckdb_matches(scale_dir, engine_dir, sql):
    con = duckdb.connect()
    for f in sorted(os.listdir(scale_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(scale_dir, f)}'")
    eng = con.sql(f"SELECT * FROM '{engine_dir}/*.parquet'").df()
    ora = con.sql(sql).df()
    if sorted(eng.columns) != sorted(ora.columns):
        return f"columns {sorted(eng.columns)} vs {sorted(ora.columns)}"
    if len(eng) != len(ora):
        return f"rows {len(eng)} vs {len(ora)}"

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True)
    e, o = canon(eng), canon(ora)
    o = o.astype(e.dtypes.to_dict())
    if not e.equals(o):
        return "values differ"
    for c in e.columns:
        if e[c].dtype.kind == "f":
            ev, ov = e[c].to_numpy(), o[c].to_numpy()
            both = ~(pd.isna(ev) | pd.isna(ov))
            if (np.signbit(ev[both]) != np.signbit(ov[both])).any():
                return f"signed zero differs in {c}"
    return None


def main():
    run.build()
    with open(FILE) as f:
        spec = json.load(f)
    runs = []
    for i in (1, 2):
        work = os.path.join(run.OUT, "work", f"fingerprints-{i}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        run.jvm("perfbench.MakeFingerprints", ["--bench-dir", run.HERE, "--out", work],
                work, os.path.join(run.OUT, f"fingerprints-{i}.log"), 3000)
        with open(os.path.join(work, "fingerprints.json")) as f:
            runs.append((work, json.load(f)))
    (work, fps), (_, again) = runs
    if fps != again:
        sys.exit("fingerprints differ between two runs; not writing")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    checked, bad = {}, []
    for scale, qs in fps.items():
        for q in sorted(qs):
            if q not in oracle:
                checked[q] = "no oracle SQL (rows-only query)"
                continue
            why = duckdb_matches(os.path.join(run.HERE, "data", scale),
                                 os.path.join(work, scale, q), oracle[q])
            checked[q] = "matches DuckDB" if why is None else "MISMATCH: " + why
            print(f"{scale} {q}: {checked[q]}")
            if why is not None:
                bad.append(q)
    if bad:
        sys.exit(f"DuckDB mismatches: {bad}; not writing")
    spec["fingerprints"] = fps
    spec["duckdb_check"] = checked
    with open(FILE, "w") as f:
        json.dump(spec, f, indent=1, sort_keys=True)
        f.write("\n")
    for i in (1, 2):
        shutil.rmtree(os.path.join(run.OUT, "work", f"fingerprints-{i}"), ignore_errors=True)
    print(f"wrote {FILE}")


if __name__ == "__main__":
    main()
