#!/usr/bin/env python3
"""Dev-loop comparator mimicking the driver: for each query dumped by
graft.Verify, run its DuckDB oracle over the same sf dir and compare
row sets (columns sorted by name, rows sorted, values hashed). Exits 1
when any query fails or has no Spark result, 0 when all agree."""
import duckdb, json, sys, glob, os
import pandas as pd

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if str(df[c].dtype).startswith("datetime64") and getattr(df[c].dt, "tz", None) is not None:
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails = []
for d in sorted(glob.glob(f"{outdir}/*/")):
    name = os.path.basename(d.rstrip("/"))
    spark_df = pd.read_parquet(d)
    if name not in oracle:
        print(f"{name:28s} rows-only: {len(spark_df)} rows")
        continue
    try:
        duck_df = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"{name:28s} ORACLE ERROR: {e}")
        fails.append(name); continue
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        print(f"{name:28s} SCHEMA MISMATCH: spark={list(a.columns)} duck={list(b.columns)}")
        fails.append(name); continue
    if len(a) != len(b):
        print(f"{name:28s} ROWCOUNT MISMATCH: spark={len(a)} duck={len(b)}")
        fails.append(name); continue
    # dtype check (loose: compare kind)
    dt_bad = [c for c in a.columns if a[c].dtype.kind != b[c].dtype.kind]
    eq = a.equals(b)
    if not eq:
        diff_cols = [c for c in a.columns if not a[c].equals(b[c])]
        print(f"{name:28s} VALUE MISMATCH in {diff_cols} (dtype-kind diffs: {dt_bad})")
        for c in diff_cols[:3]:
            neq = a[c] != b[c]
            if a[c].dtype.kind == 'f':
                import numpy as np
                neq = pd.Series(~(np.isclose(a[c], b[c], rtol=0, atol=0, equal_nan=True)),
                                index=a.index)
            idx = neq[neq].index[:3]
            for i in idx:
                print(f"    [{i}] {c}: spark={a[c][i]!r} duck={b[c][i]!r}")
        fails.append(name)
    else:
        extra = f" (dtype-kind diffs: {dt_bad})" if dt_bad else ""
        print(f"{name:28s} OK: {len(a)} rows{extra}")
        if dt_bad: fails.append(name)

missing = [q for q in oracle if not os.path.isdir(f"{outdir}/{q}")]
if missing:
    print("MISSING SPARK RESULTS (query crashed):", missing)
print(f"\n{len(fails)} failures: {fails}" if fails or missing else "\nALL OK")
sys.exit(1 if fails or missing else 0)
