#!/usr/bin/env python3
"""DuckDB oracle compare for graft Verify output.

Usage: python3 scripts/compare_oracle.py <sfdir> <outdir>
Registers every parquet in sfdir as a DuckDB view, runs each entry of
<outdir>/oracle_sql.json, sorts columns by name and rows by all columns,
and diffs against the Spark parquet dump in <outdir>/<query>/.
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in sorted(glob.glob(os.path.join(sfdir, "*.parquet"))):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

with open(os.path.join(outdir, "oracle_sql.json")) as f:
    oracle_sql = json.load(f)

def canon(df):
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        # decimals / nullable ints / hugeint -> float64 for cross-engine compare
        if s.dtype == object and s.map(lambda v: v is None or isinstance(v, (int, float)) or type(v).__name__ == "Decimal").all():
            if s.notna().any():
                df[c] = s.astype("float64")
        elif str(s.dtype).startswith(("Int", "UInt", "Float")):
            df[c] = s.astype("float64")
    return df

def _keycell(v):
    # canonical, dtype-independent repr so int64 12 and float64 12.0 sort
    # identically in both frames (ties on other columns would otherwise
    # pair rows differently and fake a mismatch). Fractional numbers are
    # quantized to 10 significant digits (the rtol=1e-9 value compare
    # below) and -0.0 folds into 0.0, so two cells equal within tolerance
    # get the same key and pair the same way in both frames; integral
    # values keep an exact key, so large ids never collide. Only the
    # pairing uses the key; values are still compared at full precision.
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "\x00"
    if isinstance(v, (bool, np.bool_)):
        return "b%d" % int(v)
    if isinstance(v, (int, float, np.integer, np.floating)):
        f = float(v) + 0.0
        return ("n%+.17e" if f.is_integer() else "n%+.9e") % f
    return "s" + str(v)

def sort_rows(df):
    if len(df.columns) == 0 or len(df) == 0:
        return df
    key = df.apply(lambda col: col.map(_keycell), axis=0)
    order = key.sort_values(by=list(key.columns), kind="mergesort").index
    return df.loc[order].reset_index(drop=True)

def compare_one(name):
    """Returns (None, nrows) on match, else (failure description, 0)."""
    spark_dir = os.path.join(outdir, name)
    parts = sorted(glob.glob(os.path.join(spark_dir, "*.parquet")))
    if not parts:
        return "MISSING spark output", 0
    try:
        odf = con.execute(oracle_sql[name]).df()
    except Exception as e:
        return f"ORACLE ERROR {e}", 0
    sdf = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
    odf, sdf = canon(odf), canon(sdf)
    if list(odf.columns) != list(sdf.columns):
        return f"COLUMN MISMATCH oracle={list(odf.columns)} spark={list(sdf.columns)}", 0
    if len(odf) != len(sdf):
        return f"ROWCOUNT MISMATCH oracle={len(odf)} spark={len(sdf)}", 0
    odf, sdf = sort_rows(odf), sort_rows(sdf)
    for c in odf.columns:
        a, b = odf[c], sdf[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            av = a.astype("float64").to_numpy()
            bv = b.astype("float64").to_numpy()
            ok = np.isclose(av, bv, rtol=1e-9, atol=1e-12, equal_nan=True)
        elif pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
            ok = a.to_numpy() == b.to_numpy()
        else:
            an = a.map(lambda v: None if v is None or (isinstance(v, float) and np.isnan(v)) else str(v))
            bn = b.map(lambda v: None if v is None or (isinstance(v, float) and np.isnan(v)) else str(v))
            ok = (an.isna() & bn.isna()) | (an == bn)
        ok = np.asarray(ok)
        if not ok.all():
            i = int(np.argmin(ok))
            return (f"VALUE MISMATCH col={c} row={i} "
                    f"oracle={odf[c].iloc[i]!r} spark={sdf[c].iloc[i]!r}"), 0
    return None, len(odf)

n_match = n_fail = 0
for name in sorted(oracle_sql):
    # contain per-query breakage (corrupt part file, dtype clash in the
    # compare itself): count it as FAIL and keep sweeping
    try:
        bad, nrows = compare_one(name)
    except Exception as e:
        bad = f"COMPARE ERROR {type(e).__name__}: {e}"
    if bad:
        print(f"{name}: {bad}")
        n_fail += 1
    else:
        print(f"{name}: MATCH ({nrows} rows)")
        n_match += 1

print(f"--- {n_match} MATCH, {n_fail} FAIL of {len(oracle_sql)}")
sys.exit(1 if n_fail else 0)
