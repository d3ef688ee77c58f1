#!/usr/bin/env python3
"""Local approximation of the driver's correctness gate:
run Verify's parquet dumps against the DuckDB oracle SQL and diff.

Usage: python3 tools/check.py [sfdir] [outdir] [only_query_prefixes]

only_query_prefixes is a comma list (e.g. `ag_,tr_,bi_`), like Verify's
SPARK_GRAFT_ONLY.
"""
import duckdb, json, sys, glob, os
import pandas as pd
import numpy as np

TABLES = ['region','nation','customer','supplier','part','orders','lineitem',
          'events','documents','embeddings']

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # Normalize floats only. Do NOT pd.to_numeric object columns: the driver
    # hashes raw strings, so '0.50' vs '0.5' is a real mismatch that numeric
    # coercion hides (this masked eval_hist_quantiles for four rounds).
    for c in df.columns:
        if np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
            df[c] = df[c] + 0.0  # -0.0 -> 0.0
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
    outdir = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'
    only = [p for p in (sys.argv[3] if len(sys.argv) > 3 else '').split(',') if p]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f'{outdir}/oracle_sql.json'))
    n_ok = n_bad = 0
    for name in sorted(oracle):
        if only and not name.startswith(tuple(only)):
            continue
        sql = oracle[name]
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {str(e)[:300]}"); n_bad += 1; continue
        files = glob.glob(f'{outdir}/{name}/*.parquet')
        if not files:
            print(f"FAIL {name}: no spark output"); n_bad += 1; continue
        got = duckdb.connect().execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()
        e_, g_ = canon(exp), canon(got)
        if list(e_.columns) != list(g_.columns):
            print(f"FAIL {name}: schema exp={list(e_.columns)} got={list(g_.columns)}")
            n_bad += 1; continue
        if len(e_) != len(g_):
            print(f"FAIL {name}: rows exp={len(e_)} got={len(g_)}"); n_bad += 1
            continue
        bad_cols = []
        for c in e_.columns:
            a, b = e_[c].values, g_[c].values
            if np.issubdtype(e_[c].dtype, np.floating) or np.issubdtype(g_[c].dtype, np.floating):
                ok = np.allclose(a.astype(float), b.astype(float), rtol=0, atol=1e-9, equal_nan=True) \
                     and not (pd.isna(a) ^ pd.isna(b)).any()
            else:
                ok = (pd.Series(a).fillna('\x00') == pd.Series(b).fillna('\x00')).all()
            if not ok:
                bad_cols.append(c)
        if bad_cols:
            n_bad += 1
            print(f"FAIL {name}: value mismatch in {bad_cols}")
            for c in bad_cols[:1]:
                m = ~np.isclose(e_[c].astype(float), g_[c].astype(float),
                                rtol=0, atol=1e-9, equal_nan=True) if np.issubdtype(e_[c].dtype, np.floating) \
                    else (e_[c].fillna('\x00') != g_[c].fillna('\x00'))
                idx = np.where(m)[0][:3]
                for i in idx:
                    print(f"   row {i}: exp={e_.iloc[i].to_dict()}")
                    print(f"           got={g_.iloc[i].to_dict()}")
        else:
            n_ok += 1
            print(f"OK   {name} ({len(e_)} rows)")
    print(f"\n{n_ok} ok, {n_bad} bad, {len(oracle)} total oracles")
    sys.exit(1 if n_bad else 0)

if __name__ == '__main__':
    main()
