#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <outDir>

Reads outDir/<name>/ parquet (written by graft.Verify), runs
outDir/oracle_sql.json in DuckDB over the sfDir tables, sorts columns by
name and rows by all columns, and compares values exactly (floats via
bit-identical check first, then tolerance report).
"""
import sys, json, glob, math, os, re
import duckdb
import pandas as pd

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    # harness-generated extra tables (e.g. `graft.Fuzz nested`'s nested
    # fixture): both engines read the same parquet bytes. Validate the
    # basename before interpolating it into SQL — a stray non-identifier
    # dir would otherwise break the whole run with a parse error.
    for t in sorted(glob.glob(f"{outdir}/_tables/*/")):
        name = os.path.basename(t.rstrip("/"))
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            print(f"skip _tables/{name}: not a valid SQL identifier")
            continue
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}*.parquet')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = canon(con.sql(f"SELECT * FROM read_parquet({files!r})").df())
            want = canon(con.sql(sql).df())
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}"); n_fail += 1; continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); n_fail += 1; continue
        ok = True
        for c in got.columns:
            a, b = got[c], want[c]
            if str(a.dtype) != str(b.dtype):
                print(f"  note {name}.{c}: dtype {a.dtype} vs {b.dtype}")
            try:
                same = (a.fillna("␀") == b.fillna("␀")) if a.dtype == object else (a == b) | (a.isna() & b.isna())
                if not same.all():
                    if "float" in str(a.dtype):
                        diff = (a - b).abs().max()
                        print(f"FAIL {name}.{c}: max abs diff {diff}")
                    else:
                        i = (~same).idxmax()
                        print(f"FAIL {name}.{c}: first mismatch row {i}: {a[i]!r} vs {b[i]!r}")
                    ok = False
            except Exception as e:
                print(f"FAIL {name}.{c}: compare error {e}"); ok = False
        if ok:
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail / {len(oracle)} total")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
