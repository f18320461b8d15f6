#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>

For each query dumped by graft.Verify, runs the oracle SQL in DuckDB over
the same parquet tables, sorts columns by name and rows by all columns, and
compares values (exact for ints/strings, tiny epsilon report for floats).

DuckDB runs bounded by this machine's own numbers: three quarters of its RAM
and half the free space of the filesystem it spills to. An oracle that needs
more fails with ORACLE_ERROR instead of filling the disk.
"""
import sys, json, glob, os, shutil
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify lists so sorting works
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(lambda v: str(list(v)) if isinstance(v, (list, tuple)) or
                                str(type(v)).endswith("ndarray'>") else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

def bound(con):
    # DuckDB 1.0.0 defaults max_temp_directory_size to '0 bytes', which means
    # "most of the free disk"
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    spill_dir = os.path.abspath(
        con.execute("SELECT current_setting('temp_directory')").fetchone()[0])
    while not os.path.exists(spill_dir):
        spill_dir = os.path.dirname(spill_dir)
    free = shutil.disk_usage(spill_dir).free
    con.execute(f"SET memory_limit = '{ram * 3 // 4 >> 20}MiB'")
    con.execute(f"SET max_temp_directory_size = '{free // 2 >> 20}MiB'")

def main(sf_dir, out_dir):
    con = duckdb.connect()
    bound(con)
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name, sql in sorted(oracle.items()):
        spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_files:
            results[name] = "MISSING_SPARK_OUTPUT"
            continue
        try:
            rel = con.sql(sql)
            # The driver stringifies rows before hashing; DuckDB HUGEINT/UHUGEINT
            # columns surface in pandas as float ('424.0' vs Spark's '424') and
            # diverge there even when every value is numerically identical.
            big = [c for c, t in zip(rel.columns, rel.types)
                   if str(t).upper() in ("HUGEINT", "UHUGEINT")]
            if big:
                results[name] = (f"ORACLE_TYPE: {big} is HUGEINT — cast to BIGINT "
                                 "in the oracle SQL (driver hash renders it as float)")
                continue
            odf = canon(rel.df())
        except Exception as e:
            results[name] = f"ORACLE_ERROR: {e}"
            continue
        sdf = canon(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
        if list(sdf.columns) != list(odf.columns):
            results[name] = f"SCHEMA: spark={list(sdf.columns)} oracle={list(odf.columns)}"
            continue
        if len(sdf) != len(odf):
            results[name] = f"ROWS: spark={len(sdf)} oracle={len(odf)}"
            continue
        mismatch = None
        for c in sdf.columns:
            a, b = sdf[c], odf[c]
            # The driver compares stringified rows, so int-vs-float type drift
            # (e.g. a DuckDB windowed sum surfacing as float) fails there even
            # when a == b numerically. Mirror it: dtype kinds must agree, then
            # values must match stringified.
            if a.dtype.kind != b.dtype.kind:
                mismatch = (f"DTYPE[{c}]: spark={a.dtype} oracle={b.dtype} "
                            "(driver's string hash diverges on type drift)")
                break
            bad = ~((a.isna() & b.isna()) | (a.astype(str) == b.astype(str)))
            if bad.any():
                i = bad.idxmax()
                mismatch = f"VALUE[{c}] row{i}: spark={a[i]!r} oracle={b[i]!r}"
                break
        results[name] = mismatch or f"OK ({len(sdf)} rows)"
    npass = sum(1 for v in results.values() if v.startswith("OK"))
    for name, v in sorted(results.items()):
        print(("PASS " if v.startswith("OK") else "FAIL ") + name + ": " + v)
    print(f"\n{npass}/{len(results)} queries match")
    return 0 if npass == len(results) else 1

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
