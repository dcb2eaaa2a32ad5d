#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: python3 tools/oracle_check.py <verify_out_dir> <sf_dir>

Reads each <name>/ parquet result written by graft.Verify, runs the
matching SQL from oracle_sql.json in DuckDB over the sf parquet tables,
sorts columns by name and rows by all columns, and diffs values.
"""
import json, os, sys, math
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for a stable sort/compare across dtypes
    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<NULL>"
        if isinstance(v, float):
            return repr(v)
        return str(v)
    out = df.apply(lambda c: c.map(cell))
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def main(outdir: str, sfdir: str) -> int:
    con = duckdb.connect()
    # optional caps for runs sharing the box with a Spark JVM: an
    # uncapped DuckDB OOMs outright under memory pressure (seen on the
    # sf1-derived sweep's IVF oracles), while a capped one spills.
    mem = os.environ.get("ORACLE_DUCK_MEM")
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
    thr = os.environ.get("ORACLE_DUCK_THREADS")
    if thr:
        con.execute(f"SET threads={int(thr)}")
    for t in TABLES:
        # driver sf dirs hold one flat file per table; derived scaled
        # dirs (ScaledCopies.buildScaled) hold Spark part-file DIRECTORIES
        p = Path(sfdir, f"{t}.parquet")
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    oracle = json.loads(Path(outdir, "oracle_sql.json").read_text())
    n_pass = n_fail = n_noracle = 0
    for d in sorted(Path(outdir).iterdir()):
        if not d.is_dir():
            continue
        name = d.name
        got = pd.read_parquet(d)
        if name not in oracle:
            print(f"NO-ORACLE {name}: rows={len(got)}")
            n_noracle += 1
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns spark={list(g.columns)} duck={list(e.columns)}")
            n_fail += 1
        elif len(g) != len(e):
            print(f"FAIL {name}: rows spark={len(g)} duck={len(e)}")
            n_fail += 1
        elif not g.equals(e):
            neq = (g != e).any(axis=1)
            idx = list(g.index[neq])[:3]
            print(f"FAIL {name}: {int(neq.sum())}/{len(g)} rows differ; first diffs:")
            for i in idx:
                print(f"  spark: {g.loc[i].to_dict()}")
                print(f"  duck : {e.loc[i].to_dict()}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(g)} rows")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
