#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run graft.Verify at a
given SF dir, then run each oracle SQL in DuckDB over the same parquet
tables and compare row-multisets (columns sorted by name).

Usage: python3 tools/selfcheck.py [sfdir] [outdir] [--skip-verify]
"""
import sys, os, json, glob, math
import duckdb
import pyarrow.parquet as pq
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize values to strings for multiset compare
    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)
    rows = sorted(tuple(cell(v) for v in r) for r in df.itertuples(index=False, name=None))
    return df.columns.tolist(), rows

def main():
    if "--skip-verify" not in sys.argv:
        # the docstring always promised this; now it's true — stale
        # spark dumps silently void the whole compare otherwise
        import subprocess
        r = subprocess.run(
            ["sbt", f"runMain graft.Verify {SF} {OUT}"],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit(f"graft.Verify failed:\n{r.stdout[-3000:]}\n{r.stderr[-3000:]}")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    # queries that threw in Verify; a dir left by an earlier run is stale
    errors_path = f"{OUT}/errors.json"
    errors = json.load(open(errors_path)) if os.path.exists(errors_path) else {}
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        pdir = f"{OUT}/{name}"
        if name in errors:
            print(f"FAIL {name}: verify error: {errors[name]}"); n_bad += 1; continue
        if not os.path.isdir(pdir):
            print(f"FAIL {name}: no spark output dir"); n_bad += 1; continue
        files = glob.glob(f"{pdir}/*.parquet")
        spark_df = pq.read_table(files[0]).to_pandas() if files else pd.DataFrame()
        try:
            duck_df = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}"); n_bad += 1; continue
        sc, sr = norm(spark_df)
        dc, dr = norm(duck_df)
        if sc != dc:
            print(f"FAIL {name}: columns spark={sc} duck={dc}"); n_bad += 1; continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: rows spark={len(sr)} duck={len(dr)}"); n_bad += 1; continue
        if sr != dr:
            diffs = [i for i, (a, b) in enumerate(zip(sr, dr)) if a != b]
            print(f"FAIL {name}: {len(diffs)} differing rows of {len(sr)}; first: ")
            i = diffs[0]
            print(f"  cols : {sc}")
            print(f"  spark: {sr[i]}")
            print(f"  duck : {dr[i]}")
            n_bad += 1; continue
        print(f"OK   {name} ({len(sr)} rows)")
        n_ok += 1
    print(f"== {n_ok} ok, {n_bad} bad ==")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
