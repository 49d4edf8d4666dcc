"""Compare graft.Verify's output with its DuckDB oracles.

usage: python3 tools/oracle_check.py [sfdir] [outdir]

Walks every name in <outdir>/oracle_sql.json (one per query), so a query
whose Verify run failed and wrote no output prints MISSING instead of
vanishing. Exits 1 unless every line is values=OK.
"""
import duckdb, json, glob, os, sys
d = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
con = duckdb.connect()
for p in glob.glob(f"{d}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
oracle = json.load(open(f"{out}/oracle_sql.json"))
def canon(rel):
    df = rel.df()
    df = df[sorted(df.columns)]
    vals = df.astype(str).values.tolist()
    vals.sort()
    return sorted(df.columns), vals
ok = 0
for name in sorted(oracle):
    if not glob.glob(f"{out}/{name}/*.parquet"):
        print(f"{name}: MISSING (no output)")
        continue
    spark = con.sql(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
    ora = con.sql(oracle[name])
    sc, sv = canon(spark); oc, ov = canon(ora)
    if sc != oc:
        print(f"{name}: SCHEMA MISMATCH spark={sc} oracle={oc}")
    elif len(sv) != len(ov):
        print(f"{name}: ROWCOUNT MISMATCH spark={len(sv)} oracle={len(ov)}")
    elif sv != ov:
        bad = [(a, b) for a, b in zip(sv, ov) if a != b][:3]
        print(f"{name}: VALUE MISMATCH rows={len(sv)} first_diffs={bad}")
    else:
        ok += 1
        print(f"{name}: values=OK rows={len(sv)}")
print(f"{ok}/{len(oracle)} values=OK")
sys.exit(0 if ok == len(oracle) else 1)
