"""Compare Verify's Spark dumps against DuckDB running each face's oracle SQL.

    python3 scripts/oracle_check.py SF_DIR VERIFY_OUT_DIR

Prints one line per face, then a one-line count. Exits 1 when any face has
an ORACLE ERROR, NO SPARK OUTPUT, NO ORACLE SQL (a dumped face with no
oracle_sql.json entry), SCHEMA MISMATCH, ROWCOUNT or HASH MISMATCH.
"""
import duckdb, json, os, sys, glob, hashlib
import pandas as pd

sfdir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
outdir = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_r2'
con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
oracle = json.load(open(f'{outdir}/oracle_sql.json'))
dumped = sorted(d for d in os.listdir(outdir) if os.path.isdir(os.path.join(outdir, d)))

def canon(df):
    df = df[sorted(df.columns)]
    return df

matches, failures = 0, 0

def fail(msg):
    global failures
    failures += 1
    print(msg)

for name, sql in sorted(oracle.items()):
    try:
        odf = con.sql(sql).df()
    except Exception as e:
        fail(f"{name}: ORACLE ERROR {e}"); continue
    files = glob.glob(f'{outdir}/{name}/*.parquet')
    if not files:
        fail(f"{name}: NO SPARK OUTPUT"); continue
    sdf = pd.concat([pd.read_parquet(f) for f in files])
    odf, sdf = canon(odf), canon(sdf)
    if list(odf.columns) != list(sdf.columns):
        fail(f"{name}: SCHEMA MISMATCH oracle={list(odf.columns)} spark={list(sdf.columns)}"); continue
    if len(odf) != len(sdf):
        fail(f"{name}: ROWCOUNT {len(odf)} vs {len(sdf)}"); continue
    # sort rows for comparison, hash values as strings
    so = odf.astype(str).sort_values(by=list(odf.columns)).reset_index(drop=True)
    ss = sdf.astype(str).sort_values(by=list(sdf.columns)).reset_index(drop=True)
    ho = hashlib.md5(so.to_csv(index=False).encode()).hexdigest()
    hs = hashlib.md5(ss.to_csv(index=False).encode()).hexdigest()
    # also check dtypes roughly
    dt_o = [str(t) for t in odf.dtypes]; dt_s = [str(t) for t in sdf.dtypes]
    tm = "types_ok" if dt_o == dt_s else f"TYPES {dt_o} vs {dt_s}"
    if ho == hs:
        matches += 1
        print(f"{name}: MATCH rows={len(odf)} {tm}")
    else:
        fail(f"{name}: HASH MISMATCH rows={len(odf)} {tm}")
        diff = (so != ss).any(axis=1)
        print(so[diff].head(3)); print(ss[diff].head(3))

for name in dumped:
    if name not in oracle:
        fail(f"{name}: NO ORACLE SQL")

print(f"oracle_check: {matches} match, {failures} fail, {len(set(oracle) | set(dumped))} faces")
sys.exit(1 if failures else 0)
