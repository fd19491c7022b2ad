#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: load each Verify output
parquet, run the matching oracle SQL in DuckDB over the same sf tables, sort
columns by name + rows by value, and diff. Usage:
    python3 scripts/oracle_check.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb
import pandas as pd

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

ok, bad, weak = [], [], []
for path in sorted(glob.glob(os.path.join(out_dir, "*"))):
    name = os.path.basename(path)
    if name.endswith(".parquet"):
        name = name[:-len(".parquet")]
    if not os.path.isdir(path):
        continue
    spark_df = pd.concat([pd.read_parquet(p) for p in glob.glob(path + "/*.parquet")]) \
        if glob.glob(path + "/*.parquet") else pd.DataFrame()
    if name not in oracle:
        weak.append((name, len(spark_df)))
        continue
    try:
        duck_df = con.sql(oracle[name]).df()
    except Exception as e:
        bad.append((name, f"oracle SQL error: {e}"))
        continue
    s, d = canon(spark_df.copy()), canon(duck_df.copy())
    if list(s.columns) != list(d.columns):
        bad.append((name, f"schema mismatch: spark={list(s.columns)} duck={list(d.columns)}"))
        continue
    if len(s) != len(d):
        bad.append((name, f"row count: spark={len(s)} duck={len(d)}"))
        continue
    try:
        pd.testing.assert_frame_equal(s, d, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
        ok.append(name)
    except AssertionError as e:
        bad.append((name, str(e).split("\n")[0] + " | " + "\n".join(str(e).split("\n")[1:4])))

# a slot that threw inside Verify leaves no output directory (only a line on
# stderr): every oracle without an output fails rather than dropping out
seen = set(ok) | {n for n, _ in bad + weak}
for name in sorted({k[:-len(".parquet")] if k.endswith(".parquet") else k
                    for k in oracle} - seen):
    bad.append((name, "no output"))

print(f"PASS {len(ok)}: {ok}")
print(f"ROWS-ONLY {len(weak)}: {weak}")
print(f"FAIL {len(bad)}:")
for n, m in bad:
    print(f"  {n}: {m[:500]}")
sys.exit(1 if bad else 0)
