#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: for each dumped query
result, run the oracle SQL in DuckDB over the same sf dir and compare
(sorted rows, columns sorted by name). An oracle_sql.json key with no
result directory counts as a FAIL. Exits 1 on any FAIL.
Usage: check.py <sfdir> <outdir>"""
import sys, json, glob, os
import duckdb, pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
oracle = json.load(open(f"{outdir}/oracle_sql.json"))
dumped = {os.path.basename(p) for p in glob.glob(f"{outdir}/*") if os.path.isdir(p)}
# Every oracle key must have a result: a key Verify failed to dump is a FAIL,
# not a key the gate quietly skips.
names = sorted(dumped | set(oracle))
fails = 0
for name in names:
    if name not in dumped:
        print(f"FAIL {name}: no output directory"); fails += 1; continue
    try:
        got = pd.read_parquet(f"{outdir}/{name}")
    except Exception as e:
        print(f"FAIL {name}: cannot read result: {e}"); fails += 1; continue
    if name not in oracle:
        print(f"rows-only {name}: rows={len(got)}" + (" FAIL(empty)" if len(got)==0 else ""))
        fails += int(len(got)==0)
        continue
    try:
        exp = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}"); fails += 1; continue
    g = got.reindex(sorted(got.columns), axis=1)
    e = exp.reindex(sorted(exp.columns), axis=1)
    if list(g.columns) != list(e.columns):
        print(f"FAIL {name}: columns {list(g.columns)} vs {list(e.columns)}"); fails += 1; continue
    g = g.sort_values(by=list(g.columns)).reset_index(drop=True)
    e = e.sort_values(by=list(e.columns)).reset_index(drop=True)
    if len(g) != len(e):
        print(f"FAIL {name}: rowcount {len(g)} vs {len(e)}"); fails += 1; continue
    try:
        # exact compare after normalizing dtypes to strings
        same = g.astype(str).equals(e.astype(str))
    except Exception as ex:
        same = False
    if same:
        print(f"OK   {name}: rows={len(g)}")
    else:
        diff = (g.astype(str) != e.astype(str))
        cells = diff.sum().sum()
        print(f"FAIL {name}: {cells} differing cells")
        mask = diff.any(axis=1)
        print("  got:", g[mask].head(3).to_dict('records'))
        print("  exp:", e[mask].head(3).to_dict('records'))
        fails += 1
print(f"\n{len(names)-fails}/{len(names)} pass")
sys.exit(1 if fails else 0)
