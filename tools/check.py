#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py [sfDir] [verifyOutDir]
Run `sbt "runMain graft.Verify <sfDir> <outDir> [query...]"` first; with
query names, Verify dumps only those and this compares only those.
Stricter than the driver: exact float equality after column-name sort and
row sort, so a PASS here should imply a driver hash-match.
"""
import duckdb, json, sys

sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
out = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'
con = duckdb.connect()
for t in ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
oracle = json.load(open(f'{out}/oracle_sql.json'))
fails = 0
for name, sql in sorted(oracle.items()):
    try:
        got = con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf()
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: {e}")
        fails += 1
        continue
    g = got[sorted(got.columns)]
    e_ = exp[sorted(exp.columns)]
    if list(g.columns) != list(e_.columns):
        print(f"FAIL {name}: schema {sorted(got.columns)} vs {sorted(exp.columns)}")
        fails += 1
        continue
    if len(g) != len(e_):
        print(f"FAIL {name}: rowcount {len(g)} vs {len(e_)}")
        fails += 1
        continue
    g2 = g.sort_values(by=list(g.columns)).reset_index(drop=True)
    e2 = e_.sort_values(by=list(e_.columns)).reset_index(drop=True)
    ok = True
    for c in g.columns:
        a, b = g2[c], e2[c]
        eq = (a.isna() & b.isna()) | (a.astype(str) == b.astype(str))
        if not eq.all():
            i = (~eq).idxmax()
            print(f"FAIL {name}: col {c} row {i}: spark={a[i]!r} duckdb={b[i]!r} "
                  f"({int((~eq).sum())} cells differ)")
            ok = False
            fails += 1
            break
    if ok:
        print(f"PASS {name} ({len(g)} rows x {len(g.columns)} cols)")
print(f"{fails} failures / {len(oracle)} queries")
sys.exit(1 if fails else 0)
