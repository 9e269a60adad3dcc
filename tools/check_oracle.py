#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Exits 1 at once if Verify left an INVARIANT_VIOLATIONS file. Otherwise
reads each query parquet under the verify out dir, runs the oracle SQL in
DuckDB, sorts columns by name, and compares row counts, schemas (loosely)
and values (exact for ints/strings; doubles to 1e-12 rel).
"""
import json, os, sys, math
import duckdb

outdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"
# graft.Verify writes this sentinel (and still exits 0) when the output
# invariant audit fails or crashes; the query outputs stay in place, so
# without this check a failed audit would read as all-ok.
sentinel = os.path.join(outdir, "INVARIANT_VIOLATIONS")
if os.path.exists(sentinel):
    with open(sentinel) as f:
        head = f.read().splitlines()[:10]
    print(f"[FAIL] output invariant audit: {sentinel}")
    for line in head:
        print(f"  {line}")
    sys.exit(1)
oracles = json.load(open(f"{outdir}/oracle_sql.json"))
# Explicit caps instead of DuckDB's defaults (80% of physical RAM, one
# thread per core), so the buffer pool does not grow with the box; no
# comparison changes. 12 GB is the floor: crawl_depth's unrolled BFS CTEs
# fail DuckDB's own accounting below ~11 GB at sf0.01, though their
# resident size stays near 1 GB. The dedup_substrings* oracles pass 6 GB
# resident whatever the limit, so run this after the Verify JVM exits.
con = duckdb.connect(config={"memory_limit": "12GB", "threads": 4})

ok = fail = 0
for name, sql in sorted(oracles.items()):
    try:
        spark_df = con.execute(
            f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')").fetchdf()
        oracle_df = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"[FAIL] {name}: exec error: {e}")
        fail += 1
        continue
    a = spark_df[sorted(spark_df.columns)]
    b = oracle_df[sorted(oracle_df.columns)]
    if list(a.columns) != list(b.columns):
        print(f"[FAIL] {name}: columns {list(a.columns)} vs {list(b.columns)}")
        fail += 1
        continue
    if len(a) != len(b):
        print(f"[FAIL] {name}: rows {len(a)} vs {len(b)}")
        fail += 1
        continue
    # sort rows deterministically for compare
    a = a.sort_values(by=list(a.columns), ignore_index=True)
    b = b.sort_values(by=list(b.columns), ignore_index=True)
    bad = None
    for col in a.columns:
        av, bv = a[col], b[col]
        if av.dtype.kind == 'f' or bv.dtype.kind == 'f':
            for i, (x, y) in enumerate(zip(av, bv)):
                if x is None and y is None:
                    continue
                if isinstance(x, float) and isinstance(y, float):
                    if math.isnan(x) and math.isnan(y):
                        continue
                    if x != y and abs(x - y) > 1e-12 * max(1.0, abs(x), abs(y)):
                        bad = (col, i, x, y)
                        break
                elif x != y:
                    bad = (col, i, x, y)
                    break
        else:
            neq = (av.astype(str) != bv.astype(str))
            if neq.any():
                i = int(neq.idxmax())
                bad = (col, i, av[i], bv[i])
        if bad:
            break
    if bad:
        col, i, x, y = bad
        print(f"[FAIL] {name}: col={col} row={i}: spark={x!r} oracle={y!r}")
        fail += 1
    else:
        print(f"[ ok ] {name}: {len(a)} rows")
        ok += 1
print(f"\n{ok} ok, {fail} fail")
sys.exit(1 if fail else 0)
