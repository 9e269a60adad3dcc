#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: check_oracle.py [VERIFY_OUT_DIR]   (default /tmp/verify_out)
       check_oracle.py --rows-equal DIR_A DIR_B

Exits 1 at once if Verify left an INVARIANT_VIOLATIONS file. Otherwise
runs each query in its own child process with a fresh DuckDB connection:
the child reads the query parquet under the verify out dir, runs the
oracle SQL, sorts columns by name, and compares row counts, schemas
(loosely) and values (exact for ints/strings; doubles to 1e-12 rel).
The parent prints each child's verdict with its peak resident size, so
one query's buffers cannot starve the next and a query that dies (say,
SIGKILLed) fails alone instead of ending the run.

--rows-equal compares two Verify out dirs with no oracle: per query
(each subdirectory, read as <dir>/<query>/*.parquet) the rows must be
equal as multisets, checked by EXCEPT ALL both ways after the column
names and types match. It prints the compared-query count and exits 1
on any difference, when the two dirs hold different query sets, or when
there is no query to compare (a wrong path must not pass vacuously).
"""
import json, os, subprocess, sys, math


def compare(outdir, name, sql):
    """One query's verdict line and whether it passed."""
    import duckdb
    # Explicit caps instead of DuckDB's defaults (80% of physical RAM, one
    # thread per core), so the buffer pool does not grow with the box; no
    # comparison changes. 12 GB is the floor: crawl_depth's unrolled BFS
    # CTEs fail DuckDB's own accounting below ~11 GB at sf0.01, though
    # their resident size stays near 1 GB. The limit does not bound
    # dedup_substrings_keep_first_clean, which peaks near 12 GB resident
    # at 2 threads (13.8 GB at 4), whatever the limit.
    con = duckdb.connect(config={"memory_limit": "12GB", "threads": 2})
    try:
        spark_df = con.execute(
            f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')").fetchdf()
        oracle_df = con.execute(sql).fetchdf()
    except Exception as e:
        return False, f"[FAIL] {name}: exec error: {e}"
    a = spark_df[sorted(spark_df.columns)]
    b = oracle_df[sorted(oracle_df.columns)]
    if list(a.columns) != list(b.columns):
        return False, f"[FAIL] {name}: columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"[FAIL] {name}: rows {len(a)} vs {len(b)}"
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
        return False, f"[FAIL] {name}: col={col} row={i}: spark={x!r} oracle={y!r}"
    return True, f"[ ok ] {name}: {len(a)} rows"


def queries(outdir):
    """The query names of a Verify out dir: its subdirectories."""
    return {e.name for e in os.scandir(outdir) if e.is_dir()}


def rows_equal(dir_a, dir_b):
    """Exit status of the --rows-equal comparison of two out dirs."""
    import duckdb
    names_a, names_b = queries(dir_a), queries(dir_b)
    for only, where in ((names_a - names_b, dir_a), (names_b - names_a, dir_b)):
        for name in sorted(only):
            print(f"[FAIL] {name}: only in {where}")
    con = duckdb.connect(config={"memory_limit": "4GB", "threads": 2})
    same = 0
    for name in sorted(names_a & names_b):
        a = f"read_parquet('{dir_a}/{name}/*.parquet')"
        b = f"read_parquet('{dir_b}/{name}/*.parquet')"
        try:
            cols_a = con.execute(f"DESCRIBE SELECT * FROM {a}").fetchall()
            cols_b = con.execute(f"DESCRIBE SELECT * FROM {b}").fetchall()
            if [c[:2] for c in cols_a] != [c[:2] for c in cols_b]:
                print(f"[FAIL] {name}: columns differ")
                continue
            diff = [con.execute(
                f"SELECT count(*) FROM (SELECT * FROM {x} EXCEPT ALL "
                f"SELECT * FROM {y})").fetchone()[0]
                for x, y in ((a, b), (b, a))]
        except Exception as e:
            print(f"[FAIL] {name}: {e}")
            continue
        if diff != [0, 0]:
            print(f"[FAIL] {name}: {diff[0]} rows only in {dir_a}, "
                  f"{diff[1]} only in {dir_b}")
            continue
        same += 1
    compared = len(names_a & names_b)
    print(f"\n{same} of {compared} queries equal "
          f"({len(names_a)} in {dir_a}, {len(names_b)} in {dir_b})")
    return 0 if compared and same == compared and names_a == names_b else 1


if len(sys.argv) == 4 and sys.argv[1] == "--rows-equal":
    sys.exit(rows_equal(sys.argv[2], sys.argv[3]))

if len(sys.argv) == 4 and sys.argv[1] == "--one":
    # child: one query, verdict on stdout, exit status 0 iff it passed
    outdir, name = sys.argv[2], sys.argv[3]
    sql = json.load(open(f"{outdir}/oracle_sql.json"))[name]
    passed, line = compare(outdir, name, sql)
    print(line, flush=True)
    sys.exit(0 if passed else 1)

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

ok = fail = 0
top_mb, top_name = 0.0, ""
for name in sorted(oracles):
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--one", outdir, name],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    out = child.stdout.read().strip()
    _, status, usage = os.wait4(child.pid, 0)
    code = os.waitstatus_to_exitcode(status)
    peak_mb = usage.ru_maxrss / 1024  # Linux reports KiB
    if peak_mb > top_mb:
        top_mb, top_name = peak_mb, name
    if code == 0:
        ok += 1
    else:
        fail += 1
        if not out.startswith("[FAIL]"):
            # died before its verdict (signal, import error, ...)
            why = f"signal {-code}" if code < 0 else f"exit {code}"
            out = f"[FAIL] {name}: child {why}" + (f"\n{out}" if out else "")
    print(f"{out}  [peak {peak_mb:.0f} MB]", flush=True)
print(f"\n{ok} ok, {fail} fail (largest peak {top_mb:.0f} MB: {top_name})")
sys.exit(1 if fail else 0)
