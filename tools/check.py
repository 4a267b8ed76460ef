#!/usr/bin/env python3
"""Local pre-verification harness (dev tool only — NOT part of the library).

Mirrors the driver's correctness gate: runs graft.Verify via sbt, then for
each query result parquet, executes the declared oracle SQL in DuckDB over
the same testdata tables and compares (rows, schema-ish, values) with
columns sorted by name and rows sorted by all columns.

Usage: python3 tools/check.py [sfdir] [outdir] [--no-verify] [names...]
"""
import json, math, os, subprocess, sys, glob

import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
RUN_VERIFY = "--no-verify" not in sys.argv
ONLY = [a for a in sys.argv[3:] if not a.startswith("--")]

if RUN_VERIFY:
    # forward any requested names so Verify dumps ONLY those (a full
    # 240+-query dump costs ~15 min at sf0.01; targeted iteration doesn't)
    names = " " + " ".join(ONLY) if ONLY else ""
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}{names}'],
        cwd="/root/repo", capture_output=True, text=True, timeout=1800)
    tail = (r.stdout + r.stderr)[-3000:]
    if r.returncode != 0:
        print(tail); sys.exit(1)
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

def canon_val(v):
    """Normalize a cell: round floats, turn array-likes (numpy arrays from
    list columns) and dicts (struct columns) into plain nested tuples so
    row comparison and sorting stay well-defined."""
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(canon_val(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon_val(x)) for k, x in v.items()))
    return v

def canon(rows):
    out = []
    for row in rows:
        out.append(tuple(canon_val(v) for v in row))
    # sort by non-float columns first (floats only as coarsely-rounded
    # tiebreaks): low-order float digits differing across engines must not
    # reorder the two sides differently and zip mismatched rows.
    def key(r):
        nonf = tuple(str(x) for x in r if not isinstance(x, float))
        coarse = tuple(f"{x:.4f}" for x in r if isinstance(x, float))
        # full-precision floats as the FINAL tiebreak: rows that tie on the
        # coarse key but differ beyond 1e-4 must still sort identically on
        # both sides, or the zip compares mismatched rows.
        fine = tuple(x for x in r if isinstance(x, float))
        return (nonf, coarse, fine)
    return sorted(out, key=key)

def same(u, v):
    """Exact cell equality as tuple comparison does it (identity first, so
    the NaT singleton matches itself), plus NaN == NaN: a NULL double reads
    as a fresh NaN float on each side, and NaN != NaN would count agreeing
    rows as mismatched."""
    return u is v or u == v or (isinstance(u, float) and isinstance(v, float)
                                and math.isnan(u) and math.isnan(v))

ok = fail = 0
for name in sorted(oracle) if not ONLY else ONLY:
    sql = oracle.get(name)
    if sql is None:  # explicitly-named rows-only query: reported below
        continue
    res_dir = f"{OUT}/{name}"
    if not glob.glob(f"{res_dir}/*.parquet"):
        print(f"FAIL {name}: no spark output"); fail += 1; continue
    try:
        mine = con.execute(
            f"SELECT * FROM '{res_dir}/*.parquet'").df()
        theirs = con.execute(sql).df()
    except Exception as e:
        print(f"FAIL {name}: exec error {e}"); fail += 1; continue
    mc, tc = sorted(mine.columns), sorted(theirs.columns)
    if mc != tc:
        print(f"FAIL {name}: cols {mc} vs {tc}"); fail += 1; continue
    a, b = canon(mine[mc].itertuples(index=False)), canon(theirs[tc].itertuples(index=False))
    if len(a) != len(b):
        print(f"FAIL {name}: rows {len(a)} vs {len(b)}"); fail += 1; continue
    bad = [(x, y) for x, y in zip(a, b) if not all(map(same, x, y))]
    # allow tiny float wiggle before declaring failure
    really_bad = []
    for x, y in bad:
        close = all(
            (isinstance(u, float) and isinstance(v, float) and
             (math.isclose(u, v, rel_tol=1e-7, abs_tol=1e-7) or (math.isnan(u) and math.isnan(v))))
            or u == v
            for u, v in zip(x, y))
        if not close:
            really_bad.append((x, y))
    if bad:
        status = "WARN(float-wiggle)" if not really_bad else "FAIL"
        sample = (really_bad or bad)[:2]
        print(f"{status} {name}: {len(bad)} mismatched rows of {len(a)}; e.g. {sample}")
        if really_bad:
            fail += 1; continue
    ok += 1
    print(f"ok   {name} ({len(a)} rows)")

rows_only = set()
qnames = [os.path.basename(p) for p in glob.glob(f"{OUT}/*") if os.path.isdir(p)]
for name in qnames:
    if name not in oracle:
        n = con.execute(f"SELECT count(*) FROM '{OUT}/{name}/*.parquet'").fetchone()[0]
        rows_only.add(name)
        print(f"rows-only {name}: {n} rows")

print(f"\n{ok} ok / {fail} fail / {len(rows_only)} rows-only")
sys.exit(1 if fail else 0)
