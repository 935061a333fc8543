#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate (dev tool only — the engine
itself never depends on Python). Usage:

    sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
    python3 tools/selfcheck.py /root/testdata/sf0.01 /tmp/verify_out [query ...]
    python3 tools/selfcheck.py --against /tmp/parent_out /tmp/verify_out [query ...]

Registers the driver tables as DuckDB views, runs each oracle SQL, and
compares against the engine's parquet output: row count, column names
(sorted), and values (rows sorted, exact).

With --against, compares two Verify output trees instead (e.g. a parent
commit's and a change's): oracle_sql.json byte for byte, and every result
set row for row (same canonical order, exact values, same dtypes)."""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def load_result(outdir, name):
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        return None
    con = duckdb.connect()
    return con.sql(f"SELECT * FROM read_parquet({files!r})").df()

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def against(parent, outdir, only):
    n_same = n_diff = 0
    with open(f"{parent}/oracle_sql.json", "rb") as f:
        want = f.read()
    with open(f"{outdir}/oracle_sql.json", "rb") as f:
        got = f.read()
    if want == got:
        print(f"SAME oracle_sql.json ({len(got)} bytes)"); n_same += 1
    else:
        print("DIFF oracle_sql.json: bytes differ"); n_diff += 1
    for name in sorted(set(json.loads(want)) | set(json.loads(got))):
        if only and name not in only:
            continue
        p, c = load_result(parent, name), load_result(outdir, name)
        if p is None or c is None:
            side = "parent" if p is None else "change"
            print(f"DIFF {name}: {side} output missing"); n_diff += 1; continue
        p, c = canon(p), canon(c)
        try:
            pd.testing.assert_frame_equal(p, c, check_exact=True)
            print(f"SAME {name} ({len(c)} rows)"); n_same += 1
        except AssertionError as ex:
            print(f"DIFF {name}: {str(ex)[:500]}"); n_diff += 1
    print(f"== {n_same} same / {n_diff} differ ==")
    sys.exit(1 if n_diff else 0)

def main():
    if sys.argv[1] == "--against":
        against(sys.argv[2], sys.argv[3], set(sys.argv[4:]))
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        got = load_result(outdir, name)
        if got is None:
            print(f"FAIL {name}: engine output missing"); n_fail += 1; continue
        try:
            exp = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(e.columns)}")
            n_fail += 1; continue
        if len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} vs {len(e)}"); n_fail += 1; continue
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
            print(f"PASS {name} ({len(g)} rows)"); n_pass += 1
        except AssertionError as ex:
            print(f"FAIL {name}: values differ: {str(ex)[:500]}"); n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
