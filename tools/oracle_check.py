#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: run each oracle SQL
in DuckDB over the testdata parquet and compare against the parquet the
Verify main dumped. Columns sorted by name before compare; rows compared
in emitted order and (fallback) sorted order. Dev-only tool — the shipped
Scala library has no Python dependency.

    python3 tools/oracle_check.py SF_DIR OUT                  # vs the oracle
    python3 tools/oracle_check.py SF_DIR OUT --against OLD    # vs OLD dump
    python3 tools/oracle_check.py SF_DIR OUT --sql-against OLD_ORACLE_JSON

`--against OLD` compares every lane's output in OUT with the same lane in
an earlier Verify dump OLD, in emitted order, and prints the lanes that
differ or exist in one dump only. It covers the rows-only lanes, which
have no oracle. Exit status 1 when any lane differs.

`--sql-against OLD_ORACLE_JSON` checks a rewrite of the oracle SQL
itself: for every lane whose SQL in OUT/oracle_sql.json differs from
the text in OLD_ORACLE_JSON (an earlier Verify's oracle_sql.json), it
runs both versions in DuckDB over SF_DIR and compares the answers in
emitted order. It prints `SQLDIFF <lane>: <why>` per difference and the
number of lanes whose text changed; a lane in one file only is a
difference. Needs no Spark output. Exit status 1 on any difference."""
import sys, json, glob, math, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df

def cell_eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return str(a) == str(b)

def frames_equal(a, b):
    if list(a.columns) != list(b.columns) or a.shape != b.shape:
        return False, f"shape/cols mismatch: {a.shape}{list(a.columns)} vs {b.shape}{list(b.columns)}"
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if not cell_eq(x, y):
                return False, f"col {c} row {i}: {x!r} != {y!r}"
    return True, ""

def lane_frame(con, out, name):
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        return None
    return norm(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())

def connect(sf):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    return con

def sql_against(sf, out, old_path):
    con = connect(sf)
    new = json.load(open(f"{out}/oracle_sql.json"))
    old = json.load(open(old_path))
    changed = differ = 0
    for name in sorted(new.keys() | old.keys()):
        if name not in old or name not in new:
            print(f"SQLDIFF {name}: missing from {old_path if name not in old else out}")
            differ += 1
            continue
        if new[name] == old[name]:
            continue
        changed += 1
        try:
            ok, why = frames_equal(norm(con.execute(new[name]).fetchdf()),
                                   norm(con.execute(old[name]).fetchdf()))
        except Exception as e:
            ok, why = False, str(e).splitlines()[0]
        if not ok:
            print(f"SQLDIFF {name}: {why}")
            differ += 1
    print(f"\n{changed} lanes' SQL text changed, {differ} differ")
    sys.exit(1 if differ else 0)

def against(out, old):
    con = duckdb.connect()
    def names(d):
        return {os.path.basename(p.rstrip("/")) for p in glob.glob(f"{d}/*/")}
    new_names, old_names = names(out), names(old)
    differ = 0
    for name in sorted(new_names | old_names):
        if name not in old_names or name not in new_names:
            where = old if name not in old_names else out
            print(f"DIFF {name}: missing from {where}")
            differ += 1
            continue
        a, b = lane_frame(con, out, name), lane_frame(con, old, name)
        if a is None or b is None:
            ok, why = a is None and b is None, "no parquet output on one side"
        else:
            ok, why = frames_equal(a, b)
        if not ok:
            print(f"DIFF {name}: {why}")
            differ += 1
    print(f"\n{len(new_names | old_names)} lanes, {differ} differ")
    sys.exit(1 if differ else 0)

def main():
    opts = {}
    for flag in ("--against", "--sql-against"):
        if flag in sys.argv:
            i = sys.argv.index(flag)
            opts[flag] = sys.argv[i + 1]
            del sys.argv[i:i + 2]
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    if "--against" in opts:
        against(out, opts["--against"])
    if "--sql-against" in opts:
        sql_against(sf, out, opts["--sql-against"])
    con = connect(sf)
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    failures = 0
    for name in sorted(oracle):
        files = glob.glob(f"{out}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            failures += 1
            continue
        try:
            spark_df = norm(con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetchdf())
            duck_df = norm(con.execute(oracle[name]).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: {e}")
            failures += 1
            continue
        ok, why = frames_equal(spark_df, duck_df)
        if not ok:
            ss = spark_df.sort_values(by=list(spark_df.columns), ignore_index=True) if len(spark_df) else spark_df
            ds = duck_df.sort_values(by=list(duck_df.columns), ignore_index=True) if len(duck_df) else duck_df
            ok2, _ = frames_equal(ss, ds)
            tag = " (matches after sort — ordering only)" if ok2 else ""
            print(f"FAIL {name}: {why}{tag}")
            failures += 1
        else:
            print(f"PASS {name} ({len(spark_df)} rows)")
    # queries without oracle → rows-only check
    for d in sorted(glob.glob(f"{out}/*/")):
        name = d.rstrip("/").split("/")[-1]
        if name in oracle:
            continue
        files = glob.glob(f"{d}/*.parquet")
        n = con.execute(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] if files else 0
        print(f"{'PASS' if n > 0 else 'WARN'} {name}: rows-only ({n} rows)")
    print(f"\n{failures} failures")
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main()
