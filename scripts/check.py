#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 scripts/check.py [sfdir] [outdir] [--no-run]
       python3 scripts/check.py [sfdir] [outdir] --against <other_outdir>

1. runs graft.Verify via sbt against sfdir (unless --no-run)
2. loads oracle_sql.json, runs each SQL in DuckDB with the parquet tables
   registered as views
3. compares each Spark result parquet to the DuckDB result: row count,
   column names, and value hash (columns sorted by name, rows sorted by all
   columns, values stringified)

With --against, step 1 runs as usual, then every entry of outdir is
compared with the same entry of another Verify output (for example one
made from the parent commit) under the same normalization, oracle or not.
Each entry that differs or exists on one side only is listed, and the exit
status is non-zero on any difference.
"""
import json
import subprocess
import sys
from pathlib import Path

import duckdb

# the checkout this script belongs to: its graft.Verify is the one run
REPO = Path(__file__).resolve().parent.parent

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df):
    import pandas as pd  # noqa
    cols = sorted(df.columns)
    df = df[cols]
    df = df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    return df


def stringified(con, d):
    """One result dir's rows, normalized and stringified like the oracle
    compare; None when unreadable."""
    try:
        gn = norm(con.sql(f"SELECT * FROM '{d}/*.parquet'").df())
    except Exception:
        return None
    return list(gn.columns), gn.astype(str).values.tolist()


def against(outdir, other):
    con = duckdb.connect()
    mine = {d.name for d in Path(outdir).iterdir() if d.is_dir()}
    theirs = {d.name for d in Path(other).iterdir() if d.is_dir()}
    n_same = n_diff = 0
    for name in sorted(mine | theirs):
        if name not in mine or name not in theirs:
            print(f"DIFF {name}: only in {outdir if name in mine else other}")
            n_diff += 1
            continue
        a = stringified(con, f"{outdir}/{name}")
        b = stringified(con, f"{other}/{name}")
        if a is None or a != b:
            what = "unreadable" if a is None or b is None else (
                f"columns {a[0]} != {b[0]}" if a[0] != b[0] else
                f"rows {len(a[1])} != {len(b[1])}" if len(a[1]) != len(b[1])
                else "values differ")
            print(f"DIFF {name}: {what}")
            n_diff += 1
        else:
            n_same += 1
    print(f"\n{n_same} identical, {n_diff} differing (against {other})")
    return n_diff


def main():
    argv = sys.argv[1:]
    other = None
    if "--against" in argv:
        i = argv.index("--against")
        if i + 1 >= len(argv):
            sys.exit("--against needs the other Verify output dir")
        other = argv[i + 1]
        del argv[i:i + 2]
    args = [a for a in argv if not a.startswith("--")]
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.001"
    outdir = args[1] if len(args) > 1 else "/tmp/verify_out"
    if "--no-run" not in argv:
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir}'],
            cwd=REPO, capture_output=True, text=True, timeout=3600)
        sys.stdout.write(r.stdout[-3000:])
        if r.returncode != 0:
            print(r.stderr[-3000:])
            sys.exit(1)

    oracle = json.loads(Path(f"{outdir}/oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        spark_path = f"{outdir}/{name}"
        try:
            got = con.sql(
                f"SELECT * FROM '{spark_path}/*.parquet'").df()
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            n_fail += 1
            continue
        try:
            want = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            n_fail += 1
            continue
        gn, wn = norm(got), norm(want)
        if list(gn.columns) != list(wn.columns):
            print(f"FAIL {name}: columns {list(gn.columns)} != {list(wn.columns)}")
            n_fail += 1
            continue
        if len(gn) != len(wn):
            print(f"FAIL {name}: rows {len(gn)} != {len(wn)}")
            n_fail += 1
            continue
        gvals = gn.astype(str).values.tolist()
        wvals = wn.astype(str).values.tolist()
        if gvals != wvals:
            bad = [(g, w) for g, w in zip(gvals, wvals) if g != w][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {bad}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(gn)} rows)")
        n_pass += 1

    # queries without an oracle: rows-only check
    have = set(oracle)
    for d in sorted(Path(outdir).iterdir()):
        if d.is_dir() and d.name not in have:
            try:
                n = len(con.sql(f"SELECT * FROM '{d}/*.parquet'").df())
                print(f"ROWS {d.name}: {n} rows (no oracle)")
            except Exception as e:
                print(f"FAIL {d.name}: unreadable: {e}")
                n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    n_diff = against(outdir, other) if other else 0
    sys.exit(1 if n_fail or n_diff else 0)


if __name__ == "__main__":
    main()
