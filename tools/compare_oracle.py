#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify),
runs the matching SQL from oracle_sql.json in DuckDB with the sf
tables registered as views, sorts columns by name and rows by all
columns, and compares values exactly. Prints per-query PASS/FAIL with
first diffs. DuckDB runs under a fixed memory limit; a query that runs
out of memory prints SKIP and the comparison goes on. The last line is
"== P pass, F fail, S skipped"; a skip never counts as a pass, and the
exit status is non-zero only when some query fails. Dev tool only — the
engine itself has no Python deps.
"""
import json
import math
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# fixed so a run does not depend on the host's memory: uncapped, the
# q196 oracle alone grows past 12 GiB at sf0.01
MEMORY_LIMIT = "3GB"


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def values_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{MEMORY_LIMIT}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    n_pass = n_fail = n_skip = 0
    for name in sorted(oracle):
        qdir = Path(out_dir, name)
        if not qdir.exists():
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM '{qdir}/*.parquet'").df()
            want = con.execute(oracle[name]).df()
        except duckdb.OutOfMemoryException:
            print(f"SKIP {name}: duckdb out of memory")
            n_skip += 1
            continue
        got, want = canon(got), canon(want)
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
            continue
        bad = None
        for i in range(len(got)):
            for c in got.columns:
                a, b = got[c].iloc[i], want[c].iloc[i]
                try:
                    a = a.item()
                except AttributeError:
                    pass
                try:
                    b = b.item()
                except AttributeError:
                    pass
                if not values_equal(a, b):
                    bad = (i, c, a, b)
                    break
            if bad:
                break
        if bad:
            i, c, a, b = bad
            print(f"FAIL {name}: row {i} col {c}: spark={a!r} oracle={b!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    # rows-only queries (in verify output but no oracle)
    for qdir in sorted(Path(out_dir).iterdir()):
        if qdir.is_dir() and qdir.name not in oracle:
            n = con.execute(f"SELECT count(*) FROM '{qdir}/*.parquet'").fetchone()[0]
            status = "PASS" if n > 0 else "FAIL"
            print(f"{status} {qdir.name} (rows-only: {n} rows)")
    print(f"== {n_pass} pass, {n_fail} fail, {n_skip} skipped")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
