#!/usr/bin/env python3
"""Compare two Verify dump directories query by query.

Usage: python3 tools/dump_diff.py <dirA> <dirB> [names...]

Each dump directory holds one parquet directory per query (as written by
`graft.Verify`). A query passes when both sides have the same column
names and types, in the same order, and DuckDB `EXCEPT ALL` is empty in
both directions (the row multisets are equal). This grades a change
against its parent without the oracle SQL, so it also covers queries
whose oracle DuckDB cannot run here (q119). `names` restricts the run to
queries named exactly or by their q-number prefix (e.g. `q119`).

Prints one PASS/FAIL line per query and a summary; exits 1 on any
difference, including a query dumped on one side only. Dev tool only —
the shipped library has no Python dependency.
"""
import os
import sys

import duckdb


def queries(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def schema(con, rel):
    return [(r[0], r[1]) for r in con.sql(f"DESCRIBE SELECT * FROM {rel}")
            .fetchall()]


def count(con, sql):
    return con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def compare(con, a, b):
    """None when equal, else a one-line reason."""
    ra, rb = f"'{a}/*.parquet'", f"'{b}/*.parquet'"
    sa, sb = schema(con, ra), schema(con, rb)
    if sa != sb:
        return f"columns A={sa} B={sb}"
    only_a = count(con, f"SELECT * FROM {ra} EXCEPT ALL SELECT * FROM {rb}")
    only_b = count(con, f"SELECT * FROM {rb} EXCEPT ALL SELECT * FROM {ra}")
    if only_a or only_b:
        return f"rows only in A={only_a}, only in B={only_b}"
    return None


def main(dir_a, dir_b, only=()):
    con = duckdb.connect()
    names = queries(dir_a) | queries(dir_b)
    if only:
        names = {n for n in names if n in only or n.split("_")[0] in only}
    n_pass = n_fail = 0
    for name in sorted(names):
        a, b = os.path.join(dir_a, name), os.path.join(dir_b, name)
        if not (os.path.isdir(a) and os.path.isdir(b)):
            reason = f"dumped only in {'A' if os.path.isdir(a) else 'B'}"
        else:
            try:
                reason = compare(con, a, b)
            except Exception as e:  # unreadable dump or unsupported type
                reason = f"exception {str(e)[:200]}"
        if reason is None:
            rows = con.sql(f"SELECT count(*) FROM '{a}/*.parquet'").fetchone()[0]
            print(f"PASS {name} ({rows} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: {reason}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail or not names else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], tuple(sys.argv[3:])))
