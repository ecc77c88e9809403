#!/usr/bin/env python3
"""Diff two Verify output dirs query by query (dev tool only): the check
that a refactor left every judged output as it was.

For every query dir in either outDir it checks, with DuckDB (as
tools/compare.py reads the same parquet):
  - equal column names and types, in order;
  - equal row multisets, in both directions (EXCEPT ALL each way);
and that the two oracle_sql.json manifests name the same queries with
identical SQL once the absolute path of the repo's fixtures dir (which
differs between checkouts) is masked.

Usage: python3 tools/diffverify.py <dirA> <dirB>
Exits 1 when anything differs.
"""
import json
import os
import re
import sys

import duckdb

FIXTURES = re.compile(r"'[^']*/fixtures/")


def manifest(out_dir):
    sql = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    return {k: FIXTURES.sub("'<fixtures>/", v) for k, v in sql.items()}


def outputs(out_dir):
    return {n for n in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, n))}


def main(dir_a, dir_b):
    con = duckdb.connect()
    failures = []
    man_a, man_b = manifest(dir_a), manifest(dir_b)
    for n in sorted(set(man_a) ^ set(man_b)):
        failures.append(f"{n}: oracle in only one manifest")
    for n in sorted(set(man_a) & set(man_b)):
        if man_a[n] != man_b[n]:
            failures.append(f"{n}: oracle SQL differs")
    out_a, out_b = outputs(dir_a), outputs(dir_b)
    for n in sorted(out_a ^ out_b):
        failures.append(f"{n}: output in only one dir")
    n_equal = 0
    for n in sorted(out_a & out_b):
        rels = [con.sql(f"SELECT * FROM '{d}/{n}/*.parquet'") for d in (dir_a, dir_b)]
        schemas = [list(zip(r.columns, map(str, r.types))) for r in rels]
        if schemas[0] != schemas[1]:
            failures.append(f"{n}: columns {schemas[0]} != {schemas[1]}")
            continue
        con.register("qa", rels[0])
        con.register("qb", rels[1])
        only_a, only_b = (con.sql(f"SELECT count(*) FROM (SELECT * FROM {x} EXCEPT ALL "
                                  f"SELECT * FROM {y})").fetchone()[0]
                          for x, y in (("qa", "qb"), ("qb", "qa")))
        if only_a or only_b:
            failures.append(f"{n}: rows differ ({only_a} only in A, {only_b} only in B)")
        else:
            n_equal += 1
    for f in failures:
        print(f"DIFF {f}")
    print(f"\n{n_equal} outputs equal / {len(failures)} differences; "
          f"{len(man_a)} and {len(man_b)} oracles compared")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
