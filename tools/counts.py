#!/usr/bin/env python3
"""Regenerate the judged-surface counts quoted in SURVEY.md/README.md
and the code-size counts quoted in ROADMAP.md (dev tool only). Parses
the QueryDef registrations from the query sources — the same
definitions SparkEntry.allDefs concatenates — so the docs can quote a
derived number instead of a hand-edited one (round-8 verdict item 7:
SURVEY said 163 while the judged surface was 164).

The code-size counts cover the Scala sources under src/main: lines
(as `wc -l` counts them), `SparkSession.builder` sites, `def main(`
entry points, lines citing "round N" history (case-insensitive
`round 12` / `round-12`), the `row_number().over` window sites in
the query modules, the `read.parquet(` sites outside `Tables` that
pass no schema (a read whose result is only asked for `.schema` is
the inference itself and is not counted), the `Staging.read(` and
`Staging.persist(` sites (the staged-artifact reader and one-frame
writer), the code lines (non-blank lines that do not start with
`//`, `*` or `/*`), the
`ScaleOps.capBuckets(` sites in the query modules, the
`isNotNull.as("is_dup")` roster tails, and the lambda
`transform(` / `aggregate(` / `zip_with(` sites (interpreted
higher-order functions) in `ScaleRehearsal` and the query modules,
comment lines excluded.

Usage: python3 tools/counts.py [verify_outDir]
       python3 tools/counts.py --stamp

--stamp (round-10 verdict item 8) rewrites the SURVEY §8 heading and
the query/oracle count sentences in SURVEY.md + README.md in place, so
the header carries the generating round automatically instead of going
stale by hand. The round number derives from the newest CORRECTNESS_r*
artifact (the last judged round) + 1 — i.e. the round being built.
"""
import glob
import json
import re
import sys

names, oracled = [], []
for f in sorted(glob.glob("src/main/scala/graft/queries/*.scala")):
    for name, kind in re.findall(
            r'QueryDef\("([a-z0-9_]+)",\s*(None|Some)', open(f).read()):
        names.append(name)
        if kind == "Some":
            oracled.append(name)

dupes = {n for n in names if names.count(n) > 1}
assert not dupes, f"duplicate QueryDef names: {dupes}"
print(f"queries: {len(names)}")
print(f"with DuckDB oracle (from source): {len(oracled)}")
rows_only = sorted(set(names) - set(oracled))
print(f"rows-only (no oracle): {rows_only if rows_only else 'none'}")

main_lines = [line
              for f in sorted(glob.glob("src/main/**/*.scala", recursive=True))
              for line in open(f).read().split("\n")[:-1]]
history = re.compile(r"\bround[- ]\d", re.IGNORECASE)
print(f"src/main Scala lines: {len(main_lines)}")
print(f"SparkSession.builder sites: "
      f"{sum('SparkSession.builder' in l for l in main_lines)}")
print(f"def main( objects: {sum('def main(' in l for l in main_lines)}")
print(f'"round N" history lines: {sum(bool(history.search(l)) for l in main_lines)}')
# window top-k sites in the query modules (Column API, not oracle SQL)
print("row_number().over sites under src/main/.../queries: " + str(sum(
    open(f).read().count("row_number().over")
    for f in glob.glob("src/main/scala/graft/queries/*.scala"))))
# schema-less fixture/artifact reads: each infers its schema, one Spark
# job per call
print("read.parquet( sites without a schema, outside Tables: " + str(sum(
    len(re.findall(r"read\.parquet\((?![^\n]*\)\.schema\b)", open(f).read()))
    for f in glob.glob("src/main/**/*.scala", recursive=True)
    if not f.endswith("/Tables.scala"))))
# the one reader and the one-frame writer of read-only staged artifacts
for fn in ("Staging.read(", "Staging.persist("):
    print(f"{fn} sites under src/main: " + str(sum(
        open(f).read().count(fn)
        for f in glob.glob("src/main/**/*.scala", recursive=True))))
# code lines: comment-only lines do not count, so a deletion shows as a
# code reduction apart from comment churn
print("src/main code lines (non-blank, not //, * or /* after stripping): " + str(sum(
    1 for l in main_lines
    if l.strip() and not l.strip().startswith(("//", "*", "/*")))))
print("ScaleOps.capBuckets( sites under src/main/.../queries: " + str(sum(
    open(f).read().count("ScaleOps.capBuckets(")
    for f in glob.glob("src/main/scala/graft/queries/*.scala"))))
print('isNotNull.as("is_dup") roster-tail sites under src/main: ' + str(sum(
    l.count('isNotNull.as("is_dup")') for l in main_lines)))
hof = re.compile(r"\b(?:transform|aggregate|zip_with)\(")
print("lambda transform(/aggregate(/zip_with( sites in ScaleRehearsal + queries: " + str(sum(
    len(hof.findall(line))
    for f in ["src/main/scala/graft/ScaleRehearsal.scala"]
    + glob.glob("src/main/scala/graft/queries/*.scala")
    for line in open(f)
    if not line.lstrip().startswith(("//", "*", "/*")))))

if "--stamp" in sys.argv:
    rounds = [int(m.group(1)) for p in glob.glob("CORRECTNESS_r*.json")
              if (m := re.search(r"_r(\d+)", p))]
    rnd = (max(rounds) + 1) if rounds else 1
    q, o = len(names), len(oracled)

    s = open("SURVEY.md").read()
    s, n1 = re.subn(r"## 8\. Implementation coverage map \(round [^)]*\)",
                    f"## 8. Implementation coverage map (round {rnd} — "
                    "heading and counts stamped by tools/counts.py --stamp)", s)
    s, n2 = re.subn(
        r"as of round \d+ the surface is \d+ queries \(count\nderived by "
        r"`tools/counts\.py`, not hand-edited\); \d+ carry a DuckDB",
        f"as of round {rnd} the surface is {q} queries (count\nderived by "
        f"`tools/counts.py`, not hand-edited); {o} carry a DuckDB", s)
    open("SURVEY.md", "w").write(s)
    print(f"SURVEY.md: stamped round {rnd} "
          f"(heading x{n1}, count sentence x{n2})")

    r = open("README.md").read()
    r, n3 = re.subn(
        r"the judged surface: \d+ queries \(count derived\n"
        r" *by tools/counts\.py\), \d+ DuckDB-oracle-checked",
        f"the judged surface: {q} queries (count derived\n"
        f"                        by tools/counts.py), {o} DuckDB-oracle-checked",
        r)
    open("README.md", "w").write(r)
    print(f"README.md: stamped counts x{n3}")
    sys.exit(0)

if len(sys.argv) > 1 and sys.argv[1] != "--stamp":
    oracle = json.load(open(f"{sys.argv[1]}/oracle_sql.json"))
    missing = sorted(set(names) - set(oracle))
    print(f"with DuckDB oracle (manifest): {len(oracle)}")
    print(f"manifest rows-only: {missing if missing else 'none'}")
