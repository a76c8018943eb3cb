#!/usr/bin/env python3
"""Generate the count-bearing numbers in README.md and COVERAGE.md from
measured sources, so hand-sync drift (584-vs-586 in round 9, 591-vs-593 in
round 10) is structurally impossible.

Sources of truth:
  - test count: sum of tests= attributes over target/test-reports/TEST-*.xml
    (written by the most recent full `sbt test`)
  - query / oracle / rows-only counts: target/graft-counts.json, written by
    `sbt "runMain graft.Counts"` from the live registry

Usage (the close ritual):
    sbt test; sbt "runMain graft.Counts" && python3 tools/gen_counts.py

The BENCH.md sweep headline and the counts are separate steps: the
headline is rewritten even when the suite XMLs record a failure.
"""
import json
import re
import statistics
import sys
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_count():
    xmls = glob.glob(os.path.join(ROOT, "target/test-reports/TEST-*.xml"))
    if not xmls:
        sys.exit("no suite XMLs under target/test-reports — run `sbt test` first")
    total = fails = 0
    counted = 0
    for p in xmls:
        # ignore stale XMLs from deleted suites (e.g. one-off debug specs):
        # only suites whose source still exists count. The suite class may
        # live in a nested package, so search by class-name glob across all
        # of src/test/scala/** (a flat-path check undercounted those).
        cls = os.path.basename(p)[len("TEST-"):-len(".xml")]
        simple = cls.rsplit(".", 1)[-1]
        hits = glob.glob(os.path.join(ROOT, "src/test/scala/**",
                                      f"{simple}.scala"), recursive=True)
        if not hits:
            print(f"ignoring stale XML for deleted suite {cls}")
            continue
        head = open(p).read(2000)
        m = re.search(r'tests="(\d+)"', head)
        f = re.search(r'failures="(\d+)"', head)
        e = re.search(r'errors="(\d+)"', head)
        total += int(m.group(1))
        fails += int(f.group(1)) + int(e.group(1))
        counted += 1
    if fails:
        sys.exit(f"suite XMLs record {fails} failures/errors — fix before syncing counts")
    return total, counted


def registry_counts():
    p = os.path.join(ROOT, "target/graft-counts.json")
    if not os.path.exists(p):
        sys.exit('no target/graft-counts.json — run `sbt "runMain graft.Counts"` first')
    return json.load(open(p))


def bench_headline():
    """Rewrite the generated sweep-headline block in BENCH.md from the
    committed BENCH_FULL.json (round-11 verdict #2 — the same generated-
    numbers discipline as the test counts; CountsSpec pins agreement)."""
    p = os.path.join(ROOT, "BENCH_FULL.json")
    if not os.path.exists(p):
        print("no BENCH_FULL.json — skipping sweep headline")
        return
    d = json.load(open(p))
    q = d["queries"]
    v = sorted(q.values())
    n = len(v)
    import math
    p90 = v[min(n - 1, math.ceil(0.9 * n) - 1)]
    slow = max(q, key=q.get)
    block = ("<!-- gen:sweep-headline (tools/gen_counts.py rewrites this "
             "block from BENCH_FULL.json — do not hand-edit) -->\n"
             f"**Latest committed full sweep (`BENCH_FULL.json`): {n} "
             f"queries, measured\nsum {sum(v):.1f} s, median "
             f"{statistics.median(v):.2f} s, p90 {p90:.2f} s, slowest "
             f"{max(v):.2f} s\n(`{slow}`), {len(d.get('errors', {}))} "
             "errors.**\n<!-- /gen:sweep-headline -->")
    path = os.path.join(ROOT, "BENCH.md")
    s = open(path).read()
    s2, cnt = re.subn(
        r"<!-- gen:sweep-headline.*?/gen:sweep-headline -->", block,
        s, flags=re.S)
    if cnt != 1:
        sys.exit("BENCH.md: gen:sweep-headline block not found")
    open(path, "w").write(s2)
    print(f"sweep headline: {n} queries, {sum(v):.1f} s, median "
          f"{statistics.median(v):.2f}, p90 {p90:.2f}, max {max(v):.2f} "
          f"({slow})")


def rewrite(path, subs):
    p = os.path.join(ROOT, path)
    s = open(p).read()
    changed = []
    for pat, repl in subs:
        s2, n = re.subn(pat, repl, s)
        if n == 0:
            sys.exit(f"{path}: pattern not found: {pat}")
        if s2 != s:
            changed.append(pat)
        s = s2
    open(p, "w").write(s)
    return changed


def sync_counts():
    tests, suites = test_count()
    rc = registry_counts()
    q, rows_only = rc["queries"], len(rc["rows_only"])
    exact = q - rows_only
    print(f"measured: {tests} tests across {suites} suites; "
          f"{q} queries, {exact} oracle-exact, {rows_only} rows-only "
          f"({', '.join(rc['rows_only'])})")
    ch = rewrite("README.md", [
        (r"\d+ ScalaTest cases", f"{tests} ScalaTest cases"),
        (r"# \d+ tests", f"# {tests} tests"),
        (r"# \d+ pass expected", f"# {q} pass expected"),
    ])
    ch += rewrite("COVERAGE.md", [
        (r"\d+ ScalaTest cases", f"{tests} ScalaTest cases"),
        (r"Totals: \d+ registered queries — \d+ DuckDB-oracle exact-match",
         f"Totals: {q} registered queries — {exact} DuckDB-oracle exact-match"),
        (r"\d+ rows-only by design", f"{rows_only} rows-only by design"),
    ])
    print("rewrote:" if ch else "already in sync:",
          len(ch), "patterns updated")


def main():
    # independent steps: the headline reads only committed files, so a red
    # suite (which stops the count sync) must not keep it stale
    failed = []
    for step in (bench_headline, sync_counts):
        try:
            step()
        except SystemExit as e:
            print(f"{step.__name__}: {e}", file=sys.stderr)
            failed.append(step.__name__)
    if failed:
        sys.exit(f"failed: {', '.join(failed)}")


if __name__ == "__main__":
    main()
