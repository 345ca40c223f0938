#!/usr/bin/env python3
"""Diff two directories of `BenchExtra explain` plan dumps.

    python3 tools/plan_diff.py BEFORE_DIR AFTER_DIR [NAME ...]

Each directory holds `<query>.txt` files written by

    sbt "runMain graft.BenchExtra explain <dir> <query>..."

Plan text carries identifiers that change from run to run without the plan
changing: expression ids (`name#123`), plan and exchange ids, RDD ids,
object hashes, lambda class names, source lines and temp-dir names. This
tool rewrites each of them to a placeholder, then reports per query:

  * the operator counts of the physical plan tree (joins with their type and
    build side, exchanges, aggregates, ...) that differ between the two
    sides, and
  * a unified diff of the normalized text (omitted with --summary).

Queries present on one side only are listed. The exit code is 0 when every
compared query normalizes to identical text, 1 otherwise.
"""
import argparse
import collections
import difflib
import os
import re
import sys

# (pattern, replacement), applied in order
RULES = [
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"(/tmp|/var/folders)/[^\s,\]\)]*"), r"\1/<tmp>"),
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\b(plan_id|id|stage_id|exchange_id)=#?\d+"), r"\1=N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\brdd_\d+(_\d+)?"), "rdd_N"),
    (re.compile(r"\$+Lambda[\w$/.]*"), "$Lambda"),
    (re.compile(r"\$anonfun\$[\w$]*"), "$anonfun"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@<hash>"),
    (re.compile(r"\.(scala|java):\d+"), r".\1:N"),
    (re.compile(r"\bcodegen_stage_id=\d+"), "codegen_stage_id=N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
]

# one node line of the formatted plan tree: "<indent/branches>Name args (N)"
NODE = re.compile(r"^[\s:|+\-]*([A-Z][A-Za-z]*(?: [A-Za-z]+)*?)(?: \[[^\]]*\])? \((\d+)\)$")


def normalize(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text


def operators(text):
    """Counts of the operator names in the plan tree section."""
    counts = collections.Counter()
    for line in text.splitlines():
        if line.startswith("(") and ")" in line:  # details section begins
            break
        m = NODE.match(line)
        if m:
            counts[m.group(1)] += 1
    return counts


def read(path):
    with open(path, encoding="utf-8") as fh:
        return normalize(fh.read())


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("before")
    p.add_argument("after")
    p.add_argument("names", nargs="*", help="queries to compare (default: all)")
    p.add_argument("--summary", action="store_true",
                   help="print operator-count differences only")
    args = p.parse_args()

    def queries(d):
        return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}

    b, a = queries(args.before), queries(args.after)
    names = args.names or sorted(a | b)
    changed = False
    for n in names:
        if n not in b or n not in a:
            print(f"== {n}: only in {'after' if n in a else 'before'}")
            changed = True
            continue
        tb = read(os.path.join(args.before, n + ".txt"))
        ta = read(os.path.join(args.after, n + ".txt"))
        if tb == ta:
            print(f"== {n}: identical after normalization")
            continue
        changed = True
        ob, oa = operators(tb), operators(ta)
        delta = {k: (ob[k], oa[k]) for k in sorted(ob.keys() | oa.keys()) if ob[k] != oa[k]}
        print(f"== {n}: differs; operator counts "
              + ("unchanged" if not delta else "before -> after:"))
        for k, (x, y) in delta.items():
            print(f"   {k}: {x} -> {y}")
        if not args.summary:
            sys.stdout.writelines(difflib.unified_diff(
                tb.splitlines(True), ta.splitlines(True),
                f"before/{n}.txt", f"after/{n}.txt"))
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main())
