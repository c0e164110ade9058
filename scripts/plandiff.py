#!/usr/bin/env python3
"""Compare two directories of query-plan dumps.

Usage: python3 scripts/plandiff.py <dirA> <dirB>

Each directory holds `<name>_<tag>.txt` files as written by
`GRAFT_PLAN_DIR=<dir> sbt "runMain graft.Probe explain <names> <sfDir> 1"`
(the tag is GRAFT_PLAN_TAG, default `before`). Files are paired by query
name, ignoring the tag. Before comparing, the run-specific parts of a
plan are masked: expression ids (`#123`), `plan_id=123`, RDD ids
(`MapPartitionsRDD[123]`: a session counter, which differed by one
between two runs of the same commit), and artifact staging suffixes
(`.build-1a2b3c4d`). Prints a unified diff per query that differs and a
one-line summary; exits 1 on any difference or on a query present in
one directory only, else 0.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.build-[0-9a-f]{8}"), ".build-X"),
]


def plans(d):
    """Map query name -> file path for the `<name>_<tag>.txt` files in d."""
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt") and "_" in f:
            out[f[:-4].rsplit("_", 1)[0]] = os.path.join(d, f)
    return out


def masked(path):
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text.splitlines(keepends=True)


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    bad = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            print(f"MISSING {name}: only in {argv[1] if name in a else argv[2]}")
            bad += 1
            continue
        diff = list(difflib.unified_diff(masked(a[name]), masked(b[name]),
                                         fromfile=a[name], tofile=b[name]))
        if diff:
            sys.stdout.writelines(diff)
            print(f"DIFF {name}")
            bad += 1
    print(f"{len(a.keys() | b.keys())} queries, {bad} differ or missing")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
