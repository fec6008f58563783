#!/usr/bin/env python3
"""Diff two `graft.Explain` plan dumps, ignoring run-to-run noise.

Usage: python3 tools/plandiff.py <dirA> <dirB>

Each dir holds one `<query>.txt` formatted plan per query (as written by
`sbt "runMain graft.Explain <sfDir> <outDir>"`). Before comparing, what
differs between any two runs of the same code is normalized:

- expression ids (`#123`) and exchange `plan_id=` values;
- the random suffixes of temp-directory names (`/tmp/graft_ivf_idx8812...`)
  and of the bucketed catalog tables named after them (`graft_bkt_orders_1f3a...`);
- JVM lambda identities (`Foo$$$Lambda$6298/0x...@7afe09fb`) and the
  source lines of RDD call sites (`createDataFrame at Foo.scala:830`),
  which move whenever code above them does;
- RDD ids (`MapPartitionsRDD[2919]`): a session-wide counter, so they
  shift whenever code run earlier in the session creates more or fewer
  RDDs;
- the order of Spark's distinct-aggregate rewrite groups (`gid`): it
  follows expression hash codes, so lines mentioning `gid#` compare as a
  multiset of tokens, group numbers ignored.

Prints a unified diff for every query whose plan still differs (or that
exists on one side only), then a summary line; exits 1 if any query changed.
"""
import difflib
import pathlib
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # Files.createTempDirectory(prefix) appends a random number to prefix
    (re.compile(r"(/tmp/[^/\s\],]*?)-?\d{6,}"), r"\1N"),
    (re.compile(r"(graft_bkt_[A-Za-z0-9]+)_[0-9a-f]+\b"), r"\1_H"),
    (re.compile(r"\$\$Lambda[$\w/@]*"), "$$Lambda"),
    (re.compile(r"(\.scala):\d+"), r"\1:L"),
    (re.compile(r"(RDD)\[\d+\]"), r"\1[N]"),
]
GID_TOKENS = re.compile(r"[^\s,\[\]()]+")


def normalized(path):
    text = path.read_text()
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    return [" ".join(sorted("D" if t.isdigit() else t for t in GID_TOKENS.findall(line))) + "\n"
            if "gid#" in line else line
            for line in text.splitlines(keepends=True)]


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = pathlib.Path(argv[1]), pathlib.Path(argv[2])
    names = sorted({p.name for p in a.glob("*.txt")} | {p.name for p in b.glob("*.txt")})
    if not names:
        sys.exit(f"no *.txt plans under {a} or {b}")
    changed = 0
    for name in names:
        pa, pb = a / name, b / name
        la = normalized(pa) if pa.exists() else []
        lb = normalized(pb) if pb.exists() else []
        if la != lb:
            changed += 1
            sys.stdout.writelines(difflib.unified_diff(la, lb, str(pa), str(pb), n=1))
    print(f"plandiff: {changed} of {len(names)} queries changed")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
