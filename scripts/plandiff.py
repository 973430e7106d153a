#!/usr/bin/env python3
"""Print the keys whose physical plans differ between two plan dumps.

Usage: python3 scripts/plandiff.py <dirA> <dirB>

Each directory holds `graft.Dev plan` output, one `<key>_<suffix>.txt`
file per key (the suffix, e.g. `before`/`after`, may differ between the
two directories). Both sides are normalized first, so that only plan
differences remain, not the run-specific text two runs of the same
commit already disagree on:

  - expression ids (`#123`, `#123L`) and `plan_id=123`;
  - RDD ids (`MapPartitionsRDD[42]`) and `at <file>.scala:<line>` call
    sites, whose line numbers move when code above them moves;
  - `local-<digits>` application ids and UUIDs (staged-table paths);
  - `@<hex>` object hash codes and the JVM's lambda class names
    (`$$Lambda$3722/0x00007fe010fc9c88`).

Prints one line per differing key (also a key present on one side only)
and exits 1 if there is any.
"""
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r" at [\w$]+\.scala:\d+"), ""),
    (re.compile(r"local-\d+"), "local-"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "<uuid>"),
    (re.compile(r"@[0-9a-f]+\b"), "@"),
    (re.compile(r"\$\$Lambda\$\d+/0x[0-9a-f]+"), "$$Lambda"),
]


def normalize(text):
    for pat, repl in RULES:
        text = pat.sub(repl, text)
    return text


def load(d):
    """{key: normalized plan} for every `<key>_<suffix>.txt` in `d`."""
    plans = {}
    for name in os.listdir(d):
        if name.endswith(".txt") and "_" in name:
            with open(os.path.join(d, name), encoding="utf-8") as f:
                plans[name[:-4].rsplit("_", 1)[0]] = normalize(f.read())
    return plans


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.split("\n\n")[1])
    a, b = load(sys.argv[1]), load(sys.argv[2])
    differ = sorted(k for k in a.keys() | b.keys() if a.get(k) != b.get(k))
    for k in differ:
        print(k)
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
