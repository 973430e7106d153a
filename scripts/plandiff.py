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
    (`$$Lambda$3722/0x00007fe010fc9c88`);
  - in a plan with an `Expand` node (a distinct-aggregate or
    grouping-set rewrite), the order of its attribute lists and the
    numbering of its `gid` groups. Spark orders the distinct groups by
    the hash of their expression ids, so the same key planned after
    different keys permutes its `Input`/`Output`/`Keys`/`Results`/
    `Functions`/`Aggregate Attributes` lists, its `hashpartitioning`
    columns and its Expand projections, and swaps the `gid` values.
    Those lists are compared as sorted sets, and `gid` values are masked.

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


EXPAND = re.compile(r"^\(\d+\) Expand", re.M)
ATTR_LIST_LINE = re.compile(
    r"^(Input|Output|Keys|Results|Functions|Aggregate Attributes) \[\d+\]: |^Arguments: \[\[")
HASH_COLS = re.compile(r"hashpartitioning\(([^()]*)\)")
GID = re.compile(r"gid# = \d+")
EXPAND_GID = re.compile(r"(?<=[\[ ])\d+(?=[,\]])")


def sorted_lists(line):
    """`line` with the top-level elements of every `[...]` list sorted,
    innermost lists first; commas inside nested `(...)`/`[...]` do not
    split an element."""
    def parse(i, close):
        parts, cur = [], []
        while i < len(line):
            c = line[i]
            if c in "[(":
                inner, i = parse(i + 1, "]" if c == "[" else ")")
                cur.append(c + inner)
            elif c == close:
                parts.append("".join(cur))
                if close == "]":
                    parts = sorted(p.strip() for p in parts)
                return ", ".join(parts) + close if close == "]" \
                    else ",".join(parts) + close, i + 1
            elif c == "," and close:
                parts.append("".join(cur))
                cur = []
                i += 1
            else:
                cur.append(c)
                i += 1
        return ",".join(parts + ["".join(cur)]), i  # unclosed: as it was
    return parse(0, None)[0]


def unorder_expand(text):
    """Compare an Expand-rewritten plan's attribute lists as sets."""
    out = []
    for line in text.split("\n"):
        line = GID.sub("gid# = ?", line)
        if line.startswith("Arguments: [["):
            line = EXPAND_GID.sub("?", line)
        if ATTR_LIST_LINE.match(line):
            line = sorted_lists(line)
        line = HASH_COLS.sub(lambda m: "hashpartitioning(%s)" % ", ".join(
            sorted(c.strip() for c in m.group(1).split(","))), line)
        out.append(line)
    return "\n".join(out)


def normalize(text):
    for pat, repl in RULES:
        text = pat.sub(repl, text)
    return unorder_expand(text) if EXPAND.search(text) else text


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
