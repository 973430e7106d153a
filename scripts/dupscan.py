#!/usr/bin/env python3
"""Report code lines that repeat verbatim elsewhere in the Scala sources.

Usage: python3 scripts/dupscan.py [root ...]      (default: src/main)

Each .scala file is reduced to its code lines: every line is stripped of
surrounding whitespace, and blank lines, comment lines (`//`, `/*`, `*`)
and oracle SQL lines (`|`-prefixed stripMargin text and lines opening
with three double quotes) are dropped. Every window of 8 consecutive code lines whose
text totals at least 200 characters is keyed by its exact text. For a
window whose text occurs more than once, in the same file or another,
every occurrence after the first (in path, then line order) marks its
lines as duplicate: a line counts once, however many windows cover it.
The report lists the duplicate-line count per file (largest first),
then the totals.
"""
import collections
import os
import sys

WINDOW = 8
MIN_CHARS = 200


def code_lines(path):
    out = []
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            s = raw.strip()
            if not s or s.startswith(("//", "/*", "*", "|", '"""')):
                continue
            out.append((no, s))
    return out


def scan(roots):
    files = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in sorted(names):
                if n.endswith(".scala"):
                    p = os.path.join(d, n)
                    files[p] = code_lines(p)
    windows = collections.defaultdict(list)
    for p, lines in files.items():
        for i in range(len(lines) - WINDOW + 1):
            text = [s for _, s in lines[i:i + WINDOW]]
            if sum(map(len, text)) >= MIN_CHARS:
                windows["\n".join(text)].append((p, i))
    dup = collections.defaultdict(set)
    for occ in windows.values():
        for p, i in sorted(occ)[1:]:
            dup[p].update(range(i, i + WINDOW))
    return files, dup


def main():
    roots = sys.argv[1:] or ["src/main"]
    files, dup = scan(roots)
    for p in sorted(dup, key=lambda p: (-len(dup[p]), p)):
        print(f"{len(dup[p]):6d}  {p}")
    total = sum(len(v) for v in files.values())
    print(f"duplicate code lines: {sum(len(v) for v in dup.values())}")
    print(f"code lines: {total} in {len(files)} files")


if __name__ == "__main__":
    main()
