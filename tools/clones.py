#!/usr/bin/env python3
"""Report verbatim 6-line clones in the engine's Scala sources.

Usage: python3 tools/clones.py [--window N] [--list] [root]

Scans every .scala file under `root` (default src/main/scala) in sorted
path order. Blank lines, comments, imports, the text inside multi-line
string literals (the SQL bodies) and every `*Sql` definition are left
out; each remaining line is compared with its surrounding whitespace
stripped. A line counts as cloned when it belongs to a window of N
consecutive kept lines (default 6) whose text already appeared as an
earlier window in the scan.

Prints the total of cloned lines and the count per file. With --list it
also prints each repeated window: its file, first line and enclosing
`def`, and where the earlier copy starts.

A report, not a gate: it exits 0 whatever it finds.
"""
import argparse
import os
import re
import sys
from collections import Counter

SQL_DEF = re.compile(r"^\s*(?:private\S*\s+)?(?:lazy\s+)?(?:val|def)\s+\w+Sql\b")
DEF = re.compile(r"\bdef\s+(\w+)")


def kept_lines(path):
    """(line number, stripped text, outermost enclosing def) for each compared line."""
    out = []
    in_block_comment = False
    in_string = False
    skip_indent = None  # inside a *Sql definition opened at this indent
    defs = []  # (indent, name) of the open defs, outermost first
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            line = raw.rstrip("\n")
            text = line.strip()
            indent = len(line) - len(line.lstrip())
            if in_string:
                if line.count('"""') % 2 == 1:
                    in_string = False
                continue
            if in_block_comment:
                if "*/" in text:
                    in_block_comment = False
                continue
            if not text:
                continue
            if skip_indent is not None:
                if indent > skip_indent or text in ("}", ")"):
                    if text.count('"""') % 2 == 1:
                        in_string = True
                    continue
                skip_indent = None
            if text.startswith("/*"):
                in_block_comment = "*/" not in text
                continue
            if text.startswith("//") or text.startswith("import "):
                continue
            if SQL_DEF.match(line):
                skip_indent = indent
                if text.count('"""') % 2 == 1:
                    in_string = True
                continue
            while defs and defs[-1][0] >= indent:
                defs.pop()
            m = DEF.search(text)
            if m:
                defs.append((indent, m.group(1)))
            if text.count('"""') % 2 == 1:
                in_string = True
            out.append((no, text, defs[0][1] if defs else None))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", nargs="?", default="src/main/scala")
    ap.add_argument("--window", type=int, default=6)
    ap.add_argument("--list", action="store_true")
    args = ap.parse_args()

    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(args.root)
                   for f in fs if f.endswith(".scala"))
    first_seen = {}
    per_file = Counter()
    for path in files:
        rows = kept_lines(path)
        cloned = set()
        rel = os.path.relpath(path, args.root)
        for i in range(len(rows) - args.window + 1):
            win = rows[i:i + args.window]
            key = "\n".join(t for _, t, _ in win)
            if key in first_seen:
                cloned.update(no for no, _, _ in win)
                if args.list:
                    where = first_seen[key]
                    print(f"{rel}:{win[0][0]} ({win[0][2]}) repeats "
                          f"{where[0]}:{where[1]} ({where[2]})")
            else:
                first_seen[key] = (rel, win[0][0], win[0][2])
        if cloned:
            per_file[rel] = len(cloned)
    print(f"total {sum(per_file.values())} cloned lines "
          f"({args.window}-line windows)")
    for rel, n in per_file.most_common():
        print(f"{n:6d} {rel}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
