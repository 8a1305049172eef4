#!/usr/bin/env python3
"""Report engine names that only the specs reach.

Usage: python3 tools/spec_only.py

Lists each non-private `def`/`val` member of an `object` under
src/main/scala whose name, as a whole word, appears in no other file
under src/main/scala, tools/ or perfbench/src. `private[pkg]` members
count as non-private (the compiler's unused check does not see them);
`override` members are left out (the framework calls them). For each
name it prints the defining file and line, whether the name is also
used in code elsewhere in its own file (then a graded caller may still
reach it from there), and the spec files under src/test/scala that
name it. The last line counts the names, those that nothing but specs
uses, not even their own file (the candidates for deletion), and those
that their own file uses and no spec names. A name of that last kind
could be `private`, where `-Wunused:privates` flags it once it goes
dead. Each one left is non-private for a reason: generated Java source
calls it by name (a Scala `private` member has no static forwarder), or
it is already `private[pkg]`, which the unused check does not see.

The list is a lower bound: a name is hidden whenever another file
contains the same word, be it an unrelated identifier, a comment or SQL
text. Check a candidate by hand before deleting it.

A report, not a gate: it exits 0 whatever it finds.
"""
import os
import re
import sys

MAIN = "src/main/scala"
TEST = "src/test/scala"
OTHER_ROOTS = [MAIN, "tools", "perfbench/src"]

OBJECT = re.compile(r"^(\s*)(?:(?:private|protected)(?:\[\w+\])?\s+)?(?:case\s+)?object\s+(\w+)")
MEMBER = re.compile(
    r"^(\s*)((?:(?:private|protected)(?:\[\w+\])?|final|implicit|lazy|override)\s+)*"
    r"(?:def|val|var)\s+([A-Za-z_]\w*)")
PLAIN_PRIVATE = re.compile(r"\b(?:private|protected)(?!\[)")


def sources(root, exts):
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(exts):
                yield os.path.join(d, f)


def code_lines(text):
    """The file's lines with block comments and triple-quoted strings
    blanked in place (columns kept) and line comments cut."""
    blank = lambda m: re.sub(r"[^\n]", " ", m.group(0))
    text = re.sub(r'/\*.*?\*/|""".*?"""', blank, text, flags=re.S)
    return [re.sub(r"//.*", "", line) for line in text.split("\n")]


def members(path):
    """(name, line number) of each non-private def/val of an object in `path`."""
    out = []
    objects = []  # indents of the open objects, outermost first
    for no, line in enumerate(code_lines(open(path, encoding="utf-8").read()), 1):
        if not line.strip():
            continue
        indent = len(line) - len(line.lstrip())
        while objects and objects[-1] >= indent:
            objects.pop()
        m = OBJECT.match(line)
        if m:
            objects.append(len(m.group(1)))
            continue
        m = MEMBER.match(line)
        if not m or not objects or len(m.group(1)) != objects[-1] + 2:
            continue
        mods = line[:m.start(3)]
        if "override" in mods or PLAIN_PRIVATE.search(mods):
            continue
        out.append((m.group(3), no))
    return out


def main():
    texts = {p: open(p, encoding="utf-8").read()
             for root in OTHER_ROOTS for p in sources(root, (".scala", ".py"))}
    specs = {p: open(p, encoding="utf-8").read() for p in sources(TEST, (".scala",))}

    rows = []
    for path in sorted(p for p in texts if p.startswith(MAIN + "/") and p.endswith(".scala")):
        own = code_lines(texts[path])
        for name, no in members(path):
            word = re.compile(r"\b%s\b" % re.escape(name))
            if any(word.search(t) for p, t in texts.items() if p != path):
                continue
            in_file = any(word.search(l) for i, l in enumerate(own, 1) if i != no)
            users = sorted(os.path.splitext(os.path.basename(p))[0]
                           for p, t in specs.items() if word.search(t))
            rows.append((os.path.relpath(path, MAIN), no, name, in_file, users))

    for rel, no, name, in_file, users in rows:
        note = " (also used in its own file)" if in_file else ""
        print(f"{rel}:{no} {name}{note}  specs: {', '.join(users) or '-'}")
    unused = [r for r in rows if not r[3]]
    own_only = [r for r in rows if r[3] and not r[4]]
    print(f"total {len(rows)} names no other file names; {len(unused)} of them "
          f"unused in their own file too ({sum(1 for r in unused if not r[4])} named by no spec); "
          f"{len(own_only)} used only in their own file and named by no spec")
    return 0


if __name__ == "__main__":
    sys.exit(main())
