#!/usr/bin/env python3
"""Manifest-publish call sites in a Scala file, each with its enclosing def.

    python3 dev/commit_sites.py FILE [NAME ...]

Prints one line per call of `commitDelta(`, `commitFullList(`,
`commitManifest(` and `casCreate(` (or of the given NAMEs instead):
the line number, the callee and the innermost `def` around the call.
A def encloses the lines below it that are indented deeper than the
def itself. Definitions (`def commitDelta(`) and comment lines are not
calls. The default callees count only as bare calls (`x.commitDelta(`
is another object's method); given NAMEs also count as method calls,
so `parquet` lists every `.parquet(` read and write. A last line
counts the calls per callee.
"""
import re
import sys

NAMES = ("commitDelta", "commitFullList", "commitManifest", "casCreate")
DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")


def sites(text, names=NAMES, methods=False):
    """[(line number, callee, enclosing def or None)] for every call;
    with `methods`, `x.name(` counts too."""
    call = re.compile(r"(?<!%s)(?<!def )(%s)\(" % (
        r"\w" if methods else r"[\w.]", "|".join(names)))
    out, stack = [], []  # stack of (indent, def name)
    for n, line in enumerate(text.splitlines(), 1):
        s = line.lstrip()
        if not s or s.startswith(("//", "/*", "*")):
            continue
        indent = len(line) - len(s)
        while stack and stack[-1][0] >= indent:
            stack.pop()
        for m in call.finditer(line):
            out.append((n, m.group(1), stack[-1][1] if stack else None))
        d = DEF.search(s)
        if d:
            stack.append((indent, d.group(1)))
    return out


def main(argv):
    if len(argv) < 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(argv[1], encoding="utf-8") as f:
        found = sites(f.read(), tuple(argv[2:]) or NAMES,
                      methods=len(argv) > 2)
    for n, callee, owner in found:
        print(f"{n:6d}  {callee:<15} in {owner or '-'}")
    totals = {}
    for _, callee, _ in found:
        totals[callee] = totals.get(callee, 0) + 1
    print("total: " + ", ".join(f"{c} {k}" for c, k in sorted(totals.items())))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
