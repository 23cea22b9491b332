#!/usr/bin/env python3
"""Scala code lines per file and per directory.

    python3 dev/loc.py [path ...]

Each path (default: src/main/scala under the repo root) is a .scala file
or a directory searched recursively. A line counts as code when, after
its leading whitespace, it is non-empty and does not start with `//`,
`/*` or `*`. Prints one line per file, then one per directory (the sum
of the files below it), then the total over all paths.
"""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def code_lines(text):
    """Number of code lines in Scala source `text`."""
    n = 0
    for line in text.splitlines():
        s = line.lstrip()
        if s and not s.startswith(("//", "/*", "*")):
            n += 1
    return n


def scala_files(path):
    """The .scala files at `path`, sorted."""
    if os.path.isfile(path):
        return [path]
    found = []
    for d, _, names in os.walk(path):
        found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def count(paths):
    """({file: code lines}, {directory: code lines below it}) over `paths`.
    Every directory from each path down to a file's parent is counted."""
    files, dirs = {}, {}
    for path in paths:
        top = path if os.path.isdir(path) else os.path.dirname(path)
        for f in scala_files(path):
            with open(f, encoding="utf-8") as fh:
                files[f] = code_lines(fh.read())
            d = os.path.dirname(f)
            while True:
                dirs[d] = dirs.get(d, 0) + files[f]
                if d == top or not d.startswith(top):
                    break
                d = os.path.dirname(d)
    return files, dirs


def main(argv):
    paths = argv[1:] or [os.path.join(ROOT, "src", "main", "scala")]
    files, dirs = count(paths)
    for f in sorted(files):
        print(f"{files[f]:7d}  {os.path.relpath(f)}")
    for d in sorted(dirs):
        print(f"{dirs[d]:7d}  {os.path.relpath(d)}/")
    print(f"{sum(files.values()):7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
