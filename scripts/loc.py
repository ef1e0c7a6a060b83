#!/usr/bin/env python3
"""Code lines per changed .scala file: <rev> versus the working tree.

A code line is a non-blank line with something left on it once `//`
line comments and `/* */` block comments are removed (string and char
literals are respected, so "s3://x" is code). Prints one row per .scala
file that differs between <rev> and the working tree (untracked files
included), then the totals and the net change.

Usage: scripts/loc.py <rev> [paths...]     e.g. scripts/loc.py HEAD~1 src/
"""
import os
import subprocess
import sys


def code_lines(text):
    """Number of non-blank lines outside comments in Scala source."""
    n = 0
    depth = 0          # /* */ nesting (Scala block comments nest)
    in_str = None      # None, '"' or '"""'
    for line in text.splitlines():
        code = False
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
                continue
            if in_str:
                code = True
                if in_str == '"' and line[i] == "\\":
                    i += 2
                elif line.startswith(in_str, i):
                    i += len(in_str)
                    in_str = None
                else:
                    i += 1
                continue
            c = line[i]
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth = 1
                i += 2
                continue
            if not c.isspace():
                code = True
            if line.startswith('"""', i):
                in_str = '"""'
                i += 3
            elif c == '"':
                in_str = '"'
                i += 1
            elif c == "'" and i + 2 < len(line) and line[i + 1] == "\\":
                end = line.find("'", i + 2)
                i = end + 1 if end > 0 else i + 1
            elif c == "'" and i + 2 < len(line) and line[i + 2] == "'":
                i += 3
            else:
                i += 1
        if in_str == '"':  # a single-quoted string never spans lines
            in_str = None
        n += code
    return n


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def main(argv):
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__.strip())
        return 2
    rev, paths = argv[0], [os.path.abspath(p) for p in argv[1:] or ["."]]
    os.chdir(git("rev-parse", "--show-toplevel").strip())
    changed = set(git("diff", "--name-only", rev, "--", *paths).split())
    changed |= set(git("ls-files", "--others", "--exclude-standard", "--", *paths).split())
    rows = []
    for f in sorted(p for p in changed if p.endswith(".scala")):
        try:
            old = code_lines(git("show", f"{rev}:{f}"))
        except subprocess.CalledProcessError:
            old = 0
        try:
            with open(f, encoding="utf-8") as fh:
                new = code_lines(fh.read())
        except FileNotFoundError:
            new = 0
        rows.append((f, old, new))
    width = max([len(f) for f, _, _ in rows] + [5])
    for f, old, new in rows:
        print(f"{f:<{width}}  {old:6d} -> {new:6d}  {new - old:+6d}")
    old_t = sum(r[1] for r in rows)
    new_t = sum(r[2] for r in rows)
    print(f"{'total':<{width}}  {old_t:6d} -> {new_t:6d}  {new_t - old_t:+6d}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
