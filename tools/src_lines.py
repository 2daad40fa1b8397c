#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of src/main/scala.

A line counts when any character of it lies outside a comment: `//`
line comments and (nested) `/* ... */` blocks, scaladoc included, do
not count; string literals are skipped so a `/*` inside one opens no
comment.

Usage:
  tools/src_lines.py            # the working tree
  tools/src_lines.py <git rev>  # the tree at a revision (git show)

Prints one `<lines> <path>` row per file, then `<lines> total`. The net
change of a commit is the difference of two runs.
"""
import os
import subprocess
import sys

SRC = "src/main/scala"


def code_lines(text):
    n = 0
    depth = 0         # nesting depth of /* */ blocks
    triple = False    # inside a """ string
    for line in text.splitlines():
        code = False
        i = 0
        string = False
        while i < len(line):
            c, two, three = line[i], line[i:i + 2], line[i:i + 3]
            if depth:
                if two == "/*":
                    depth += 1
                    i += 2
                elif two == "*/":
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif triple:
                code = True
                if three == '"""':
                    triple = False
                    i += 3
                else:
                    i += 1
            elif string:
                code = True
                if c == "\\":
                    i += 2
                else:
                    string = c != '"'
                    i += 1
            elif two == "//":
                break
            elif two == "/*":
                depth = 1
                i += 2
            elif three == '"""':
                code = triple = True
                i += 3
            elif c == '"':
                code = string = True
                i += 1
            elif c == "'" and line[i + 1:i + 2] == "\\":
                code = True
                i = line.find("'", i + 3) + 1 or len(line)
            elif c == "'" and line[i + 2:i + 3] == "'":
                code = True
                i += 3
            else:
                code = code or not c.isspace()
                i += 1
        n += code
    return n


def sources(rev):
    if rev is None:
        for d, _, files in os.walk(SRC):
            for f in files:
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    with open(p, encoding="utf-8") as fh:
                        yield p, fh.read()
        return
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, SRC],
        check=True, capture_output=True, text=True).stdout.split()
    for p in names:
        if p.endswith(".scala"):
            yield p, subprocess.run(
                ["git", "show", f"{rev}:{p}"], check=True,
                capture_output=True, text=True).stdout


def main(argv):
    if len(argv) > 2:
        sys.exit(__doc__)
    rev = argv[1] if len(argv) == 2 else None
    total = 0
    for path, text in sorted(sources(rev)):
        n = code_lines(text)
        total += n
        print(f"{n:7d} {path}")
    print(f"{total:7d} total")


if __name__ == "__main__":
    main(sys.argv)
