#!/usr/bin/env python3
"""Count main-code and comment lines of the Scala sources.

Usage: python3 tools/loc.py [pathspec ...]   (run from the repo root)

Files are `git ls-files 'src/main/**/*.scala'` unless pathspecs are
given. Blank lines are skipped. A line is a comment line when its
trimmed text starts with `//` or `/*`, or when it lies inside a block
comment (up to and including the line that closes it); every other
non-blank line is a code line. Prints one line:
`code <n> comment <n> files <n>`.
"""
import subprocess
import sys


def count(lines):
    code = comment = 0
    in_block = False
    for raw in lines:
        t = raw.strip()
        if not t:
            continue
        if in_block:
            comment += 1
            if "*/" in t:
                in_block = False
        elif t.startswith("//"):
            comment += 1
        elif t.startswith("/*"):
            comment += 1
            in_block = "*/" not in t[2:]
        else:
            code += 1
    return code, comment


def main(argv):
    specs = argv or ["src/main/**/*.scala"]
    files = subprocess.run(["git", "ls-files", "--", *specs], check=True,
                           capture_output=True, text=True).stdout.split()
    code = comment = 0
    for f in files:
        with open(f, encoding="utf-8") as fh:
            c, m = count(fh)
        code += c
        comment += m
    print(f"code {code} comment {comment} files {len(files)}")


if __name__ == "__main__":
    main(sys.argv[1:])
