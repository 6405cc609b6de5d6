#!/usr/bin/env python3
"""Count code lines of src/main and src/test at a git revision.

A code line is a non-blank line whose first non-space characters are not
`//`, `/*` or `*` — blank lines and comment lines are left out, so a
line-count claim measures code, not prose. Files are read from the git
object store, so the working tree does not matter.

Usage: python3 tools/loc.py <rev>
"""
import subprocess
import sys

TREES = ["src/main", "src/test"]


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def code_lines(text):
    return sum(1 for line in text.splitlines()
               if (s := line.strip())
               and not s.startswith(("//", "/*", "*")))


def main(rev):
    for tree in TREES:
        paths = git("ls-tree", "-r", "--name-only", rev, "--", tree).split()
        print(f"{tree} {sum(code_lines(git('show', f'{rev}:{p}')) for p in paths)}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
