#!/usr/bin/env python3
"""Count lines of the source at a git revision.

A code line is a non-blank line whose first non-space characters are not
`//`, `/*` or `*` — blank lines and comment lines are left out, so a
line-count claim measures code, not prose. Files are read from the git
object store, so the working tree does not matter.

With no paths, prints the code lines of src/main and of src/test. Given
paths (files or directories from the repo root; a bare file name such
as `Dedup.scala` matches that file anywhere in the tree), prints one line
per path with its physical and code lines, then their sum.

Usage: python3 tools/loc.py <rev> [path ...]
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


def counts(rev, path):
    """(physical, code) lines over the files under `path` at `rev`."""
    path = path.rstrip("/")
    files = [f for f in git("ls-tree", "-r", "--name-only", rev).split()
             if f == path or f.startswith(path + "/")
             or ("/" not in path and f.rsplit("/", 1)[-1] == path)]
    if not files:
        sys.exit(f"no file matches {path} at {rev}")
    texts = [git("show", f"{rev}:{f}") for f in files]
    return (sum(len(t.splitlines()) for t in texts),
            sum(code_lines(t) for t in texts))


def main(rev, paths):
    if not paths:
        for tree in TREES:
            print(f"{tree} {counts(rev, tree)[1]}")
        return
    total = [0, 0]
    for p in paths:
        phys, code = counts(rev, p)
        total[0] += phys
        total[1] += code
        print(f"{p} physical={phys} code={code}")
    print(f"total physical={total[0]} code={total[1]}")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2:])
