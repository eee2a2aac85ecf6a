#!/usr/bin/env python3
"""Raw Scala line totals of src/main and src/test at a git ref and in the
working tree, and the net change between them.

    python3 tools/loc.py [REF]      # REF defaults to HEAD

Every line of every *.scala file counts, blank and comment lines included,
so reports stay comparable whatever the code style. The ref's files are
read through git; the working tree's from disk (untracked files count,
ignored ones do not). Standard library only.
"""
import os
import subprocess
import sys

TREES = ("src/main", "src/test")


def git(*args, stdin=None):
    return subprocess.run(("git",) + args, input=stdin, check=True,
                          capture_output=True).stdout


def lines(data):
    return len(data.splitlines())


def at_ref(ref, tree):
    paths = [p for p in git("ls-tree", "-r", "--name-only", ref, "--", tree)
             .decode().splitlines() if p.endswith(".scala")]
    if not paths:
        return 0
    out = git("cat-file", "--batch",
              stdin="".join(f"{ref}:{p}\n" for p in paths).encode())
    total, pos = 0, 0
    for _ in paths:  # each object: "<sha> blob <size>\n<data>\n"
        header_end = out.index(b"\n", pos)
        size = int(out[pos:header_end].split()[2])
        total += lines(out[header_end + 1:header_end + 1 + size])
        pos = header_end + 1 + size + 1
    return total


def in_worktree(tree):
    total = 0
    for p in git("ls-files", "--cached", "--others", "--exclude-standard",
                 "--", tree).decode().splitlines():
        if p.endswith(".scala"):
            try:
                with open(p, "rb") as f:
                    total += lines(f.read())
            except FileNotFoundError:  # deleted, not yet staged
                pass
    return total


def main():
    ref = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    os.chdir(git("rev-parse", "--show-toplevel").decode().strip())
    w = max(12, len(ref) + 2)
    print(f"{'':10}{ref:>{w}}{'worktree':>12}{'net':>8}")
    for tree in TREES:
        a, b = at_ref(ref, tree), in_worktree(tree)
        print(f"{tree:10}{a:>{w}}{b:>12}{b - a:>+8}")


if __name__ == "__main__":
    main()
