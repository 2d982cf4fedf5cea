#!/usr/bin/env python3
"""Code lines per package of the Scala sources: the lines that are not
blank once comments are removed (string literals are kept, so a `//`
inside a string is code).

    python3 tools/loc_census.py          # working tree
    python3 tools/loc_census.py <rev>    # <rev> and working tree, with the delta

One line per package (directory) of `src/main/scala` and `src/test/scala`,
then a total per tree. Given a git rev, each line shows the rev's count, the
working tree's and their difference, followed by every file whose count
differs. Comments are found with `param_census.py`'s lexer.
"""
import collections
import os
import re
import subprocess
import sys

from param_census import LEXEMES, ROOT

TREES = ["src/main/scala", "src/test/scala"]


def code_lines(src):
    """Lines of `src` left non-blank after comments are blanked out."""
    def drop_comment(m):
        text = m.group(0)
        return re.sub(r"[^\n]", " ", text) if text.startswith("/") else text
    return sum(1 for line in LEXEMES.sub(drop_comment, src).splitlines() if line.strip())


def working_tree():
    counts = {}
    for tree in TREES:
        for dirpath, _, names in os.walk(os.path.join(ROOT, tree)):
            for name in names:
                if name.endswith(".scala"):
                    path = os.path.join(dirpath, name)
                    with open(path, encoding="utf-8") as f:
                        counts[os.path.relpath(path, ROOT)] = code_lines(f.read())
    return counts


def at_rev(rev):
    def git(*args):
        return subprocess.run(["git", "-C", ROOT] + list(args), check=True,
                              capture_output=True).stdout.decode("utf-8")
    paths = git("ls-tree", "-r", "--name-only", rev, "--", *TREES).split()
    return {p: code_lines(git("show", f"{rev}:{p}")) for p in paths if p.endswith(".scala")}


def by_package(counts):
    out = collections.Counter()
    for path, n in counts.items():
        out[os.path.dirname(path)] += n
    for tree in TREES:
        out[f"{tree} (total)"] = sum(n for p, n in counts.items() if p.startswith(tree + "/"))
    return out


def main(argv):
    now = working_tree()
    if not argv:
        for pkg, n in sorted(by_package(now).items()):
            print(f"{n:7d}  {pkg}")
        return
    rev = argv[0]
    then = at_rev(rev)
    pkg_now, pkg_then = by_package(now), by_package(then)
    print(f"{rev[:10]:>7}  {'now':>7}  {'delta':>6}  package")
    for pkg in sorted(set(pkg_now) | set(pkg_then)):
        a, b = pkg_then.get(pkg, 0), pkg_now.get(pkg, 0)
        print(f"{a:7d}  {b:7d}  {b - a:+6d}  {pkg}")
    changed = [p for p in sorted(set(now) | set(then)) if now.get(p, 0) != then.get(p, 0)]
    if changed:
        print("\nchanged files:")
        for p in changed:
            a, b = then.get(p, 0), now.get(p, 0)
            print(f"{a:7d}  {b:7d}  {b - a:+6d}  {p}")


if __name__ == "__main__":
    main(sys.argv[1:])
