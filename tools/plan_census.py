#!/usr/bin/env python3
"""Count join operators per query in two `graft.BenchExtra plan` dumps.

Usage: plan_census.py <ref_dir> <new_dir>

Each dir holds `<query><suffix>.txt` files written by
`runMain graft.BenchExtra plan <regex> <dir> <suffix>` (formatted explain
of the initial physical plan). Operators are counted from the numbered
detail lines, `(n) <Operator>`, so each plan node counts once. Prints one
line per query whose counts differ, the totals of both sides, and the
queries whose BroadcastHashJoin count fell.
"""
import os
import re
import sys

JOINS = ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "BroadcastHashJoin", "ShuffledHashJoin"]
NODE = re.compile(r"^\(\d+\) (\w+)", re.M)


def census(d):
    out = {}
    for f in sorted(os.listdir(d)):
        if not f.endswith(".txt"):
            continue
        q = re.sub(r"_[^_]*\.txt$", "", f)
        nodes = NODE.findall(open(os.path.join(d, f)).read())
        out[q] = [nodes.count(j) for j in JOINS]
    return out


def main():
    ref, new = census(sys.argv[1]), census(sys.argv[2])
    short = ["cart", "bnlj", "smj", "bhj", "shj"]
    print("query".ljust(34) + "  ".join(f"{s:>9}" for s in short) + "   (ref -> new)")
    for q in sorted(set(ref) | set(new)):
        a, b = ref.get(q), new.get(q)
        if a != b:
            cells = "  ".join(f"{x if a else '-':>3} -> {y if b else '-':<2}"
                              for x, y in zip(a or [0] * 5, b or [0] * 5))
            print(q.ljust(34) + cells)
    for name, c in (("ref", ref), ("new", new)):
        tot = [sum(v[i] for v in c.values()) for i in range(len(JOINS))]
        print(f"total {name} ({len(c)} plans): " +
              ", ".join(f"{j}={t}" for j, t in zip(JOINS, tot)))
    lost = [q for q in ref if q in new and new[q][3] < ref[q][3]]
    print("queries with fewer BroadcastHashJoins: " + (", ".join(lost) or "none"))


if __name__ == "__main__":
    main()
