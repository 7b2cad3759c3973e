#!/usr/bin/env python3
"""Plan-identity check between two `graft.Explain` plan directories.

Usage: python3 tools/plan_diff.py PARENT_DIR CHANGE_DIR

Explain already renumbers expression, plan, codegen-stage and query-stage
ids per plan, in order of first appearance. Two ids still churn between two
runs of the SAME commit, because AQE assigns them in stage-completion order:
the codegen-stage id (`[codegen id : N]`) and the query-stage id (the bare
`Arguments: N` line of a *QueryStage node). Both are masked; every other
byte of each `<query>.txt` must match. The PLANS.md index is not compared
(it embeds its own directory and the unmasked hashes).

Prints each plan file that differs or exists on one side only, then a
summary line; exits 1 on any difference, 0 when the plans are identical.
"""
import os
import re
import sys

MASKS = [
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"(?m)^Arguments: \d+$"), "Arguments: N"),
]


def masked(path):
    with open(path, encoding="utf-8") as f:
        txt = f.read()
    for rx, rep in MASKS:
        txt = rx.sub(rep, txt)
    return txt


def plans(d):
    return {f for f in os.listdir(d) if f.endswith(".txt")}


def diff(parent, change):
    """Sorted list of (file, reason) for every plan that is not identical."""
    a, b = plans(parent), plans(change)
    out = [(f, "only in " + parent) for f in a - b]
    out += [(f, "only in " + change) for f in b - a]
    out += [(f, "differs") for f in a & b
            if masked(os.path.join(parent, f)) != masked(os.path.join(change, f))]
    return sorted(out)


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    found = diff(argv[1], argv[2])
    for f, why in found:
        print(f"{f}: {why}")
    n = len(plans(argv[1]) | plans(argv[2]))
    print(f"== {n - len(found)} identical, {len(found)} different")
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
