#!/usr/bin/env python3
"""Plan-identity check between two `graft.Explain` plan directories.

Usage: python3 tools/plan_diff.py PARENT_DIR CHANGE_DIR

Explain already renumbers every session counter per plan, in order of
first appearance: expression ids (a backquoted alias's `` `count(1)`#N ``
too), plan, codegen-stage, query-stage and RDD ids. Two ids still churn
between two runs of the SAME commit, because AQE assigns them in
stage-completion order: the codegen-stage id (`[codegen id : N]`) and the
query-stage id (the bare `Arguments: N` line of a *QueryStage node). Both
are masked. A read of a ManifestCommit snapshot (s17)
hands Spark an explicit file list, so its `Location: InMemoryFileIndex
[...]` line names the staging directory's per-attempt nonce
(`snap_<id>_<8 hex>`) and the part file's UUID, which are new on every
run; on those lines only, those two are masked too. Every other byte of
each `<query>.txt` must match. The PLANS.md index is not compared (it
embeds its own directory and the unmasked hashes).

A query on which AQE picks between final plans from run to run keeps its
other shapes next to its plan as `<query>.alt<N>.txt` in PARENT_DIR (the
committed `plans/` holds `d2_jaccard_prefix.alt1.txt`). A change plan
passes when it matches the parent's plan or one of those shapes; the
alternates are not plans of their own, so they are never reported as
missing from CHANGE_DIR.

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
LOCATION = re.compile(r"(?m)^Location: InMemoryFileIndex \[.*$")
LOCATION_MASKS = [
    (re.compile(r"\b(snap_\d+)_[0-9a-f]{8}\b"), r"\1_NONCE"),
    (re.compile(r"\b(part-\d+)-[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}\b"),
     r"\1-UUID"),
]
ALT = re.compile(r"\.alt\d+\.txt$")


def masked(path):
    with open(path, encoding="utf-8") as f:
        txt = f.read()
    for rx, rep in MASKS:
        txt = rx.sub(rep, txt)

    def location(m):
        line = m.group(0)
        for rx, rep in LOCATION_MASKS:
            line = rx.sub(rep, line)
        return line
    return LOCATION.sub(location, txt)


def plans(d):
    return {f for f in os.listdir(d) if f.endswith(".txt") and not ALT.search(f)}


def shapes(d, plan):
    """Masked texts of a plan file and of its `.alt<N>.txt` alternates."""
    stem = plan[:-len(".txt")]
    alts = [f for f in os.listdir(d)
            if ALT.search(f) and ALT.sub("", f) == stem]
    return {masked(os.path.join(d, f)) for f in [plan] + alts}


def diff(parent, change):
    """Sorted list of (file, reason) for every plan that is not identical."""
    a, b = plans(parent), plans(change)
    out = [(f, "only in " + parent) for f in a - b]
    out += [(f, "only in " + change) for f in b - a]
    out += [(f, "differs") for f in a & b
            if masked(os.path.join(change, f)) not in shapes(parent, f)]
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
