#!/usr/bin/env python3
"""Fixture tests for plan_diff.py.

  1. same-commit churn (codegen-stage and query-stage ids) -> exit 0
  2. a changed operator                                      -> exit 1
  3. a plan present on one side only                         -> exit 1

Run: python3 tools/test_plan_diff.py   (also wired into round_gate.sh)
"""
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
CHECK = os.path.join(HERE, "plan_diff.py")

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- == Final Plan ==
   ResultQueryStage (5)
   +- * HashAggregate (4)
      +- ShuffleQueryStage (3), Statistics(sizeInBytes=1.0 KiB, rowCount=8)
         +- BroadcastHashJoin (2)

(2) BroadcastHashJoin [codegen id : {cg1}]
Left keys [1]: [doc_id#1L]

(3) ShuffleQueryStage
Output [1]: [doc_id#1L]
Arguments: {st}

(4) HashAggregate [codegen id : {cg2}]
Keys [1]: [doc_id#1L]
"""


def write(d, name, txt):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w", encoding="utf-8") as f:
        f.write(txt)


def run(a, b):
    p = subprocess.run([sys.executable, CHECK, a, b],
                       capture_output=True, text=True)
    return p.returncode, p.stdout


def main():
    tmp = tempfile.mkdtemp(prefix="graft_pdtest.")
    parent = os.path.join(tmp, "parent")
    write(parent, "q.txt", PLAN.format(cg1=1, cg2=2, st=1))
    write(parent, "PLANS.md", "index of " + parent)
    failures = []

    def expect(name, change, want_code, want_sub):
        code, out = run(parent, change)
        if code != want_code or want_sub not in out:
            failures.append(f"{name}: exit {code}, wanted {want_code} "
                            f"with {want_sub!r}\n{out}")

    churn = os.path.join(tmp, "churn")
    write(churn, "q.txt", PLAN.format(cg1=3, cg2=1, st=4))
    write(churn, "PLANS.md", "index of " + churn)
    expect("same-commit churn", churn, 0, "1 identical, 0 different")

    changed = os.path.join(tmp, "changed")
    write(changed, "q.txt", PLAN.format(cg1=1, cg2=2, st=1)
          .replace("BroadcastHashJoin", "SortMergeJoin"))
    expect("changed operator", changed, 1, "q.txt: differs")

    extra = os.path.join(tmp, "extra")
    write(extra, "q.txt", PLAN.format(cg1=1, cg2=2, st=1))
    write(extra, "r.txt", PLAN.format(cg1=1, cg2=2, st=1))
    expect("plan on one side only", extra, 1, "r.txt: only in " + extra)

    for f in failures:
        print("FAIL", f)
    print(f"test_plan_diff: {3 - len(failures)}/3 ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
