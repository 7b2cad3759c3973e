#!/usr/bin/env python3
"""Fixture tests for plan_diff.py.

  1. same-commit churn (codegen-stage and query-stage ids) -> exit 0
  2. a changed operator                                      -> exit 1
  3. a plan present on one side only                         -> exit 1
  4. a snapshot read whose staging nonce and part-file UUID
     differ (s17)                                            -> exit 0
  5. a snapshot read of another snapshot id                  -> exit 1
  6. a snapshot read from another directory                  -> exit 1
  7. a change plan that matches a committed alternate
     (`<query>.alt1.txt`, d2)                                -> exit 0
  8. a change plan that matches no committed shape of its
     query (only another query's alternate)                  -> exit 1

Session counters (RDD ids, backquoted-alias ids) are renumbered by
Explain.normalizeIds itself; ExplainSpec holds those fixtures.

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


SNAPSHOT = """== Physical Plan ==
* ColumnarToRow (2)
+- Scan parquet  (1)


(1) Scan parquet
Output [2]: [doc_id#1L, lang#2]
Batched: true
Location: InMemoryFileIndex [file:/tmp/graft_manifest_{tag}_pPID/snap_{snap}_{nonce}/part-00000-{uuid}-c000.snappy.parquet]
ReadSchema: struct<doc_id:bigint,lang:string>
"""


def snapshot(tag=1947788907, snap=1, nonce="0a65d80e",
             uuid="5b32cb17-3f0b-42ef-8be6-d17ff14da01c"):
    return SNAPSHOT.format(tag=tag, snap=snap, nonce=nonce, uuid=uuid)


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

    write(parent, "s.txt", snapshot())
    rerun = os.path.join(tmp, "rerun")
    write(rerun, "q.txt", PLAN.format(cg1=1, cg2=2, st=1))
    write(rerun, "s.txt", snapshot(nonce="9f31c2b7",
                                   uuid="e0c4a1d2-77b0-4a5e-9c1d-03f2ab45c6e8"))
    expect("snapshot nonce and part UUID", rerun, 0, "2 identical, 0 different")

    other_snap = os.path.join(tmp, "other_snap")
    write(other_snap, "q.txt", PLAN.format(cg1=1, cg2=2, st=1))
    write(other_snap, "s.txt", snapshot(snap=2, nonce="9f31c2b7"))
    expect("another snapshot id", other_snap, 1, "s.txt: differs")

    other_dir = os.path.join(tmp, "other_dir")
    write(other_dir, "q.txt", PLAN.format(cg1=1, cg2=2, st=1))
    write(other_dir, "s.txt", snapshot(tag=1947788908))
    expect("another snapshot directory", other_dir, 1, "s.txt: differs")

    # d2: the parent's committed alternate is the shape the change ran
    alt = PLAN.replace("BroadcastHashJoin", "SortMergeJoin")
    write(parent, "q.alt1.txt", alt.format(cg1=1, cg2=2, st=1))
    second = os.path.join(tmp, "second")
    write(second, "q.txt", alt.format(cg1=2, cg2=1, st=3))
    write(second, "s.txt", snapshot())
    expect("committed alternate", second, 0, "2 identical, 0 different")

    # another query's alternate is no shape of q
    shj = PLAN.replace("BroadcastHashJoin", "ShuffledHashJoin")
    write(parent, "s.alt1.txt", shj.format(cg1=1, cg2=2, st=1))
    third = os.path.join(tmp, "third")
    write(third, "q.txt", shj.format(cg1=1, cg2=2, st=1))
    write(third, "s.txt", snapshot())
    expect("no committed shape", third, 1, "q.txt: differs")

    for f in failures:
        print("FAIL", f)
    print(f"test_plan_diff: {8 - len(failures)}/8 ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
