#!/usr/bin/env python3
"""Fixture tests for knob_census.py.

  1. a source tree reading exactly the allowlist -> exit 0
  2. one extra conf key                          -> exit 1
  3. one allowlisted env name no longer read     -> exit 1

Run: python3 tools/test_knob_census.py   (also wired into round_gate.sh)
"""
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
CHECK = os.path.join(HERE, "knob_census.py")
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
from knob_census import ALLOWLIST  # noqa: E402


def tree(names):
    """A src dir whose one Scala file reads each name like the library does."""
    d = tempfile.mkdtemp(prefix="graft_kctest.")
    os.makedirs(os.path.join(d, "graft"))
    lines = []
    for n in sorted(names):
        if n.startswith("spark."):
            lines.append(f'  val a = spark.conf.get("{n}", "1")')
        else:
            lines.append(f'  val b = sys.env.get("{n}")')
    with open(os.path.join(d, "graft", "Knobs.scala"), "w",
              encoding="utf-8") as f:
        f.write("object Knobs {\n" + "\n".join(lines) + "\n}\n")
    return d


def run(src):
    p = subprocess.run([sys.executable, CHECK, src],
                       capture_output=True, text=True)
    return p.returncode, p.stdout


def main():
    failures = []

    def expect(name, names, want_code, want_sub):
        code, out = run(tree(names))
        if code != want_code or want_sub not in out:
            failures.append(f"{name}: exit {code}, wanted {want_code} "
                            f"with {want_sub!r}\n{out}")

    expect("same set", ALLOWLIST, 0, "0 unlisted, 0 stale")
    expect("extra key", ALLOWLIST | {"spark.graft.newDial"}, 1,
           "+ spark.graft.newDial")
    expect("missing key", ALLOWLIST - {"SPARK_GRAFT_CPUS"}, 1,
           "- SPARK_GRAFT_CPUS")

    for f in failures:
        print("FAIL", f)
    print(f"test_knob_census: {3 - len(failures)}/3 ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
