#!/usr/bin/env python3
"""Knob census: every `spark.graft.*` conf key and `SPARK_GRAFT_*` env name
the library source mentions, checked against the allowlist below.

Usage: python3 tools/knob_census.py [SRC_DIR]   (default: src/main)

Prints the census, then each difference from ALLOWLIST (`+ name` read but
not allowlisted, `- name` allowlisted but no longer read); exits 1 on any
difference. Adding or removing a knob therefore means editing ALLOWLIST in
the same change. Fixture tests: tools/test_knob_census.py (round_gate.sh
runs both).
"""
import os
import re
import sys

ALLOWLIST = {
    # env names (no spark.graft.* conf key is read)
    "SPARK_GRAFT_BENCH_ALL",
    "SPARK_GRAFT_BENCH_HEAP",
    "SPARK_GRAFT_BENCH_ONLY",
    "SPARK_GRAFT_BENCH_OUT",
    "SPARK_GRAFT_BENCH_REPS",
    "SPARK_GRAFT_BENCH_SEED",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_PLANS_DIR",
    "SPARK_GRAFT_PLANS_OUT",
    "SPARK_GRAFT_SCALE_ONLY",
    "SPARK_GRAFT_SCALE_OUT",
    "SPARK_GRAFT_SCALE_X",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_VERIFY_ONLY",
}

KNOB = re.compile(r"\bspark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]|\bSPARK_GRAFT_[A-Z0-9_]+")
SOURCES = (".scala", ".java")


def census(src):
    """Sorted set of knob names mentioned under `src`."""
    found = set()
    for d, _, files in os.walk(src):
        for f in files:
            if f.endswith(SOURCES):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    found.update(KNOB.findall(fh.read()))
    return found


def main(argv):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = argv[1] if len(argv) > 1 else os.path.join(root, "src", "main")
    found = census(src)
    for name in sorted(found):
        print(name)
    extra, missing = sorted(found - ALLOWLIST), sorted(ALLOWLIST - found)
    for name in extra:
        print(f"+ {name} (read but not allowlisted)")
    for name in missing:
        print(f"- {name} (allowlisted but not read)")
    print(f"knob_census: {len(found)} knobs, {len(extra)} unlisted, "
          f"{len(missing)} stale")
    return 1 if extra or missing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
