#!/usr/bin/env bash
# One-command local round gate: everything the driver checks, in order.
#
#   tools/round_gate.sh           # full gate (sf0.01 verify, tests, bench
#                                 # check, heap canary, scale smoke)
#   tools/round_gate.sh --quick   # sf0.001 verify + tests only (iteration loop)
#
# Exit non-zero on the first failing stage. Run it QUIET (no concurrent sbt/
# tests) if you intend to trust bench numbers — see BASELINE.md round 9.
set -euo pipefail
cd "$(dirname "$0")/.."

SF=/root/testdata/sf0.01
[[ "${1:-}" == "--quick" ]] && SF=/root/testdata/sf0.001

out=$(mktemp -d /tmp/graft_gate.XXXXXX)
echo "== 1/4 verify dump @ $SF"
# Capture sbt's own exit status before grepping for per-query failures: the
# old `... | grep ... || true` masked a compile error / OOM behind pipefail,
# so the gate only failed later when check_oracle couldn't read the dump.
vlog=$(mktemp /tmp/graft_verify.XXXXXX.log)
if ! SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $SF $out" >"$vlog" 2>&1; then
  tail -40 "$vlog"; echo "sbt runMain graft.Verify FAILED (see $vlog)"; exit 1
fi
if grep '\[verify\]' "$vlog"; then
  echo "verify had per-query failures"; exit 1
fi
echo "== 2/4 DuckDB differential"
python3 tools/check_oracle.py "$SF" "$out"
echo "== 3/4 flagship smoke"
sbt -batch "runMain graft.EntrySmoke" 2>&1 | grep -q 'ENTRY_ROWS=[1-9]' \
  || { echo "EntrySmoke returned 0 rows"; exit 1; }
echo "== 4/4 scalatest"
sbt -batch test

if [[ "${1:-}" != "--quick" && -f BENCH_full.json ]]; then
  echo "== bench artifact check (committed BENCH_full.json vs baseline)"
  python3 tools/test_check_bench.py
  python3 -m unittest discover -s perfbench/tests
  python3 tools/check_bench.py BENCH_full.json
fi

if [[ "${1:-}" != "--quick" ]]; then
  # Constrained-heap canary over the pressure-sensitive pair-stream family
  # (r14 verdict #1: three consecutive driver windows ambushed these) —
  # driver bench config (cpus=4) with a 2 GiB-equivalent unified region.
  # An all-reps-slow flag here means the spill cliff is back; catch it
  # BEFORE the driver's contended window does. --allow-missing because the
  # canary runs only the sensitive family, not all 233.
  echo "== 5/5 constrained-heap canary (pair-stream family @ 2g, sf0.1)"
  # The BENCHED pressure-sensitive family: the banded/prefix scale paths.
  # The quadratic truth definitions (d2_jaccard_neardup / d3_dedup_groups /
  # d10_dedup_yield, and d12_containment since r16) left the benched set
  # (SparkEntry.benchExcluded, r14 verdict #2 / r15 verdict #1) — the
  # correctness gate still runs them at stage 1/2.
  FAMILY=d2_jaccard_prefix,d2_minhash_lsh,d2_minhash_md5,d3_dedup_groups_lsh,d10_dedup_yield_lsh,d12_containment_prefix,d13_incremental_minhash,m3_phash_pairs_distinct
  canary_out=$(mktemp /tmp/graft_canary.XXXXXX.json)
  if ! SPARK_GRAFT_BENCH_ONLY="$FAMILY" SPARK_GRAFT_BENCH_HEAP=2g \
       SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
       SPARK_GRAFT_BENCH_OUT="$canary_out" \
       sbt -batch "runMain graft.Bench" >/tmp/graft_canary.log 2>&1; then
    tail -20 /tmp/graft_canary.log; echo "canary bench run FAILED"; exit 1
  fi
  # Compare against CONSTRAINED-HEAP baselines (r15 advice #2): the host
  # canaries are absent from a filtered run, and check_bench now pins
  # factor=1.0 rather than self-normalizing — so the bests here must be
  # 2g-canary bests, not clean-window bests.
  python3 tools/check_bench.py --allow-missing "$canary_out" tools/bench_baseline_2g.json

  # Scale smoke: the one scale main at xf=2 on the smallest fixture, so a
  # registry entry or kept shape that stops running at scale fails here
  # instead of rotting until the next full probe. One rep per scale: the
  # stage checks that entries run, not their timings.
  echo "== scale smoke (ScaleProbe xf=2, sf0.001)"
  scale_out=$(mktemp /tmp/graft_scale.XXXXXX.json)
  if ! SPARK_GRAFT_SCALE_X=2 SPARK_GRAFT_SF_DIR="$(dirname "$SF")/sf0.001" \
       SPARK_GRAFT_CPUS=4 SPARK_GRAFT_BENCH_REPS=1 \
       SPARK_GRAFT_SCALE_OUT="$scale_out" \
       sbt -batch "runMain graft.ScaleProbe" >/tmp/graft_scale.log 2>&1; then
    tail -20 /tmp/graft_scale.log; echo "scale smoke run FAILED"; exit 1
  fi
  python3 - "$scale_out" <<'PY'
import json, sys
failures = json.load(open(sys.argv[1]))["failures"]
for name, f in failures.items():
    print(f"{name}: {f['class']}: {f['message']}")
sys.exit(1 if failures else 0)
PY
fi
echo "GATE GREEN"
