#!/usr/bin/env bash
# One-command local round gate: everything the driver checks, in order.
#
#   tools/round_gate.sh           # full gate, stages 1-12 (sf0.01 verify,
#                                 # tests, interpreted-path oracle, bench
#                                 # artifact check, ingest exactly-once
#                                 # smoke, search and curate correctness
#                                 # smokes, heap canary, scale smoke)
#   tools/round_gate.sh --quick   # stages 1-5 on sf0.001: tool checks,
#                                 # verify, oracle, smoke, tests (iteration loop)
#
# Exit non-zero on the first failing stage. Run it QUIET (no concurrent sbt/
# tests) if you intend to trust bench numbers — see BASELINE.md round 9.
set -euo pipefail
cd "$(dirname "$0")/.."

SF=/root/testdata/sf0.01
[[ "${1:-}" == "--quick" ]] && SF=/root/testdata/sf0.001

# Seconds-cheap checks first, in every mode: the tools' fixture tests, the
# knob census and perfbench's unit tests.
echo "== 1/12 tool checks (fixture tests, knob census, perfbench unit tests)"
python3 tools/test_check_bench.py
python3 tools/test_plan_diff.py
python3 tools/test_knob_census.py
python3 tools/knob_census.py
python3 -m unittest discover -s perfbench/tests

out=$(mktemp -d /tmp/graft_gate.XXXXXX)
echo "== 2/12 verify dump @ $SF"
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
echo "== 3/12 DuckDB differential"
python3 tools/check_oracle.py "$SF" "$out"
echo "== 4/12 flagship smoke"
sbt -batch "runMain graft.EntrySmoke" 2>&1 | grep -q 'ENTRY_ROWS=[1-9]' \
  || { echo "EntrySmoke returned 0 rows"; exit 1; }
echo "== 5/12 scalatest"
sbt -batch test

if [[ "${1:-}" != "--quick" ]]; then
  # Interpreted-path oracle: the stage 2-3 dump again with whole-stage
  # codegen off and every expression evaluated interpreted (NO_CODEGEN), so
  # a kernel whose eval and generated code disagree fails the DuckDB compare
  # even while the codegen'd stages are green. sf0.001 keeps it to minutes.
  echo "== 6/12 interpreted-path oracle (verify + DuckDB @ sf0.001, NO_CODEGEN)"
  isf="$(dirname "$SF")/sf0.001"
  iout=$(mktemp -d /tmp/graft_gate_interp.XXXXXX)
  ilog=$(mktemp /tmp/graft_verify_interp.XXXXXX.log)
  if ! JAVA_TOOL_OPTIONS="-Dspark.sql.codegen.factoryMode=NO_CODEGEN -Dspark.sql.codegen.wholeStage=false" \
       SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $isf $iout" >"$ilog" 2>&1; then
    tail -40 "$ilog"; echo "interpreted graft.Verify FAILED (see $ilog)"; exit 1
  fi
  if grep '\[verify\]' "$ilog"; then
    echo "interpreted verify had per-query failures"; exit 1
  fi
  python3 tools/check_oracle.py "$isf" "$iout"

  echo "== 7/12 bench artifact check (committed BENCH_full.json vs baseline)"
  if [[ -f BENCH_full.json ]]; then
    python3 tools/check_bench.py BENCH_full.json
  else
    echo "no BENCH_full.json: skipped"
  fi

  # Ingest exactly-once smoke: one untraced perfbench ingest run through
  # IrcStream.start. Its own output check (sink rows = distinct ids = the
  # generator's distinct keys) is the ingest oracle; the stage fails unless
  # the result line reads correct with no failed operation.
  echo "== 8/12 ingest exactly-once smoke (perfbench ingest, seed 1)"
  ingest_out=$(mktemp /tmp/graft_ingest.XXXXXX.out)
  if ! python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0 \
       >"$ingest_out" 2>"$ingest_out.err"; then
    tail -20 "$ingest_out" "$ingest_out.err"; echo "perfbench ingest run FAILED"; exit 1
  fi
  python3 - "$(tail -1 "$ingest_out")" <<'PY'
import json, sys
r = json.loads(sys.argv[1])
print(f"ingest: correct={r['correct']} failed={r['failed']} attempted={r['attempted']}")
sys.exit(0 if r["correct"] is True and r["failed"] == 0 else 1)
PY

  # Search correctness smoke: one untraced perfbench search run. Its output
  # check compares each request's warm-up result with DuckDB; the warm-up
  # already reads every table a second time, through Tables' cached schema.
  echo "== 9/12 search correctness smoke (perfbench search, seed 1)"
  search_out=$(mktemp /tmp/graft_search.XXXXXX.out)
  if ! python3 perfbench/run.py --workload search --seed 1 --seconds 12 --trace 0 \
       >"$search_out" 2>"$search_out.err"; then
    tail -20 "$search_out" "$search_out.err"; echo "perfbench search run FAILED"; exit 1
  fi
  python3 - "$(tail -1 "$search_out")" <<'PY'
import json, sys
r = json.loads(sys.argv[1])
print(f"search: correct={r['correct']} failed={r['failed']} attempted={r['attempted']}")
sys.exit(0 if r["correct"] is True and r["failed"] == 0 else 1)
PY

  # Curate correctness smoke: one untraced perfbench curate run. It is the
  # only perfbench workload that evaluates a hash kernel (d10_dedup_yield_lsh
  # runs minhash_sig_h under its oracle), so a fold that drifts fails here.
  echo "== 10/12 curate correctness smoke (perfbench curate, seed 1)"
  curate_out=$(mktemp /tmp/graft_curate.XXXXXX.out)
  if ! python3 perfbench/run.py --workload curate --seed 1 --seconds 12 --trace 0 \
       >"$curate_out" 2>"$curate_out.err"; then
    tail -20 "$curate_out" "$curate_out.err"; echo "perfbench curate run FAILED"; exit 1
  fi
  python3 - "$(tail -1 "$curate_out")" <<'PY'
import json, sys
r = json.loads(sys.argv[1])
print(f"curate: correct={r['correct']} failed={r['failed']} attempted={r['attempted']}")
sys.exit(0 if r["correct"] is True and r["failed"] == 0 else 1)
PY

  # Constrained-heap canary over the pressure-sensitive pair-stream family
  # (r14 verdict #1: three consecutive driver windows ambushed these) —
  # driver bench config (cpus=4) with a 2 GiB-equivalent unified region.
  # An all-reps-slow flag here means the spill cliff is back; catch it
  # BEFORE the driver's contended window does. --allow-missing because the
  # canary runs only the sensitive family, not all 233.
  echo "== 11/12 constrained-heap canary (pair-stream family @ 2g, sf0.1)"
  # The BENCHED pressure-sensitive family: the banded/prefix scale paths.
  # The quadratic truth definitions (d2_jaccard_neardup / d3_dedup_groups /
  # d10_dedup_yield, and d12_containment since r16) left the benched set
  # (SparkEntry.benchExcluded, r14 verdict #2 / r15 verdict #1) — the
  # correctness gate still runs them at stages 2-3.
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
  echo "== 12/12 scale smoke (ScaleProbe xf=2, sf0.001)"
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
