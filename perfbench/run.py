#!/usr/bin/env python3
"""Benchmark of the graft engine: `search`, `curate` and `ingest`.

    python3 perfbench/run.py --workload search --seed 1 --seconds 12 --trace 0

`--workload all` runs every workload in turn; with `--trace 1` it runs each
untraced and then traced and prints the tracing overhead. The last line of
standard output is one JSON object: correct, attempted, failed and the
metrics (end-to-end metrics untraced, per-layer metrics traced). See
perfbench/README.md for the metrics and why each workload exists.
"""
import argparse
import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import ircgen  # noqa: E402
import metrics  # noqa: E402

OUT = build.OUT
DEADLINE_S = 170          # the whole run, build excluded
HEAP = "3g"
YOUNG = "768m"  # fixed young generation: peak RSS then follows the live set
# C1 only: in runs under a minute on 4 cores, C2 compiling in the background
# competes with the work and finishes at different times in different runs;
# with it, run-to-run spreads were 0.2 to 0.5 of the median, without it about
# 0.1. The cost is slower steady-state loops than a long-lived JVM would have.
JIT = "-XX:TieredStopAtLevel=1"
SF = 0.1
DATA_SEED = 42

# `search`: ES-query-surface requests (families a, t, h, f, o; none is in
# SparkEntry.benchExcluded). Six are the fastest of their kind, so the fixed
# per-request floor dominates; a38_frequent_pairs is the one request that
# caches (its per-user event items, through Caches.track) and shuffles.
SEARCH = ["o2_topk", "f6_string_ops", "h7_collect_sorted", "a4_topk_keys",
          "t5_facets", "a1_count_per_key", "a38_frequent_pairs"]

# Warm-up passes billed to set-up. After a single one, the first two timed
# passes of `search` were about 10% slower than the rest; `curate`'s
# multi-second queries need one.
WARMUP_PASSES = {"search": 3, "curate": 1}

# `curate`: multi-second scale-path members of the d, v, x and m families.
CURATE = ["d10_dedup_yield_lsh", "v11_pq_adc", "x34_html_extract",
          "m3_phash_pairs_distinct"]

# `ingest`: phase a offers ircgen.RATE_LINES_PER_S wire lines/s for the
# whole run length. A batch has a fixed cost of about 3 s on 4 cores (the
# sink's existing-id probe and partitioned write), so a batch of
# IrcStream.start's 5 s trigger takes 3 to 5.5 s and ends at about the next
# trigger. With back-to-back batches (trigger 0) at a higher offered rate, a
# slow batch made the next one bigger and slower, and the lag spread over ten
# runs was 0.4. Phase b drains BACKLOG_PER_S * seconds lines.
BACKLOG_PER_S = 250

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def cores():
    return min(4, len(os.sched_getaffinity(0)))


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat; None
    where there is no /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_ticks() readings: recorded with each run, so a set of runs made while
    a shared host was busy can be told apart from a slower program."""
    if before is None or after is None or after[1] == before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def commit_sha():
    """HEAD of the checkout when it is a git repository, else 'unknown'."""
    try:
        p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def fixture_dir():
    """The fixture tables, generated once per checkout."""
    d = os.path.join(OUT, "data", f"sf{SF}")
    stamp = os.path.join(d, "_stamp")
    key = f"{SF}:{DATA_SEED}:{os.path.getmtime(datagen.__file__)}"
    if not (os.path.exists(stamp) and open(stamp).read() == key):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, SF, DATA_SEED)
        with open(stamp, "w") as f:
            f.write(key)
    return d


def run_jvm(cp, conf, work, budget_s):
    conf_path = os.path.join(work, "config.json")
    result_path = os.path.join(work, "result.json")
    with open(conf_path, "w") as f:
        json.dump(conf, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", JIT, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            f"-Djava.io.tmpdir={tmp}"] + JAVA_OPTS +
           ["-cp", cp, "perfbench.PerfBench", conf_path, result_path])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=max(1, budget_s))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"JVM exceeded {budget_s:.0f} s; log {log_path}")
    if rc != 0 or not os.path.exists(result_path):
        tail = open(log_path, errors="replace").read()[-3000:]
        raise RuntimeError(f"JVM exited {rc}; log tail:\n{tail}")
    with open(result_path) as f:
        return json.load(f)


def oracle_check(data_dir, out_dir, names, checked):
    """Per request: True when its result matches the DuckDB oracle (or, with
    no oracle, is non-empty). Uses the comparison of tools/check_oracle.py."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    verdict = {}
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(data_dir, out_dir)
    for line in buf.getvalue().splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("ok", "FAIL", "WARN"):
            verdict[parts[1].rstrip(":")] = (parts[0] == "ok", line.strip())
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    digests = {}
    for n in names:
        if n in oracle or n not in checked:
            continue
        rows, digest = metrics.digest(os.path.join(out_dir, n))
        digests[n] = {"rows": rows, "digest": digest}
        verdict[n] = (rows > 0, f"no oracle: {rows} rows, digest {digest}")
    return verdict, digests


def run_one(workload, seed, seconds, trace, cp):
    t_start = time.time()
    work = os.path.join(OUT, "work", f"{workload}-{seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "out"))
    conf = {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": trace, "cores": cores(), "work_dir": work,
            "warmup_passes": WARMUP_PASSES.get(workload, 0)}
    expected = None
    if workload in ("search", "curate"):
        data = fixture_dir()
        names = SEARCH if workload == "search" else CURATE
        conf.update(data_dir=data, requests=names)
    else:
        gen = ircgen.generate(seed, phase_a_s=seconds,
                              backlog_lines=int(BACKLOG_PER_S * seconds))
        chunks_file = os.path.join(work, "chunks.tsv")
        ircgen.write_chunks(gen, chunks_file)
        expected = gen["expected"]
        conf.update(chunks_file=chunks_file)
    ticks = cpu_ticks()
    budget = DEADLINE_S - (time.time() - t_start)
    res = run_jvm(cp, conf, work, budget)
    steal = steal_share(ticks, cpu_ticks())
    failures = list(res.get("failures", []))

    checks = {}
    if workload in ("search", "curate"):
        verdict, digests = oracle_check(conf["data_dir"], os.path.join(work, "out"),
                                        conf["requests"], res.get("checked", []))
        res["digests"] = digests
        for n in conf["requests"]:
            ok, line = verdict.get(n, (False, "no result to check"))
            checks[n] = line
            if not ok and not any(f["request"] == n for f in failures):
                failures.append({"workload": workload, "request": n,
                                 "exception": "OutputMismatch", "message": line})
    else:
        sink = res.get("sink", {})
        ok = sink.get("rows") == sink.get("distinct_ids") == expected["distinct_keys"]
        line = (f"{'ok' if ok else 'FAIL'} sink rows {sink.get('rows')}, distinct ids "
                f"{sink.get('distinct_ids')}, expected distinct keys {expected['distinct_keys']}")
        checks["exactly_once"] = line
        if not ok:
            failures.append({"workload": workload, "request": "exactly_once",
                             "exception": "OutputMismatch", "message": line})
        if trace:
            ok = res.get("parse_kept_rows") == expected["distinct_keys"]
            line = (f"{'ok' if ok else 'FAIL'} IrcParser.pipeline kept "
                    f"{res.get('parse_kept_rows')} rows, expected distinct keys "
                    f"{expected['distinct_keys']}")
            checks["batch_pipeline"] = line
            if not ok:
                failures.append({"workload": workload, "request": "batch_pipeline",
                                 "exception": "OutputMismatch", "message": line})
        res["expected"] = expected

    m = metrics.compute(workload, res, failures, checks, trace)
    m["meta"].update(commit=commit_sha(), source_sha256=build.source_digest(),
                     nproc=os.cpu_count(), cores=cores(), host_steal_share=steal,
                     heap=HEAP, seed=seed, seconds=seconds, trace=trace,
                     data_dir=os.path.relpath(conf.get("data_dir", work), ROOT))
    m["checks"] = checks
    m["failures"] = failures
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{workload}-{seed}-{trace}.json"), "w") as f:
        json.dump({"summary": m, "raw": res}, f)
    shutil.rmtree(work, ignore_errors=True)
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["search", "curate", "ingest", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    workloads = ["search", "curate", "ingest"] if a.workload == "all" else [a.workload]
    results = []
    for w in workloads:
        traces = [0, 1] if (a.workload == "all" and a.trace) else [a.trace]
        by_trace = {}
        for t in traces:
            try:
                by_trace[t] = run_one(w, a.seed, a.seconds, t, cp)
            except RuntimeError as e:
                print(f"{w}: run failed: {e}", file=sys.stderr)
                return 3
            metrics.print_summary(w, by_trace[t])
        if 1 in by_trace:
            base = by_trace.get(0) or metrics.load_untraced(OUT, w, a.seed)
            metrics.print_overhead(w, base, by_trace[1])
        results.append(by_trace[a.trace])
    missing = metrics.unmeasured(results, a.trace)
    if missing:
        # a failure stopped the run before it measured these; the summary
        # above names the failure
        print(f"not measured: {', '.join(missing)}", file=sys.stderr)
        return 4
    print(json.dumps(metrics.result_line(results, a.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
