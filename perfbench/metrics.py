"""Turns the JVM's raw samples into the benchmark's metrics and prints them.

End-to-end metrics (untraced run), each defined on every workload:

  setup_s          median set-up round (session + staging) plus the warm-up
  request_p50_ms   search/curate: request wall time; ingest: lag of a
  request_p90_ms   phase-a chunk from its due time to the progress event of
                   the batch that committed it
  requests_per_s   search/curate: requests per second of timed passes;
                   ingest: median over the phase-b backlog parts of wire
                   lines per second draining the part
  peak_rss_mb      the JVM's VmHWM

search and curate also report pass_s, the median wall time of one pass over
the request set: curate's own metric, printed in the summary but not carried
by the result line.
"""
import hashlib
import json
import math
import os
import statistics

import stats

E2E_UNITS = {
    "setup_s": "s", "request_p50_ms": "ms", "request_p90_ms": "ms",
    "requests_per_s": "1/s", "peak_rss_mb": "MiB",
}

# per-layer metric -> unit; every traced run reports all of them, 0 where the
# workload does not exercise the layer
LAYER_UNITS = {
    "tables.load_ms": "ms", "tables.schema_jobs": "count",
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "queries.build_actions": "count",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "exec.run_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.idle_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.task_run_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.peak_exec_mem_bytes": "bytes",
    "exec.task_skew": "ratio", "exec.failed_tasks": "count",
    "caches.cached_bytes": "bytes", "caches.unpersist_ms": "ms",
    "ingest.parse_rows_per_s": "rows/s", "ingest.kept_ratio": "ratio",
    "ingest.gen_late_ms": "ms",
    "streaming.batches": "count", "streaming.rows_per_batch": "rows",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "rows", "streaming.state_mem_bytes": "bytes",
    "streaming.watermark_dropped_rows": "rows", "streaming.dedup_kept_ratio": "ratio",
    "sinks.upsert_ms": "ms", "sinks.probe_rows_read": "rows",
    "sinks.files_written": "count", "sinks.bytes_per_input_byte": "ratio",
    "sinks.late_dups_dropped": "rows",
}

# what a workload's `request` is, for the printed summary
REQUEST_MEANING = {
    "search": "request", "curate": "query",
    "ingest": "phase-a chunk lag (due -> commit)",
}


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def chunk_lags(res, phases="a"):
    """Chunk lags, ms: commit (first progress event whose end offset covers
    the chunk) minus due time; infinite for a chunk never committed."""
    events = sorted(res.get("progress", []), key=lambda e: e["recv_ms"])
    lags = []
    for c in res.get("chunks", []):
        if c["phase"] not in phases:
            continue
        commit = next((e["recv_ms"] for e in events if e["end_offset"] >= c["offset"]), None)
        lags.append(math.inf if commit is None else commit - c["due_ms"])
    return lags


def e2e(workload, res):
    setup = statistics.median(res["setup_rounds_s"]) + res["warmup_s"]
    out = {"setup_s": setup, "peak_rss_mb": res["peak_rss_mb"]}
    if workload == "ingest":
        lat = chunk_lags(res)
        drains = res.get("drains") or [{"lines": 0, "s": math.nan}]
        out.update(requests_per_s=statistics.median(d["lines"] / d["s"] for d in drains))
    else:
        lat = [s["ms"] for s in res["requests"]]
        out.update(requests_per_s=len(lat) / sum(res["passes_s"]),
                   pass_s=statistics.median(res["passes_s"]))
    out.update(request_p50_ms=stats.percentile(lat, 50) if lat else math.nan,
               request_p90_ms=stats.percentile(lat, 90) if lat else math.nan)
    return out, len(lat)


def self_times(spans):
    """Per span name: (calls, total ms, self ms). Self time is a span's
    duration minus the part its children cover (children of one span never
    overlap: they run on the span's thread, one after another)."""
    child_ms = {}
    for s in spans:
        if s["parent"] >= 0:
            child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + _dur(s)
    out = {}
    for s in spans:
        c, t, me = out.get(s["name"], (0, 0.0, 0.0))
        out[s["name"]] = (c + 1, t + _dur(s), me + _dur(s) - child_ms.get(s["id"], 0.0))
    return out


def _dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e6


def layers(workload, res):
    spans = res.get("spans", [])
    m = {k: 0.0 for k in LAYER_UNITS}
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    c = lambda s, k: s["counters"].get(k, 0.0)
    if workload in ("search", "curate"):
        reqs = by.get("request", [])
        per_req = {}
        for s in spans:
            per_req.setdefault(s["request"], []).append(s)
        def req_sum(k):
            return _mean([sum(c(s, k) for s in per_req[r["request"]]
                              if s["name"] in ("queries.build", "plan", "exec"))
                          for r in reqs])
        tables = by.get("tables", [])
        m["tables.load_ms"] = _mean([_dur(s) for s in tables])
        # a `tables` span holds one Tables.apply, so each of its jobs is a
        # schema-inference job
        m["tables.schema_jobs"] = _mean([c(s, "jobs") for s in tables])
        build = by.get("queries.build", [])
        m["queries.build_ms"] = _mean([_dur(s) for s in build])
        m["queries.build_jobs"] = _mean([c(s, "jobs") for s in build])
        m["queries.build_actions"] = _mean([c(s, "actions") for s in build])
        plan = by.get("plan", [])
        for ph in ("analysis", "optimization", "planning"):
            m[f"plan.{ph}_ms"] = _mean([c(s, f"{ph}_ms") for s in plan])
        m["exec.run_ms"] = _mean([_dur(s) for s in by.get("exec", [])])
        for k in ("jobs", "stages", "tasks", "task_cpu_ms", "task_run_ms", "gc_ms",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            m[f"exec.{k}"] = req_sum(k)
        m["exec.idle_ms"] = _mean([c(r, "idle_ms") for r in reqs])
        skews = [max(c(s, "task_skew") for s in per_req[r["request"]]) for r in reqs]
        m["exec.task_skew"] = _mean([k for k in skews if k > 0])
        m["exec.peak_exec_mem_bytes"] = max([c(s, "peak_exec_mem_bytes") for s in spans] or [0])
        m["exec.failed_tasks"] = sum(c(s, "failed_tasks") for s in spans)
        m["caches.cached_bytes"] = _mean([c(r, "cached_bytes") for r in reqs])
        m["caches.unpersist_ms"] = _mean([_dur(s) for s in by.get("caches.unpersist", [])])
    else:
        chunks = res.get("chunks", [])
        wire = sum(x["lines"] for x in chunks)
        parse = by.get("ingest.parse", [])
        if parse:
            m["ingest.parse_rows_per_s"] = wire / (_dur(parse[0]) / 1e3)
        m["ingest.kept_ratio"] = res.get("parse_kept_rows", 0) / wire if wire else 0.0
        late = [x["added_ms"] - x["due_ms"] for x in chunks if x["phase"] == "a"]
        m["ingest.gen_late_ms"] = stats.percentile(late, 90) if late else 0.0
        data = [e for e in res.get("progress", []) if e["input_rows"] > 0]
        m["streaming.batches"] = len(data)
        m["streaming.rows_per_batch"] = wire / len(data) if data else 0.0
        for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                          ("queryPlanning", "query_planning_ms"),
                          ("latestOffset", "latest_offset_ms"),
                          ("walCommit", "wal_commit_ms"),
                          ("commitOffsets", "commit_offsets_ms")):
            m[f"streaming.{name}"] = _mean([e["duration_ms"].get(key, 0) for e in data])
        st = [e["state"][0] for e in data if e["state"]]
        updated = sum(s["rows_updated"] for s in st)
        dropped = sum(s["custom"].get("numDroppedDuplicateRows", 0) for s in st)
        if st:
            m["streaming.state_rows"] = st[-1]["rows_total"]
            m["streaming.state_mem_bytes"] = max(s["mem_bytes"] for s in st)
            m["streaming.watermark_dropped_rows"] = sum(s["dropped_by_watermark"] for s in st)
            m["streaming.dedup_kept_ratio"] = updated / (updated + dropped) if updated + dropped else 0.0
        ups = by.get("sinks.upsert", [])
        m["sinks.upsert_ms"] = _mean([_dur(s) for s in ups])
        m["sinks.probe_rows_read"] = _mean([c(s, "records_read") for s in ups])
        m["sinks.files_written"] = res.get("sink_files", 0)
        wire_bytes = res["expected"]["wire_bytes"]
        m["sinks.bytes_per_input_byte"] = res.get("sink_bytes", 0) / wire_bytes if wire_bytes else 0.0
        m["sinks.late_dups_dropped"] = updated - res.get("sink", {}).get("rows", 0)
        m["exec.task_cpu_ms"] = _mean([c(s, "task_cpu_ms") for s in ups])
        m["exec.gc_ms"] = _mean([c(s, "gc_ms") for s in ups])
    return m


def compute(workload, res, failures, checks, trace):
    """Metrics of one run. Attempted operations: every JVM-side operation
    that failed, plus, for search/curate, each warm-up result that reached
    the output check and each timed request that completed; for ingest,
    each chunk added and each output check."""
    e, samples = e2e(workload, res)
    failed = len(failures)
    if workload == "ingest":
        done = len(res.get("chunks", [])) + len(checks)
        failed += sum(1 for lag in chunk_lags(res, "ab") if lag == math.inf)
    else:
        done = len(res.get("checked", [])) + len(res["requests"])
    attempted = done + len(res.get("failures", []))
    out = {"workload": workload, "e2e": e, "samples": samples,
           "attempted": attempted, "failed": failed,
           "meta": dict(res.get("meta", {}))}
    if trace:
        out["layers"] = layers(workload, res)
        out["self_ms"] = {k: v for k, v in self_times(res.get("spans", [])).items()}
    return out


def digest(result_dir):
    """(rows, sha256 prefix) of a parquet result, rows sorted after the same
    value normalisation the oracle comparison applies."""
    import duckdb
    con = duckdb.connect()
    rows = con.sql(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").fetchall()
    norm = sorted(json.dumps([None if v is None else repr(v) for v in r]) for r in rows)
    return len(rows), hashlib.sha256("\n".join(norm).encode()).hexdigest()[:16]


def print_summary(workload, m):
    print(f"== {workload} (seed {m['meta'].get('seed')}, {m['meta'].get('master')}, "
          f"trace {m['meta'].get('trace')}, commit {m['meta'].get('commit', '')[:12]})")
    tail = stats.beyond(m["samples"], 90)
    for k, unit in E2E_UNITS.items():
        note = ""
        if k.startswith("request_p"):
            note = f"  [{REQUEST_MEANING[workload]}; n={m['samples']}"
            note += f", {tail} beyond p90]" if k.endswith("p90_ms") else "]"
        print(f"   {k:<16} {m['e2e'][k]:>12.4f} {unit}{note}")
    if "pass_s" in m["e2e"]:
        print(f"   {'pass_s':<16} {m['e2e']['pass_s']:>12.4f} s")
    share = m["failed"] / m["attempted"] if m["attempted"] else float("nan")
    print(f"   {'failed_share':<16} {share:>12.4f} ratio  ({m['failed']} of {m['attempted']})")
    for f in m["failures"]:
        print(f"   FAILED {f['workload']}/{f['request']}: {f['exception']}: {f['message']}")
    for k, v in m.get("checks", {}).items():
        if not v.startswith("ok"):
            print(f"   check {k}: {v}")
    if "layers" in m:
        for k, v in m["layers"].items():
            if v:
                print(f"   {k:<32} {v:>14.4f} {LAYER_UNITS[k]}")
        print("   self time per layer (ms, total over the run):")
        for name, (calls, total, self_ms) in sorted(m["self_ms"].items()):
            print(f"     {name:<20} calls {calls:>5}  total {total:>10.1f}  self {self_ms:>10.1f}")


def load_untraced(out_dir, workload, seed):
    p = os.path.join(out_dir, "results", f"{workload}-{seed}-0.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)["summary"]


def print_overhead(workload, base, traced):
    if base is None:
        print(f"   tracing overhead: no untraced run of {workload} with this seed")
        return
    print(f"   tracing overhead on {workload} (traced - untraced):")
    for k, unit in E2E_UNITS.items():
        a, b = base["e2e"][k], traced["e2e"][k]
        print(f"     {k:<16} {b - a:>+12.4f} {unit} ({(b - a) / a:+.1%})")


def unmeasured(results, trace):
    """Names of result-line metrics a failed run could not measure."""
    return [f"{m['workload']}.{k}" for m in results
            for k, v in (m["layers"] if trace else m["e2e"]).items()
            if not math.isfinite(v)]


def result_line(results, trace):
    """The benchmark's last output line."""
    metrics = {}
    for m in results:
        prefix = "" if len(results) == 1 else m["workload"] + "."
        src, units = (m["layers"], LAYER_UNITS) if trace else (m["e2e"], E2E_UNITS)
        for k, unit in units.items():
            metrics[prefix + k] = {"value": src[k], "unit": unit}
    failed = sum(m["failed"] for m in results)
    return {"correct": failed == 0, "attempted": sum(m["attempted"] for m in results),
            "failed": failed, "metrics": metrics}
