"""Turns a harness result into the benchmark's metrics.

End-to-end metrics come from the op timings of the untraced run; per-layer
metrics come from the spans, Spark jobs and SQL executions the traced run
records. All span arithmetic is here, in plain Python, so it is testable
without a JVM.
"""

import math
import statistics

# Spans the harness opens around calls into the program. Spark spans carry
# job, task, planning and codegen counters; the others only calls/self time.
SPARK_SPANS = [
    "core.Exec.execute", "core.Exec.toDict", "sql.Dataset.collect",
    "io.Load.loadAndCopy", "io.Unload.unloadAndCopy", "schema.Infer.inferSchema",
    "io.Insert.insertDataFrame", "io.ManifestTable.readPoint", "io.ManifestTable.append",
    "io.ManifestTable.optimize", "io.ManifestDml.mergeInto",
    "streaming.Stream.runNearDupDir",
]
PLAIN_SPANS = ["core.Session.build", "io.LocalFiles.splitFile",
               "io.LocalFiles.compressFileList", "io.Stage.putList"]
SPARK_COUNTERS = ["calls", "self_ms", "jobs", "tasks", "driver_gap_ms", "planning_ms",
                  "codegen_compile_ms"]
TOTALS = {"spark.task_run_ms": "run_ms", "spark.input_bytes": "input_bytes",
          "spark.output_bytes": "output_bytes",
          "spark.shuffle_read_bytes": "shuffle_read_bytes",
          "spark.shuffle_write_bytes": "shuffle_write_bytes",
          "spark.spill_bytes": "spill_bytes"}
BATCH_PHASES = ["addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset"]
E2E = ["setup_s", "throughput_per_s", "step_s_p50", "heap_mb_after_gc",
       "stored_bytes_per_row"]
E2E_UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "step_s_p50": "s",
             "heap_mb_after_gc": "MB", "stored_bytes_per_row": "B/row"}
# Workload-specific end-to-end figures, reported by the traced run as
# `traced.<name>` and by every run on the detail line.
SPECIFIC = {"point_read_ms_p50": "ms", "point_read_ms_tail": "ms", "scan_sql_ms_p50": "ms",
            "append_ms_p50": "ms", "merge_ms_p50": "ms", "cycle_ms_p50": "ms",
            "etl_rows_per_s": "1/s", "batch_s_tail": "s"}
OTHER_LAYER = {
    "jvm.gc_ms": "ms",
    "sources.ManifestSource.cache_hit_ratio": "ratio",
    "sources.ManifestSource.list_ops": "count",
    "io.ManifestTable.segments_opened_ratio": "ratio",
    "io.ManifestTable.segments_at_end": "count",
    "streaming.NearDupIndex.index_roots_at_end": "count",
    "streaming.Stream.accept_ratio": "ratio",
    "fs.files_written": "count",
    "fs.bytes_written": "B",
}


def counter_unit(counter):
    return "ms" if counter.endswith("_ms") else "count"


def layer_units():
    """Every per-layer metric name with its unit, in report order."""
    out = {}
    for s in SPARK_SPANS:
        for c in SPARK_COUNTERS:
            out[f"{s}.{c}"] = counter_unit(c)
    for s in PLAIN_SPANS:
        out[f"{s}.calls"] = "count"
        out[f"{s}.self_ms"] = "ms"
    for name in TOTALS:
        out[name] = "ms" if name.endswith("_ms") else "B"
    for p in BATCH_PHASES:
        out[f"streaming.batch.{p}_ms"] = "ms"
    out.update(OTHER_LAYER)
    for name in E2E:
        out["traced." + name] = E2E_UNITS[name]
    for name, unit in SPECIFIC.items():
        out["traced." + name] = unit
    return out


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0)


def tail(xs):
    """Highest standard tail percentile with at least ten samples beyond it.

    Returns (value, percentile, samples). The value is the nearest-rank
    percentile. When even p90 has fewer than ten samples beyond it (fewer
    than 100 samples), the maximum is reported with percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    for p in TAIL_PERCENTILES:
        rank = math.ceil(p / 100 * n)       # 1-based nearest rank
        if n - rank >= 10:
            return s[rank - 1], p, n
    return s[-1], 100.0, n


# ---------------------------------------------------------------- span arithmetic

def union_ms(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_ms(kids.get(s["id"], []),
                                                          s["start"], s["end"])
            for s in spans}


def owner(spans_by_id, spark_spans, group, t):
    """The span a job or SQL execution belongs to: the one named by its job
    group, else the innermost Spark span open at time `t`."""
    if group.startswith("pb-"):
        sid = int(group[3:])
        if sid in spans_by_id:
            return sid
    best = None
    for s in spark_spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best["id"] if best else None


def layer_counters(trace):
    """Per span name: calls, self_ms, jobs, tasks, driver_gap_ms,
    planning_ms, codegen_compile_ms; plus the totals over every job that
    ran inside a span."""
    spans = trace.get("spans", [])
    by_id = {s["id"]: s for s in spans}
    spark_spans = [s for s in spans if s["spark"]]
    own = {s["id"]: {"jobs": [], "planning": 0.0} for s in spans}
    totals = {k: 0.0 for k in TOTALS}
    for j in trace.get("jobs", []):
        sid = owner(by_id, spark_spans, j["group"], j["start"])
        if sid is None:
            continue
        own[sid]["jobs"].append(j)
        for name, field in TOTALS.items():
            totals[name] += j[field]
    for e in trace.get("execs", []):
        sid = owner(by_id, spark_spans, e["group"], e["start"])
        if sid is not None:
            own[sid]["planning"] += e["planning_ms"]
    selfs = self_times(spans)
    out = {}
    for s in spans:
        agg = out.setdefault(s["name"], {c: 0.0 for c in SPARK_COUNTERS})
        jobs = own[s["id"]]["jobs"]
        ivs = [(j["start"], j["end"] if j["end"] >= 0 else s["end"]) for j in jobs]
        agg["calls"] += 1
        agg["self_ms"] += selfs[s["id"]]
        agg["jobs"] += len(jobs)
        agg["tasks"] += sum(j["tasks"] for j in jobs)
        agg["driver_gap_ms"] += (s["end"] - s["start"]) - union_ms(ivs, s["start"], s["end"])
        agg["planning_ms"] += own[s["id"]]["planning"]
        agg["codegen_compile_ms"] += s["codegen_ms"]
    return out, totals


# ---------------------------------------------------------------- end to end

def read_latency_s(point_ms_p50, scan_ms_p50):
    """Geometric mean of the point-read and SQL-scan medians, in seconds.

    A slowdown of either read class moves it, by about half the slowdown's
    share, however the two classes' latencies compare."""
    return math.sqrt(point_ms_p50 * scan_ms_p50) / 1000


def e2e(workload, result, verdicts, setup_s):
    """(end-to-end metrics, workload-specific figures, sample counts)."""
    ok = [v[0] for v in verdicts if v[1]]
    timed_s = result["timed_s"]
    spec, samples = {}, {}
    if workload == "lakehouse_mix":
        timed = {id(r) for r in result["ops"]}
        ops = [r for r in ok if id(r) in timed]
        work = len(ops)
        spec["lake_ops_per_s"] = work / timed_s if timed_s else 0.0
        for kind, name in [("point", "point_read_ms"), ("scan", "scan_sql_ms"),
                           ("append", "append_ms"), ("merge", "merge_ms"),
                           ("optimize", "optimize_ms"), ("etl", "cycle_ms")]:
            xs = [r["ms"] for r in ops if r["op"] == kind]
            spec[name + "_p50"] = median(xs)
            samples[kind] = len(xs)
        step_s = read_latency_s(spec["point_read_ms_p50"], spec["scan_sql_ms_p50"])
        pt, pct, n = tail([r["ms"] for r in ops if r["op"] == "point"])
        spec["point_read_ms_tail"] = pt
        spec["point_read_tail_percentile"] = pct
        etl = [r for r in ops if r["op"] == "etl"]
        etl_s = sum(r["ms"] for r in etl) / 1000
        spec["etl_rows_per_s"] = sum(r["r"]["r"]["rows"] for r in etl) / etl_s if etl_s else 0.0
    else:
        batches = [b for b in result.get("batches", []) if b["rows"] > 0]
        step = [b["ms"].get("triggerExecution", 0) / 1000 for b in batches] if ok else []
        step_s = median(step)
        work = result.get("ingested", 0) if ok else 0
        spec["ingest_docs_per_s"] = work / timed_s if timed_s and ok else 0.0
        spec["batch_s_p50"] = step_s
        bt, pct, n = tail(step)
        spec["batch_s_tail"] = bt
        spec["batch_tail_percentile"] = pct
        samples["batches"] = len(step)
    rows = result.get("stored_rows") or 0
    out = {
        "setup_s": setup_s,
        "throughput_per_s": work / timed_s if timed_s else 0.0,
        "step_s_p50": step_s,
        "heap_mb_after_gc": result["heap_mb_after_gc"],
        "stored_bytes_per_row": result["stored_bytes"] / rows if rows else 0.0,
    }
    return out, spec, samples


def layers(result, e2e_out, spec):
    """Every per-layer metric; layers a workload does not exercise read 0."""
    counters, totals = layer_counters(result.get("trace", {}))
    m = {}
    for s in SPARK_SPANS:
        for c in SPARK_COUNTERS:
            m[f"{s}.{c}"] = counters.get(s, {}).get(c, 0.0)
    for s in PLAIN_SPANS:
        m[f"{s}.calls"] = counters.get(s, {}).get("calls", 0.0)
        m[f"{s}.self_ms"] = counters.get(s, {}).get("self_ms", 0.0)
    m.update(totals)
    batches = [b for b in result.get("batches", []) if b["rows"] > 0]
    for p in BATCH_PHASES:
        m[f"streaming.batch.{p}_ms"] = median([b["ms"].get(p, 0) for b in batches])
    m["jvm.gc_ms"] = result["gc_ms"]
    scans = [r["r"] for r in result.get("ops", []) if r["op"] == "scan" and r.get("ok")]
    m["sources.ManifestSource.cache_hit_ratio"] = (
        sum(1 for r in scans if r["cache_hit"]) / len(scans) if scans else 0.0)
    m["sources.ManifestSource.list_ops"] = (
        sum(r["list_ops"] for r in scans) / len(scans) if scans else 0.0)
    opened = [r["segs_opened"] / r["segs_data"] for r in result.get("ops", [])
              if "segs_opened" in r and r["segs_data"]]
    m["io.ManifestTable.segments_opened_ratio"] = (
        sum(opened) / len(opened) if opened else 0.0)
    m["io.ManifestTable.segments_at_end"] = (
        result.get("final", {}).get("segments", result.get("segments_at_end", 0)))
    m["streaming.NearDupIndex.index_roots_at_end"] = result.get("index_roots_at_end", 0)
    ingested = result.get("ingested", 0)
    m["streaming.Stream.accept_ratio"] = (
        len(result.get("accepted", [])) / ingested if ingested else 0.0)
    m["fs.files_written"] = result["fs_files"]
    m["fs.bytes_written"] = result["fs_bytes"]
    for name in E2E:
        m["traced." + name] = e2e_out[name]
    for name in SPECIFIC:
        m["traced." + name] = spec.get(name, 0.0)
    return m
