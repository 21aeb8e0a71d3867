"""Per-layer metrics from a traced run's spans.

Each traced op carries spans op -> build / plan / exec -> job -> stage,
stage spans carrying task totals and the op span carrying scan, write,
streaming and result-row counters (see the harness's Tracer). This
module turns one op's spans into per-op layer metrics and sums a pass's
ops into per-pass layer metrics."""
from stats import median, self_time

CORES = 4

# Every per-layer metric the traced run computes, with its unit. The
# benchmark reports the ones that are not dead (zero on every op of
# every workload); see baseline.py.
UNITS = {
    "session.start_s": "s",
    "build.s": "s", "build.jobs": "count", "build.stages": "count", "build.tasks": "count",
    "plan.s": "s", "plan.jobs": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_busy_s": "s", "exec.core_util": "ratio", "exec.driver_gap_s": "s",
    "exec.sched_delay_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.peak_exec_mem_mb": "MB",
    "scan.rows": "count", "scan.files": "count", "scan.bytes": "bytes",
    "scan.rows_per_result": "ratio", "r8.rows_per_result": "ratio",
    "write.rows": "count", "write.bytes": "bytes", "write.files": "count",
    "stream.batches": "count", "stream.batch_plan_s": "s", "stream.batch_s": "s",
    "jvm.peak_rss_mb": "MB", "jvm.gc_s": "s",
    "trace.overhead": "ratio", "trace.coverage": "ratio",
}

# Properties of the run rather than work counted on ops; never dead.
RUN_LEVEL = {"session.start_s", "jvm.peak_rss_mb", "jvm.gc_s", "trace.overhead",
             "trace.coverage"}
# Read zero on every traced op of both workloads in the committed
# baseline (perfbench/baseline/baseline-4core.json), so not reported.
DEAD = ("exec.spill_mb", "plan.jobs")

# Metrics of one op that a pass takes the maximum of, not the sum.
_PEAKS = {"exec.peak_exec_mem_mb"}
_STAGE = ("tasks", "busy_s", "sched_delay_s", "gc_s", "shuffle_read_mb",
          "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb")


def _dur(span):
    return (span["end_ns"] - span["start_ns"]) / 1e9


def op_layers(op):
    """Layer metrics of one traced op record."""
    spans = op["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    root = spans[0]
    phases = {s["name"]: s for s in kids.get(root["id"], [])}
    m = {"op.wall_s": _dur(root)}
    if len(phases) < 3:  # the op failed; nothing below it to attribute
        return m
    m["trace.coverage"] = sum(_dur(p) for p in phases.values()) / max(_dur(root), 1e-9)
    for name in ("build", "plan", "exec"):
        ph = phases[name]
        jobs = kids.get(ph["id"], [])
        stages = [st for j in jobs for st in kids.get(j["id"], [])]
        tot = {k: sum(st["counters"].get(k, 0.0) for st in stages) for k in _STAGE}
        m[f"{name}.s"] = _dur(ph)
        m[f"{name}.jobs"] = len(jobs)
        if name == "plan":
            continue
        m[f"{name}.stages"] = len(stages)
        m[f"{name}.tasks"] = tot["tasks"]
        if name == "exec":
            m["exec.task_busy_s"] = tot["busy_s"]
            m["exec.core_util"] = tot["busy_s"] / max(_dur(ph) * CORES, 1e-9)
            m["exec.driver_gap_s"] = self_time(ph, jobs) / 1e9
            m["exec.sched_delay_s"] = tot["sched_delay_s"]
            m["exec.gc_s"] = tot["gc_s"]
            m["exec.shuffle_read_mb"] = tot["shuffle_read_mb"]
            m["exec.shuffle_write_mb"] = tot["shuffle_write_mb"]
            m["exec.spill_mb"] = tot["spill_mb"]
            m["exec.peak_exec_mem_mb"] = max(
                [st["counters"].get("peak_exec_mem_mb", 0.0) for st in stages], default=0.0)
    c = root["counters"]
    for k in ("scan.rows", "scan.files", "scan.bytes", "write.rows", "write.bytes",
              "write.files", "stream.batches", "stream.batch_plan_s", "stream.batch_s"):
        m[k] = c.get(k, 0.0)
    if "result.rows" in c:
        m["result.rows"] = c["result.rows"]
        m["scan.rows_per_result"] = c.get("scan.rows", 0.0) / max(c["result.rows"], 1.0)
        if op["op"] == "r8_point_lookup":
            m["r8.rows_per_result"] = m["scan.rows_per_result"]
    return m


def pass_layers(ops):
    """Per-pass layer metrics: sums over the pass's ops (maxima for
    peaks; ratios recomputed from the sums)."""
    per_op = [op_layers(o) for o in ops if o.get("spans")]
    out = {}
    for m in per_op:
        for k, v in m.items():
            if k in _PEAKS:
                out[k] = max(out.get(k, 0.0), v)
            elif k not in ("trace.coverage", "scan.rows_per_result", "r8.rows_per_result"):
                out[k] = out.get(k, 0.0) + v
    out["exec.core_util"] = out.get("exec.task_busy_s", 0.0) / max(out.get("exec.s", 0.0) * CORES, 1e-9)
    results = sum(m.get("result.rows", 0.0) for m in per_op)
    scanned = sum(m.get("scan.rows", 0.0) for m in per_op if "result.rows" in m)
    out["scan.rows_per_result"] = scanned / max(results, 1.0)
    cover = [m["trace.coverage"] for m in per_op if "trace.coverage" in m]
    out["trace.coverage"] = min(cover) if cover else 0.0
    r8 = [m["r8.rows_per_result"] for m in per_op if "r8.rows_per_result" in m]
    out["r8.rows_per_result"] = median(r8) if r8 else 0.0
    return out


def run_layers(record):
    """Per-layer metrics of one traced run: the median over its traced
    passes of each per-pass value, plus the run-level ones."""
    traced = [p for p in record["passes"] if p["traced"]]
    per_pass = []
    for p in traced:
        m = pass_layers(p["ops"])
        m["jvm.gc_s"] = p["gc_s"]
        per_pass.append(m)
    keys = set().union(*per_pass) if per_pass else set()
    out = {k: median([m.get(k, 0.0) for m in per_pass]) for k in keys}
    out["session.start_s"] = record["session_start_s"]
    out["jvm.peak_rss_mb"] = record.get("peak_rss_mb") or 0.0
    # traced passes alternate with untraced ones; each is compared with
    # the mean of its untraced neighbours, so JIT warm-up over the run
    # does not read as tracing cost
    walls = [p["wall_s"] for p in record["passes"]]
    ratios = [walls[i] / ((walls[i - 1] + walls[i + 1]) / 2)
              for i, p in enumerate(record["passes"])
              if p["traced"] and 0 < i < len(walls) - 1]
    if ratios:
        out["trace.overhead"] = median(ratios)
    return out


def coverage_ok(op_metrics, tolerance=0.05):
    """The build, plan and exec spans account for the op's wall within
    `tolerance`."""
    return "trace.coverage" not in op_metrics or op_metrics["trace.coverage"] >= 1 - tolerance
