"""Pure parts of the benchmark: medians, span self time, the metrics a
pass yields, and the rendered result line. No I/O, no Spark; run.py
feeds them the harness's raw measurements.

Times inside a pass are nanoseconds on the JVM's monotonic clock.
"""
import json
import math
import re

NAME = re.compile(r"[A-Za-z0-9_.-]+")
MB = float(1 << 20)
END_TO_END = [  # (name, unit); all lower-is-better
    ("setup_s", "s"), ("first_pass_s", "s"), ("delivered_s", "s"),
    ("executor_cpu_s", "s"), ("peak_task_mem_mb", "MB"),
]

# The layer a query's build span bills, and the end-to-end metric a
# change in that layer should move.
MODULES = {
    "sql": "delivered_s and first_pass_s on tpch_sql",
    "text": "delivered_s and executor_cpu_s on llm_curate",
    "vec": "delivered_s and executor_cpu_s on llm_curate",
    "pipeline": "delivered_s and executor_cpu_s on llm_curate",
    "io": "delivered_s on llm_curate",
    "stream": "delivered_s on llm_curate",
}
EXEC_LLM = "executor_cpu_s and peak_task_mem_mb on llm_curate"
IO = "delivered_s on llm_curate; tpch_sql unmoved"

# Per-layer metric -> (unit, better, the end-to-end metric it should move
# and on which workload). The traced run reports every one of them.
PER_LAYER = {
    "config.release_s": ("s", "lower", "delivered_s on llm_curate"),
    **{f"{m}.{k}": (u, "lower", e2e) for m, e2e in MODULES.items()
       for k, u in (("build_s", "s"), ("build_jobs", "count"), ("build_cpu_s", "s"))},
    "build.job_frac": ("ratio", "lower", "delivered_s on llm_curate and tpch_sql"),
    "pin.rdds": ("count", "lower", "peak_task_mem_mb and delivered_s on llm_curate"),
    "pin.mb": ("MB", "lower", "peak_task_mem_mb and delivered_s on llm_curate"),
    "plan.analysis_s": ("s", "lower", "first_pass_s on tpch_sql"),
    "plan.optimization_s": ("s", "lower", "first_pass_s on tpch_sql"),
    "plan.planning_s": ("s", "lower", "first_pass_s on tpch_sql"),
    "plan.nodes": ("count", "lower", "first_pass_s on tpch_sql"),
    "exec.s": ("s", "lower", "delivered_s on tpch_sql"),
    "exec.jobs": ("count", "lower", "delivered_s on tpch_sql"),
    "exec.stages": ("count", "lower", "delivered_s on tpch_sql"),
    "exec.tasks": ("count", "lower", "delivered_s on tpch_sql"),
    "exec.busy_frac": ("ratio", "higher", "delivered_s on tpch_sql"),
    "exec.cpu_s": ("s", "lower", EXEC_LLM),
    "exec.gc_s": ("s", "lower", EXEC_LLM),
    "exec.shuffle_write_mb": ("MB", "lower", EXEC_LLM),
    "exec.shuffle_read_mb": ("MB", "lower", EXEC_LLM),
    "exec.spill_mb": ("MB", "lower", EXEC_LLM),
    "exec.task_skew": ("ratio", "lower", EXEC_LLM),
    "io.read_mb": ("MB", "lower", IO),
    "io.write_mb": ("MB", "lower", IO),
    "io.records_written": ("count", "lower", IO),
    "io.files_written": ("count", "lower", IO),
    "stream.batches": ("count", "lower", "delivered_s on llm_curate"),
    "stream.batch_s": ("s", "lower", "delivered_s on llm_curate"),
    "stream.empty_batch_frac": ("ratio", "lower", "delivered_s on llm_curate"),
    "stream.state_rows": ("count", "lower", "delivered_s on llm_curate"),
    "trace.overhead_s": ("s", "lower", "none: traced minus untraced delivered_s"),
    "trace.unattributed_jobs": ("count", "lower", "none: jobs no span claimed, 0 expected"),
    "trace.span_coverage": ("ratio", "higher", "none: worst query's share of wall in spans"),
    "trace.query_self_s": ("s", "lower", "none: query wall outside build/plan/exec/release"),
}


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of nothing")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def covered(start, end, intervals):
    """Length of [start, end) that the union of `intervals` covers."""
    total, reach = 0, start
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, end)
        if e > s:
            total += e - s
            reach = e
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end_ns"] - span["start_ns"]) - covered(
        span["start_ns"], span["end_ns"],
        [(c["start_ns"], c["end_ns"]) for c in children])


def dur_s(span):
    return (span["end_ns"] - span["start_ns"]) / 1e9


def pass_totals(p):
    """The untraced metrics of one pass: wall, executor CPU, peak memory."""
    jobs = p["jobs"]
    return {"wall_s": p["wall_s"],
            "cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
            "peak_mb": max((j["peak_mem"] for j in jobs), default=0) / MB}


def build_jobs(p):
    """Jobs a pass ran inside pack functions, before results were asked for."""
    ids = {s["id"] for s in p["spans"] if s["name"] == "build"}
    return [j for j in p["jobs"] if j["span"] in ids]


def io_jobs(p, modules):
    """Jobs the io layer's pack functions ran in a pass. `modules` maps
    each query to the layer its build span bills."""
    ids = {s["id"] for s in p["spans"] if s["name"] == "build" and modules[s["query"]] == "io"}
    return [j for j in p["jobs"] if j["span"] in ids]


def written_mb(p, modules):
    """Bytes the io layer wrote in a pass (the sink writes none, and
    other layers' staging writes are left out)."""
    return sum(j["bytes_written"] for j in io_jobs(p, modules)) / MB


def plan_spans(deliver, jobs, plans, epoch_offset_ns):
    """The planning phases of the QueryExecution the delivered action
    ran, as child spans of the deliver span."""
    ids = {j["exec_id"] for j in jobs if j["span"] == deliver["id"]}
    out = []
    for p in plans:
        if p["exec_id"] in ids:
            for ph in p["phases"]:
                s = ph["start_ms"] * 1000000 - epoch_offset_ns
                e = ph["end_ms"] * 1000000 - epoch_offset_ns
                out.append({"name": ph["name"], "start_ns": max(s, deliver["start_ns"]),
                            "end_ns": min(max(e, s), deliver["end_ns"])})
    return out, [p for p in plans if p["exec_id"] in ids]


def layers(p, modules, cores, epoch_offset_ns):
    """Per-layer metrics of one traced pass. `modules` maps each query to
    the layer its build span bills."""
    spans, jobs = p["spans"], p["jobs"]
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in spans}
    of = lambda name: [s for s in spans if s["name"] == name]
    m = {k: 0.0 for k in PER_LAYER}

    def jobs_in(ids):
        return [j for j in jobs if j["span"] in ids]

    builds = of("build")
    for mod in MODULES:
        ids = {s["id"] for s in builds if modules[s["query"]] == mod}
        js = jobs_in(ids)
        m[f"{mod}.build_s"] = sum(dur_s(by_id[i]) for i in ids)
        m[f"{mod}.build_jobs"] = len(js)
        m[f"{mod}.build_cpu_s"] = sum(j["cpu_ns"] for j in js) / 1e9
    built = build_jobs(p)
    delivers = of("deliver")
    dj = jobs_in({s["id"] for s in delivers})
    m["config.release_s"] = sum(dur_s(s) for s in of("release"))
    m["build.job_frac"] = len(built) / max(1, len(built) + len(dj))
    m["pin.rdds"] = sum(q["pin_rdds"] for q in p["queries"] if q["pin_rdds"] > 0)
    m["pin.mb"] = sum(q["pin_bytes"] for q in p["queries"] if q["pin_bytes"] > 0) / MB

    exec_ns = 0
    for d in delivers:
        phases, recs = plan_spans(d, jobs, p["plans"], epoch_offset_ns)
        exec_ns += self_time(d, phases)
        for ph in phases:
            key = f"plan.{ph['name']}_s"
            if key in m:
                m[key] += (ph["end_ns"] - ph["start_ns"]) / 1e9
        m["plan.nodes"] += sum(r["nodes"] for r in recs)
    m["exec.s"] = exec_ns / 1e9
    m["exec.jobs"] = len(dj)
    m["exec.stages"] = sum(j["stages"] for j in dj)
    m["exec.tasks"] = sum(j["tasks"] for j in dj)
    deliver_s = sum(dur_s(d) for d in delivers)
    m["exec.busy_frac"] = sum(j["run_ms"] for j in dj) / 1e3 / max(1e-9, deliver_s * cores)
    m["exec.cpu_s"] = sum(j["cpu_ns"] for j in dj) / 1e9
    m["exec.gc_s"] = sum(j["gc_ms"] for j in dj) / 1e3
    m["exec.shuffle_write_mb"] = sum(j["shuffle_write"] for j in dj) / MB
    m["exec.shuffle_read_mb"] = sum(j["shuffle_read"] for j in dj) / MB
    m["exec.spill_mb"] = sum(j["spill"] for j in dj) / MB
    m["exec.task_skew"] = max((j["skew"] for j in dj), default=1.0)

    m["io.read_mb"] = sum(j["bytes_read"] for j in jobs) / MB
    m["io.write_mb"] = written_mb(p, modules)
    m["io.records_written"] = sum(j["records_written"] for j in io_jobs(p, modules))
    m["io.files_written"] = p["files_written"]

    batches = p["batches"]
    m["stream.batches"] = len(batches)
    m["stream.batch_s"] = sum(b["duration_ms"] for b in batches) / 1e3
    m["stream.empty_batch_frac"] = (
        sum(1 for b in batches if b["input_rows"] == 0) / len(batches) if batches else 0.0)
    last_state = {}
    for b in batches:
        last_state[b["run"]] = b["state_rows"]
    m["stream.state_rows"] = sum(last_state.values())

    m["trace.unattributed_jobs"] = sum(1 for j in jobs if j["span"] < 0)
    queries = of("query")
    m["trace.query_self_s"] = sum(self_time(q, by_parent.get(q["id"], [])) for q in queries) / 1e9
    m["trace.span_coverage"] = min(
        (1 - self_time(q, by_parent.get(q["id"], [])) / max(1, q["end_ns"] - q["start_ns"])
         for q in queries), default=1.0)
    return m


def check_name(name):
    if not NAME.fullmatch(name) or len(name) > 64:
        raise ValueError(f"bad metric name {name!r}")
    return name


def render(correct, attempted, failed, metrics):
    """The result line: `metrics` maps a name to (value, unit)."""
    out = {}
    for name, (value, unit) in metrics.items():
        check_name(name)
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} is not a finite number: {value!r}")
        out[name] = {"value": value, "unit": unit}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": out})
