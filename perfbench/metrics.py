"""Pure helpers of the benchmark: percentiles under the ten-beyond rule,
per-call medians, span self time, per-pass layer aggregation and the
result printer."""
import json
import math
import statistics

# End-to-end metrics: (name, unit). Every workload reports all of them.
# Per-call latencies go to the run record instead: with six or seven calls
# a run their median hops between calls from one seed's order to the next.
END_TO_END = [
    ("setup_s", "s"),
    ("first_pass_s", "s"),
    ("repeat_pass_s", "s"),
    ("retained_heap_mb", "MB"),
]

# Per-pass layer metrics, reported as the median over the first passes in
# fresh sessions ("first.") and over the repeat passes ("repeat.").
PASS_LAYERS = [
    ("queries.build_s", "s"), ("queries.action_s", "s"),
    ("queries.eager_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.executions", "count"),
    ("codegen.compiles", "count"), ("codegen.compile_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.stages_skipped", "count"), ("exec.tasks", "count"),
    ("exec.task_wait_s", "s"), ("exec.deser_s", "s"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.busy_ratio", "ratio"), ("exec.peak_mem_mb", "MB"),
    ("exec.result_mb", "MB"), ("exec.failed_tasks", "count"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.fetch_wait_s", "s"), ("spill.disk_mb", "MB"),
    ("scan.input_mb", "MB"), ("scan.rows", "count"), ("output.mb", "MB"),
    ("caches.storage_mb", "MB"), ("caches.rdds", "count"),
    ("stream.batches", "count"), ("stream.trigger_s", "s"),
    ("stream.addbatch_s", "s"), ("stream.planning_s", "s"),
    ("stream.log_commit_s", "s"), ("stream.state_commit_s", "s"),
    ("stream.state_rows", "count"), ("stream.state_mb", "MB"),
    ("mr.write_s", "s"), ("mr.read_s", "s"), ("mr.pipe_s", "s"),
    ("mr.closure_s", "s"), ("bench.self_s", "s"),
]

# Per-run layer metrics.
RUN_LAYERS = [
    ("session.build_s", "s"), ("tables.resolve_s", "s"),
    ("session.fresh_s", "s"),
    ("cold.pass_s", "s"), ("cold.codegen.compiles", "count"),
    ("cold.codegen.compile_s", "s"), ("cold.queries.build_s", "s"),
    ("cold.queries.action_s", "s"),
    ("caches.fill_s", "s"), ("mr.chunks", "count"),
    ("mr.stored_bytes_ratio", "ratio"),
    ("mr.write_mb_per_s", "MB/s"), ("mr.read_mb_per_s", "MB/s"),
    ("mr.pipe_mb_per_s", "MB/s"), ("mr.closure_mb_per_s", "MB/s"),
] + [(f"trace.overhead.{n}", u) for n, u in END_TO_END]

PER_LAYER = ([(f"first.{n}", u) for n, u in PASS_LAYERS] +
             [(f"repeat.{n}", u) for n, u in PASS_LAYERS] + RUN_LAYERS)

# spans the harness opens around each verb, by layer metric
VERB_SPANS = {"mr.write": "mr.write_s", "mr.read": "mr.read_s",
              "mr.pipe": "mr.pipe_s", "mr.closure": "mr.closure_s"}
PEAK_KEYS = {"exec.peak_mem_mb"}


def beyond(n, q):
    """Samples strictly above the nearest-rank q-percentile of n samples."""
    return n - math.ceil(q * n)


def percentile(values, q):
    """Nearest-rank q-percentile, or None unless at least ten samples lie
    beyond it. The median (q = 0.5) is always reported, interpolated."""
    v = sorted(values)
    if not v:
        return None
    if q == 0.5:
        return statistics.median(v)
    if beyond(len(v), q) < 10:
        return None
    return v[math.ceil(q * len(v)) - 1]


def tail(values, qs=(0.99, 0.95, 0.9, 0.8)):
    """The highest percentile with ten samples beyond it, as
    {"q", "value", "n"}, or None when there are too few samples."""
    for q in qs:
        p = percentile(values, q)
        if p is not None:
            return {"q": q, "value": p, "n": len(values)}
    return None


def call_times(result):
    """{call name: {pass kind: [seconds, in pass order]}}."""
    kind = {p["pass"]: p["kind"] for p in result["passes"]}
    by = {}
    for c in sorted(result["calls"], key=lambda c: c["pass"]):
        by.setdefault(c["name"], {}).setdefault(
            kind[c["pass"]], []).append(c["seconds"])
    return by


def pass_median(result, kind):
    """A pass of `kind` as the sum over calls of each call's median time
    in the passes of that kind, so a stall that hits one call in one pass
    does not move it."""
    return sum(statistics.median(t[kind])
               for t in call_times(result).values())


def self_times(spans):
    """Span id -> its duration minus the part its children cover."""
    own = {s["id"]: s["seconds"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["seconds"]
    return own


def self_by_kind(spans):
    """Total self time per span kind."""
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s["kind"]] = out.get(s["kind"], 0.0) + own[s["id"]]
    return out


def pass_layers(result, cores):
    """One dict of PASS_LAYERS values per pass, in pass order."""
    spans = result["spans"]
    own = self_times(spans)
    counters = {int(k): v for k, v in result["layers"].items()}
    rows = []
    for p in result["passes"]:
        row = {n: 0.0 for n, _ in PASS_LAYERS}
        calls = [s for s in spans if s["kind"] == "call" and s["pass"] == p["pass"]]
        ids = {s["id"] for s in calls}
        row["bench.self_s"] = own[p["span"]] + sum(own[i] for i in ids)
        for s in spans:
            if s["parent"] not in ids:
                continue
            if s["kind"] == "build":
                row["queries.build_s"] += s["seconds"]
            elif s["kind"] == "action":
                row["queries.action_s"] += s["seconds"]
            elif s["name"] in VERB_SPANS:
                row[VERB_SPANS[s["name"]]] += s["seconds"]
        for c in calls:
            for k, v in counters.get(c["id"], {}).items():
                if k in PEAK_KEYS:
                    row[k] = max(row[k], v)
                elif k in row:
                    row[k] += v
        for k in ("codegen.compiles", "codegen.compile_s", "caches.rdds",
                  "caches.storage_mb"):
            row[k] = p[k]
        row["exec.busy_ratio"] = row["exec.task_run_s"] / (p["seconds"] * cores)
        rows.append(row)
    return rows


def median_rows(rows):
    """Per-key median over a list of equally keyed dicts."""
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def metric_block(values, spec):
    """{"name": {"value": v, "unit": u}} for every (name, unit) in spec, in
    spec order; a name missing from `values` is an error."""
    return {n: {"value": values[n], "unit": u} for n, u in spec}


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last stdout line."""
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})
