"""Turns one harness record (raw.json) into the benchmark's metrics.

End-to-end metrics come from the untraced passes. Per-layer metrics come
from the traced passes: spans (pass > query > build/plan/exec) are joined
with the Spark jobs and stages recorded beside them into one tree, and each
module's counters are summed over its queries, per pass, then the median is
taken over the traced passes.
"""
import statistics

from workloads import MODULES, SOURCES

MB = 1024.0 * 1024.0
# end-to-end metrics, with unit and the direction that is better
E2E_SPECS = [("setup_s", "s", "lower"), ("pass_s", "s", "lower")]
# per-module counters, with unit and the direction that is better
MODULE_COUNTERS = [
    ("wall_s", "s", "lower"), ("build_s", "s", "lower"),
    ("plan_s", "s", "lower"), ("exec_s", "s", "lower"),
    ("driver_s", "s", "lower"), ("jobs", "count", "lower"),
    ("tasks", "count", "lower"), ("task_busy_s", "s", "lower"),
    ("task_cpu_s", "s", "lower"), ("sched_wait_s", "s", "lower"),
    ("failed_tasks", "count", "lower"), ("driver_share", "1", "lower"),
    ("shuffle_mb", "MB", "lower"), ("spill_mb", "MB", "lower"),
    ("collect_mb", "MB", "lower"),
]
EXTRA_COUNTERS = [
    ("streaming.batches", "count", "lower"),
    ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.query_planning_ms", "ms", "lower"),
    ("streaming.wal_commit_ms", "ms", "lower"),
    ("streaming.state_commit_ms", "ms", "lower"),
    ("streaming.state_rows_peak", "count", "lower"),
    ("streaming.batch_p50_ms", "ms", "lower"),
    ("streaming.batch_tail_ms", "ms", "lower"),
    ("sources.write_mb", "MB", "lower"),
    ("sources.read_mb", "MB", "lower"),
    ("trace.overhead_s", "s", "lower"),
]
TAIL_PERCENTILES = [99.9, 99.0, 95.0, 90.0, 75.0, 50.0]


def per_layer_specs():
    """(name, unit, better) of every per-layer metric, in print order."""
    specs = [(f"{m}.{c}", u, b) for m in MODULES for c, u, b in MODULE_COUNTERS]
    return specs + EXTRA_COUNTERS


def result_line(attempted, failed, values, trace):
    """The benchmark's result object: every end-to-end metric when `trace`
    is 0, every per-layer metric when it is 1, each with its unit."""
    specs = per_layer_specs() if trace else E2E_SPECS
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {name: {"value": values[name], "unit": unit}
                        for name, unit, _ in specs}}


def percentile(values, p):
    """Linear-interpolated percentile `p` (0-100) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """The highest percentile with at least 10 samples beyond it."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= 10:
            return p
    return 50.0


def batch_latency(batches):
    """(p50, tail, tail percentile, count) of microbatch triggerExecution."""
    xs = [b["durations_ms"]["triggerExecution"] for b in batches
          if "triggerExecution" in b["durations_ms"]]
    if not xs:
        return 0.0, 0.0, None, 0
    p = tail_percentile(len(xs))
    return percentile(xs, 50), percentile(xs, p), p, len(xs)


# ---------------------------------------------------------------- span tree

class Node:
    __slots__ = ("kind", "name", "start", "end", "children", "data")

    def __init__(self, kind, name, start, end, data=None):
        self.kind, self.name = kind, name
        self.start, self.end = start, end
        self.children = []
        self.data = data or {}

    @property
    def duration(self):
        return max(0.0, self.end - self.start)


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(node):
    """Time in `node` not covered by any of its children."""
    return node.duration - covered(
        [(c.start, c.end) for c in node.children], node.start, node.end)


def walk(node):
    yield node
    for c in node.children:
        yield from walk(c)


def build_tree(raw):
    """Returns {pass number: pass Node} for every pass in `raw`, with jobs and
    stages hung under the span that launched them. Times are in seconds."""
    nodes, roots = {}, {}
    for s in sorted(raw["spans"], key=lambda s: s["id"]):
        n = Node(s["kind"], s["name"], s["start_us"] / 1e6, s["end_us"] / 1e6,
                 {"pass": s["pass"], "id": s["id"]})
        nodes[s["id"]] = n
        if s["parent"] in nodes:
            nodes[s["parent"]].children.append(n)
        else:
            roots[s["pass"]] = n
    # a stream's jobs carry the stream's run id as their group; its batches
    # record the span that started the stream
    run_span = {b["run_id"]: b["span"] for b in raw["batches"] if b["span"] >= 0}
    leaves = [n for n in nodes.values() if n.kind in ("build", "plan", "exec")]

    def owner(job):
        g = job.get("group") or ""
        if g.startswith("span-") and int(g[5:]) in nodes:
            return nodes[int(g[5:])]
        if g in run_span and run_span[g] in nodes:
            return nodes[run_span[g]]
        t = job["start_ms"] / 1e3
        inside = [n for n in leaves if n.start <= t <= n.end]
        return inside[0] if inside else None

    stages = {}
    for st in raw["stages"]:
        stages.setdefault(st["stage"], []).append(st)
    seen = set()
    for job in sorted(raw["jobs"], key=lambda j: j["job"]):
        parent = owner(job)
        if parent is None:
            continue
        start = job["start_ms"] / 1e3
        jn = Node("job", str(job["job"]), start,
                  job.get("end_ms", job["start_ms"]) / 1e3, job)
        parent.children.append(jn)
        for sid in job["stages"]:
            if sid in seen:
                continue
            seen.add(sid)
            for st in stages.get(sid, []):
                if "start_ms" not in st:
                    continue
                jn.children.append(Node(
                    "stage", str(sid), st["start_ms"] / 1e3,
                    st.get("end_ms", st["start_ms"]) / 1e3, st))
    return roots


def module_counters(query_nodes, nproc):
    """The per-module counters over one module's query nodes of one pass."""
    c = {k: 0.0 for k, _, _ in MODULE_COUNTERS}
    read_b = write_b = 0
    for q in query_nodes:
        c["wall_s"] += q.duration
        for n in walk(q):
            if n.kind in ("build", "plan", "exec"):
                c[f"{n.kind}_s"] += n.duration
            if n.kind in ("query", "build", "plan", "exec"):
                c["driver_s"] += self_time(n)
            elif n.kind == "job":
                c["jobs"] += 1
            elif n.kind == "stage":
                d = n.data
                c["tasks"] += d["tasks"]
                c["failed_tasks"] += d["failed_tasks"]
                c["task_busy_s"] += d["busy_ms"] / 1e3
                c["task_cpu_s"] += d["cpu_ns"] / 1e9
                c["sched_wait_s"] += d["sched_ms"] / 1e3
                c["shuffle_mb"] += d["shuffle_write_b"] / MB
                c["spill_mb"] += d["spill_b"] / MB
                c["collect_mb"] += d["result_b"] / MB
                read_b += d["input_b"]
                write_b += d["output_b"]
    if c["wall_s"] > 0:
        c["driver_share"] = 1.0 - c["task_busy_s"] / (nproc * c["wall_s"])
    return c, read_b / MB, write_b / MB


def per_layer(raw, modules):
    """Per-layer metrics of a traced run: medians over the traced passes.
    `modules` maps query name to module. Also returns the self-time check:
    in every traced pass, module self times sum to at most the pass wall."""
    traced = {p["pass"] for p in raw["passes"] if p["traced"]}
    roots = build_tree(raw)
    rows, checks = [], []
    for pnum in sorted(traced):
        root = roots[pnum]
        row = {}
        by_module = {m: [] for m in MODULES}
        for q in root.children:
            by_module[modules[q.name]].append(q)
        for m in MODULES:
            c, read_mb, write_mb = module_counters(by_module[m], raw["nproc"])
            for k, v in c.items():
                row[f"{m}.{k}"] = v
            if m == SOURCES:
                row["sources.read_mb"], row["sources.write_mb"] = read_mb, write_mb
        # queries run one after another, so the modules' shares of the pass
        # (their queries' spans) and the pass's own self time add up to it
        module_time = sum(row[f"{m}.wall_s"] for m in MODULES)
        checks.append(module_time + self_time(root) <= root.duration + 1e-6)
        bs = [b for b in raw["batches"] if b["pass"] == pnum]
        row["streaming.batches"] = len(bs)
        for key, phase in (("add_batch_ms", "addBatch"),
                           ("query_planning_ms", "queryPlanning"),
                           ("wal_commit_ms", "walCommit")):
            row[f"streaming.{key}"] = sum(b["durations_ms"].get(phase, 0) for b in bs)
        row["streaming.state_commit_ms"] = sum(b["state_commit_ms"] for b in bs)
        row["streaming.state_rows_peak"] = max(
            [b["state_rows"] for b in bs], default=0)
        rows.append(row)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    untraced_batches = [b for b in raw["batches"]
                        if b["pass"] > 0 and b["pass"] not in traced]
    p50, tail, _, _ = batch_latency(untraced_batches)
    out["streaming.batch_p50_ms"] = p50
    out["streaming.batch_tail_ms"] = tail
    out["trace.overhead_s"] = trace_overhead(raw["passes"])
    return out, all(checks)


def trace_overhead(passes):
    """Median over traced passes of its wall time minus the mean of the
    untraced passes just before and after it (a linear drift cancels)."""
    wall = {p["pass"]: p["wall_s"] for p in passes}
    diffs = [wall[p["pass"]] - (wall[p["pass"] - 1] + wall[p["pass"] + 1]) / 2
             for p in passes if p["traced"]
             and p["pass"] - 1 in wall and p["pass"] + 1 in wall]
    return statistics.median(diffs) if diffs else 0.0
