"""Self times and per-layer metrics from a traced run's spans.

The JVM side records, for each traced operation, an `op` span with
child spans around each call into graft (`construct`, `execute`,
`runner`), the Spark jobs submitted under each (with the merged
intervals in which their tasks ran), and the Catalyst phases of every
query execution. Self time is computed by a sweep: every instant of an
operation belongs to the deepest layer open at that instant, so the
layers' self times sum to the operation's wall time.
"""
import statistics
from collections import defaultdict

LAYERS = ["construct", "construct_jobs", "plan", "codegen", "scheduler",
          "executor", "shuffle", "other"]

# sweep priority: a deeper layer wins the instant
_PRIO = {"other": 0, "construct": 1, "call": 1, "plan": 2,
         "construct_jobs": 3, "sched": 3, "exec": 4}


def self_times(start, end, items):
    """Attribute [start, end] to labelled intervals.

    `items` are (start, end, label); each instant goes to the active
    label of highest priority (`_PRIO`), instants covered by none go to
    "other". Intervals are clipped to [start, end], so the returned
    {label: ms} sums to end - start."""
    bounds = {start, end}
    clipped = []
    for a, b, label in items:
        a, b = max(a, start), min(b, end)
        if b > a:
            clipped.append((a, b, label))
            bounds.update((a, b))
    out = defaultdict(float)
    pts = sorted(bounds)
    for lo, hi in zip(pts, pts[1:]):
        best = "other"
        for a, b, label in clipped:
            if a <= lo and hi <= b and _PRIO[label] > _PRIO[best]:
                best = label
        out[best] += hi - lo
    return dict(out)


def _contains(span, t):
    return span["start"] <= t <= span["end"]


def op_layers(op_span, children, jobs, plans):
    """Layer self times (ms) of one operation, with the facts the
    per-layer metrics need."""
    kind_of = {c["id"]: c["kind"] for c in children}
    items = []
    for c in children:
        items.append((c["start"], c["end"],
                      "construct" if c["kind"] == "construct" else "call"))
    for p in plans:
        items.append((p["start"], p["end"], "plan"))
    run_ms = shuffle_ms = 0.0
    for j in jobs:
        end = j["end"] if j["end"] >= 0 else op_span["end"]
        in_construct = kind_of.get(j["parent"]) == "construct"
        items.append((j["start"], end, "construct_jobs" if in_construct else "sched"))
        for a, b in j["busy"]:
            items.append((a, b, "construct_jobs" if in_construct else "exec"))
        if not in_construct:
            m = j["metrics"]
            run_ms += m.get("run_ms", 0.0)
            shuffle_ms += m.get("sh_w_ms", 0.0) + m.get("fetch_wait_ms", 0.0)
    t = self_times(op_span["start"], op_span["end"], items)
    # executor time splits by the share of task time spent writing or
    # waiting for shuffle blocks; time in execute/runner calls outside
    # jobs and plans by the codegen compile milliseconds measured during
    # the operation
    share = min(1.0, shuffle_ms / run_ms) if run_ms > 0 else 0.0
    exec_ms = t.get("exec", 0.0)
    call = t.get("call", 0.0)
    codegen = min(call, op_span.get("counters", {}).get("codegen_ms", 0.0))
    return {
        "construct": t.get("construct", 0.0),
        "construct_jobs": t.get("construct_jobs", 0.0),
        "plan": t.get("plan", 0.0),
        "codegen": codegen,
        "scheduler": t.get("sched", 0.0) + call - codegen,
        "executor": exec_ms * (1.0 - share),
        "shuffle": exec_ms * share,
        "other": t.get("other", 0.0),
    }, t


def _innermost(spans, t):
    inside = [s for s in spans if _contains(s, t)]
    return max(inside, key=lambda s: s["start"]) if inside else None


def analyse(result, trace):
    """Per traced operation: its spans, jobs, plans and layer split."""
    spans = {s["id"]: s for s in trace["spans"]}
    children = defaultdict(list)
    for s in trace["spans"]:
        children[s["parent"]].append(s)
    traced = [o for o in result["ops"] if o["traced"]]
    op_spans = [spans[o["span"]] for o in traced]
    # a job whose submitting span is unknown, and every planning phase,
    # belongs to the traced span that contains its start
    by_op = defaultdict(lambda: {"jobs": [], "plans": []})
    owner = {}
    for s in op_spans:
        owner[s["id"]] = s["id"]
        for c in children[s["id"]]:
            owner[c["id"]] = s["id"]
    for j in trace["jobs"]:
        op = owner.get(j["parent"])
        if op is None:
            s = _innermost(op_spans, j["start"])
            op = s["id"] if s else None
        if op is not None:
            by_op[op]["jobs"].append(j)
    for p in trace["plans"]:
        s = _innermost(op_spans, p["start"])
        if s is not None:
            by_op[s["id"]]["plans"].append(p)
    out = []
    for o, s in zip(traced, op_spans):
        d = by_op[s["id"]]
        layers, raw = op_layers(s, children[s["id"]], d["jobs"], d["plans"])
        out.append({"op": o, "span": s, "children": children[s["id"]],
                    "jobs": d["jobs"], "plans": d["plans"],
                    "layers": layers, "sweep": raw})
    return out


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer_metrics(result, analysed, extra):
    """Every per-layer metric of BENCHMARK.json; `extra` carries the
    ones computed outside the trace (overhead, failures, checks)."""
    cpus = result["cpus"]
    ops = analysed

    def job_sum(key, pred=lambda a, j: True):
        return _mean(sum(j["metrics"].get(key, 0.0) for j in a["jobs"] if pred(a, j))
                     for a in ops)

    def kind(a, j):
        return {c["id"]: c for c in a["children"]}.get(j["parent"], {})

    def under(k, name=None):
        return lambda a, j: kind(a, j).get("kind") == k and (
            name is None or kind(a, j).get("name") == name)

    def span_ms(pred):
        return _mean(sum(c["end"] - c["start"] for c in a["children"] if pred(c))
                     for a in ops)

    def plan_ms(phase):
        return _mean(sum(p["end"] - p["start"] for p in a["plans"]
                         if p["phase"] == phase) for a in ops)

    tasks = sum(j["tasks"] for a in ops for j in a["jobs"])
    delay = sum(j["metrics"].get("delay_ms", 0.0) for a in ops for j in a["jobs"])
    wall = sum(a["span"]["end"] - a["span"]["start"] for a in ops)
    run_ms = sum(j["metrics"].get("run_ms", 0.0) for a in ops for j in a["jobs"])
    setup = result["setup_counters"]
    m = {
        "session.boot_ms": result["boot_ms"],
        "codegen.compile_ms": setup["codegen_ms"],
        "codegen.classes": setup["codegen_classes"],
        "jvm.jit_ms": setup["jit_ms"],
        "jvm.gc_ms": _mean(a["span"]["counters"].get("gc_ms", 0.0) for a in ops),
        "construct.ms": span_ms(lambda c: c["kind"] == "construct"),
        "construct.jobs": _mean(sum(1 for j in a["jobs"] if under("construct")(a, j))
                                for a in ops),
        "construct.job_ms": _mean(a["layers"]["construct_jobs"] for a in ops),
        "plan.analysis_ms": plan_ms("analysis"),
        "plan.optimization_ms": plan_ms("optimization"),
        "plan.planning_ms": plan_ms("planning"),
        "sched.jobs": _mean(len(a["jobs"]) for a in ops),
        "sched.stages": _mean(sum(j["stages"] for j in a["jobs"]) for a in ops),
        "sched.tasks": _mean(sum(j["tasks"] for j in a["jobs"]) for a in ops),
        "sched.task_delay_ms": delay / tasks if tasks else 0.0,
        "sched.idle_ms": _mean(a["sweep"].get("other", 0.0) + a["sweep"].get("call", 0.0)
                               for a in ops),
        "executor.run_ms": job_sum("run_ms"),
        "executor.cpu_ms": job_sum("cpu_ms"),
        "executor.gc_ms": job_sum("gc_ms"),
        "executor.busy_ratio": run_ms / (wall * cpus) if wall else 0.0,
        "scan.input_bytes": job_sum("in_bytes"),
        "scan.input_rows": job_sum("in_rows"),
        "shuffle.write_bytes": job_sum("sh_w_bytes"),
        "shuffle.read_bytes": job_sum("sh_r_bytes"),
        "shuffle.fetch_wait_ms": job_sum("fetch_wait_ms"),
        "spill.disk_bytes": job_sum("spill_disk"),
        "runner.ms": span_ms(lambda c: c["kind"] == "runner"),
        "runner.jobs": _mean(sum(1 for j in a["jobs"] if under("runner")(a, j))
                             for a in ops),
        "store.merge_ms": span_ms(lambda c: c["name"] == "store"),
        "store.write_bytes": job_sum("out_bytes", under("execute", "store")),
        "store.rows": job_sum("out_rows", under("execute", "store")),
    }
    m.update(extra)
    return m


def pass_table(result, analysed):
    """Mean layer split of one pass: each operation of the pass at the
    mean of its traced instances."""
    by_name = defaultdict(list)
    for a in analysed:
        by_name[a["op"]["name"]].append(a)
    names = [result["ops"][i]["name"] for i in range(result["ops_per_pass"])]
    rows = {layer: 0.0 for layer in LAYERS}
    wall = 0.0
    for name in names:
        inst = by_name.get(name, [])
        if not inst:
            continue
        wall += _mean(a["span"]["end"] - a["span"]["start"] for a in inst)
        for layer in LAYERS:
            rows[layer] += _mean(a["layers"][layer] for a in inst)
    return wall, rows


def layer_markdown(workload, seed, result, analysed, overhead):
    wall, rows = pass_table(result, analysed)
    n_ops = len(analysed)
    lines = [
        f"# {workload}: one pass split into layers",
        "",
        f"Traced run, seed {seed}, local[{result['cpus']}], "
        f"{n_ops} traced operations. Each operation of the pass is taken "
        f"at the mean of its traced instances. Self times: every instant "
        f"of an operation goes to the deepest layer open at that instant, "
        f"so the rows sum to the traced pass. Tracing overhead in this "
        f"run: {overhead:+.1f}% (trace.overhead_pct).",
        "",
        "| layer | ms per pass | share |",
        "| --- | ---: | ---: |",
    ]
    for layer in LAYERS:
        share = rows[layer] / wall if wall else 0.0
        lines.append(f"| {layer} | {rows[layer]:.1f} | {share:.1%} |")
    lines.append(f"| **traced pass** | {wall:.1f} | 100.0% |")
    return "\n".join(lines) + "\n"


def overhead_pct(ops):
    """Traced vs untraced wall of the same operations: the median over
    operation names of mean traced / mean untraced, minus one, in %."""
    walls = defaultdict(lambda: ([], []))
    for o in ops:
        walls[o["name"]][0 if o["traced"] else 1].append(o["wall_ms"])
    ratios = [_mean(t) / _mean(u) for t, u in walls.values() if t and u]
    return (statistics.median(ratios) - 1.0) * 100.0 if ratios else 0.0
