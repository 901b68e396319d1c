"""Turns the harness's run.json into metrics: end-to-end from the
untraced laps, per-layer from the traced laps and their spans."""
import statistics
from collections import defaultdict

MB = 1048576.0


def percentile(values, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def quartiles(values):
    return [percentile(values, p) for p in (25, 50, 75)]


def slowdowns(execs):
    """Each execution's wall time over its query's median wall time."""
    by_query = defaultdict(list)
    for e in execs:
        by_query[e["query"]].append(e["wall_s"])
    out = []
    for walls in by_query.values():
        med = statistics.median(walls)
        out.extend(w / med for w in walls)
    return out


def _union_length(intervals):
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """{layer: seconds} of each span's duration minus the part of its
    interval that its children cover (clipped to the span)."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = defaultdict(float)
    for s in spans:
        covered = _union_length([(max(c["start"], s["start"]), min(c["end"], s["end"]))
                                 for c in children[s["id"]] if c["end"] > c["start"]])
        out[s["layer"]] += max(0.0, s["end"] - s["start"] - covered) / 1e3
    return dict(out)


def overhead(traced_laps, untraced_laps):
    """Relative cost of tracing: median traced lap over median untraced lap, minus 1."""
    return statistics.median(traced_laps) / statistics.median(untraced_laps) - 1.0


def lap_number(lap_span):
    """The harness names lap spans `lap <n>`."""
    return int(lap_span["name"].split()[1])


class SpanTree:
    def __init__(self, spans):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}

    def ancestor(self, span, layer):
        while span is not None and span["layer"] != layer:
            span = self.by_id.get(span["parent"])
        return span

    def under(self, layer):
        """Spans grouped by the id of their ancestor of `layer`."""
        out = defaultdict(list)
        for s in self.spans:
            a = self.ancestor(s, layer)
            if a is not None:
                out[a["id"]].append(s)
        return out


def end_to_end(run, spawn_ms):
    timed = [l for l in run["laps"] if l["lap"] > 0 and not l["traced"]]
    laps = [l["wall_s"] for l in timed]
    execs = [e for e in run["execs"] if e["lap"] in {l["lap"] for l in timed}]
    return {
        "setup_s": (run["first_lap_ms"] - spawn_ms) / 1e3,
        "setup.session_s": (run["session_ready_ms"] - spawn_ms) / 1e3,
        "setup.warm_lap_s": next(l["wall_s"] for l in run["laps"] if l["lap"] == 0),
        "lap_s": statistics.median(laps),
        "lap_s.quartiles": quartiles(laps),
        "lap_s.count": len(laps),
        "laps_s": [l["wall_s"] for l in run["laps"]],
        "query_slowdown.p90": percentile(slowdowns(execs), 90),
        "query_slowdown.count": len(execs),
        "heap_live_mb": run["heap_live_mb"],
    }


def leak_probes(run):
    laps = sorted(run["laps"], key=lambda l: l["lap"])
    steps = list(zip(laps, laps[1:]))

    def growth(key, scale=1.0):
        return statistics.median([(b[key] - a[key]) / scale for a, b in steps]) if steps else 0.0
    return {
        "scratch_mb_per_lap": growth("scratch_bytes", MB),
        "core.scratch_mb": laps[-1]["scratch_bytes"] / MB,
        "core.shutdown_hooks": growth("shutdown_hooks"),
        "core.cached_blocks_after_release": max(l["cached_blocks"] for l in laps),
        "core.conf_drift": max(l["conf_drift"] for l in laps),
        "plans.codegen_compile_ms": statistics.median(l["codegen_ms"] for l in laps[1:]) if steps else 0.0,
        "plans.codegen_setup_ms": run["codegen_setup_ms"],
    }


LAYERS = ["lap", "query", "operators.build", "spark.action", "spark.job", "spark.stage",
          "catalyst.analysis", "catalyst.optimization", "catalyst.planning", "streaming.batch"]


def per_lap_layers(run):
    """{lap: {metric: value}} for every traced lap, from its spans."""
    tree = SpanTree(run["spans"])
    walls = {l["lap"]: l["wall_s"] for l in run["laps"]}
    out = {}
    for lap_id, spans in tree.under("lap").items():
        n = lap_number(tree.by_id[lap_id])
        jobs = [s for s in spans if s["layer"] == "spark.job"]
        stages = [s["attrs"] for s in spans if s["layer"] == "spark.stage"]
        batches = [s["attrs"] for s in spans if s["layer"] == "streaming.batch"]
        tot = lambda k: sum(a[k] for a in stages)
        tasks = tot("tasks")
        trig = sum(b["trigger_ms"] for b in batches) / 1e3
        m = {
            "operators.build_s": sum((s["end"] - s["start"]) / 1e3 for s in spans
                                     if s["layer"] == "operators.build"),
            "operators.build_jobs": sum(1 for j in jobs if tree.ancestor(j, "operators.build")),
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": tasks,
            "spark.sched_wait_s": tot("sched_wait_s"),
            "spark.empty_task_frac": tot("empty_tasks") / tasks if tasks else 0.0,
            "spark.task_cpu_s": tot("task_cpu_s"),
            "spark.task_run_s": tot("task_run_s"),
            "spark.cpu_util": tot("task_cpu_s") / (walls[n] * run["cores"]),
            "spark.shuffle_write_mb": tot("shuffle_write_bytes") / MB,
            "spark.shuffle_read_mb": tot("shuffle_read_bytes") / MB,
            "spark.spill_mb": tot("spill_bytes") / MB,
            "spark.gc_s": tot("gc_s"),
            "spark.task_failures": tot("task_failures"),
            "streaming.batches": len(batches),
            "streaming.add_batch_ms": sum(b["add_batch_ms"] for b in batches),
            "streaming.plan_ms": sum(b["plan_ms"] for b in batches),
            "streaming.wal_ms": sum(b["wal_ms"] for b in batches),
            "streaming.input_rows_per_s": sum(b["rows"] for b in batches) / trig if trig else 0.0,
        }
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] = sum(s["end"] - s["start"] for s in spans
                                            if s["layer"] == f"catalyst.{phase}")
        st = self_times(spans)
        for layer in LAYERS:
            m[f"self_s.{layer}"] = st.get(layer, 0.0)
        out[n] = m
    return out


def per_query_counters(run):
    """{query: {lap: {jobs, stages, shuffle_bytes}}} over the traced laps."""
    tree = SpanTree(run["spans"])
    laps = {s["id"]: lap_number(s) for s in run["spans"] if s["layer"] == "lap"}
    out = defaultdict(dict)
    for q in (s for s in run["spans"] if s["layer"] == "query"):
        out[q["name"]][laps[q["parent"]]] = {"jobs": 0, "stages": 0, "shuffle_bytes": 0.0}
    for s in run["spans"]:
        if s["layer"] not in ("spark.job", "spark.stage"):
            continue
        q = tree.ancestor(s, "query")
        if q is None:
            continue
        c = out[q["name"]][laps[q["parent"]]]
        if s["layer"] == "spark.job":
            c["jobs"] += 1
        else:
            c["stages"] += 1
            c["shuffle_bytes"] += s["attrs"]["shuffle_write_bytes"] + s["attrs"]["shuffle_read_bytes"]
    return out


def stability(counters):
    """Min, max and an `unstable` flag per query and counter across laps."""
    out = {}
    for q, laps in counters.items():
        for key in ("jobs", "stages", "shuffle_bytes"):
            vals = [c[key] for c in laps.values()]
            out[f"{q}.{key}"] = {"min": min(vals), "max": max(vals),
                                 "laps": len(vals), "unstable": min(vals) != max(vals)}
    return out


def batch_durations(run):
    return [s["attrs"]["trigger_ms"] / 1e3 for s in run["spans"] if s["layer"] == "streaming.batch"]


def per_layer(run):
    lap_metrics = per_lap_layers(run)
    timed = [m for n, m in lap_metrics.items() if n > 0]
    keys = sorted(timed[0]) if timed else []
    out = {k: statistics.median(m[k] for m in timed) for k in keys}
    # lap 1 is an untraced settling lap, outside the U T T U pattern
    laps = [l for l in run["laps"] if l["lap"] > 1]
    out["trace.overhead_frac"] = overhead([l["wall_s"] for l in laps if l["traced"]],
                                          [l["wall_s"] for l in laps if not l["traced"]])
    out.update(leak_probes(run))
    return out
