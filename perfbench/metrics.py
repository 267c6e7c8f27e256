"""Metrics of one benchmark run, computed from the harness's raw record.

End-to-end metrics come from the untraced passes; per-layer metrics from
the traced ones. A step call that threw or failed its output check counts
in `failed_ratio`, and its pass is left out of every timing, so a broken
step can never read as a fast one.

Counters are attributed to the enclosing span by time: a job by its start,
a task by the part of its run time that falls inside the span. This holds
because a run is a closed loop (one step at a time), so nothing else runs
inside a span.
"""
import os
import statistics

MB = 1048576.0

END_TO_END = {  # name -> unit
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "warm_cpu_s": "s",
}
# Two more end-to-end figures are printed in the summary but are not
# metrics of the JSON result: failed_ratio is 0 on a healthy engine, so it
# is carried by the result's `failed`/`attempted` counts; heap_peak_mb
# swings between about 310 and 500 MB on `curation` from run to run (how
# much of the pipeline's cached and promoted data a young GC still finds),
# so it is a per-layer metric, reported without a bound.

PER_LAYER = {
    "catalog.register_s": "s", "catalog.scan_tasks": "count", "catalog.scan_s": "s",
    "catalog.input_rows": "count",
    "sql.executions": "count", "sql.analysis_ms": "ms", "sql.optimizer_ms": "ms",
    "sql.planning_ms": "ms", "sql.cold_optimizer_ms": "ms",
    "plans.codegen_ms": "ms", "plans.cold_codegen_ms": "ms", "plans.codegen_fallbacks": "count",
    "operators.build_s": "s", "operators.run_s": "s", "operators.jobs": "count",
    "operators.tasks": "count", "operators.driver_s": "s", "operators.busy_ratio": "ratio",
    "operators.task_cpu_s": "s", "operators.shuffle_mb": "MB", "operators.spill_mb": "MB",
    "operators.gc_s": "s",
    "sinks.wall_s": "s", "sinks.jobs": "count", "sinks.driver_s": "s",
    "sinks.busy_ratio": "ratio", "sinks.task_cpu_s": "s", "sinks.shuffle_mb": "MB",
    "sinks.output_mb": "MB", "sinks.files": "count",
    "mutate.wall_s": "s", "mutate.jobs": "count", "mutate.driver_s": "s",
    "mutate.busy_ratio": "ratio", "mutate.task_cpu_s": "s", "mutate.shuffle_mb": "MB",
    "mutate.output_mb": "MB", "mutate.failed_rows": "count",
    "trace.overhead_s": "s", "trace.pass_wall_s": "s", "heap_peak_mb": "MB",
}


UNITS = {**END_TO_END, **PER_LAYER}


def median(xs):
    return statistics.median(xs) if xs else None


def union_ms(intervals, lo=float("-inf"), hi=float("inf")):
    """Length of the union of `intervals`, clipped to [lo, hi]. Overlapping
    intervals (AQE runs jobs of one query concurrently) count once."""
    total, end = 0.0, float("-inf")
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def overlap(a0, a1, intervals):
    return sum(max(0.0, min(a1, b1) - max(a0, b0)) for b0, b1 in intervals)


def self_times(spans):
    """{span id: duration minus the part of it its children cover}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - union_ms(kids.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def subtree(spans, root_id):
    ids, out = {root_id}, []
    for s in sorted(spans, key=lambda s: s["id"]):
        if s["id"] in ids or s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def heap_peak(p, gcs):
    """Most heap held right after a GC that ended during pass `p` (MB), or
    None if no GC ran in it."""
    used = [mb for end, mb in gcs if p["start_ms"] <= end <= p["end_ms"]]
    return max(used) if used else None


def tracing_overhead(clean, wall):
    """Median over traced warm passes of the pass's wall time minus the
    mean of the untraced passes just before and after it (seconds). Warm
    passes still speed up as the JIT settles; the two neighbours cancel
    that trend, where one earlier untraced pass would not."""
    plain = {p["index"] for p in clean if not p["traced"]}
    return median([wall[p["index"]] - (wall[p["index"] - 1] + wall[p["index"] + 1]) / 2
                   for p in clean if p["traced"]
                   and p["index"] - 1 in plain and p["index"] + 1 in plain])


def step_failures(result, check_failures):
    """{(pass index, step name): reason} for every failed step call."""
    bad = dict(check_failures)
    for p in result["passes"]:
        for st in p["steps"]:
            if not st["ok"]:
                bad[(p["index"], st["name"])] = st["error"]
    return bad


def layer_counters(layer, spans, trace, cores):
    """Counters of one layer's calls in one pass. `spans` are the pass's
    spans; the layer's calls are those named `<layer>.<function>`."""
    calls = [(s["start_ms"], s["end_ms"]) for s in spans
             if s["name"].split(".")[0] == layer]
    wall = sum(b - a for a, b in calls)
    jobs = [(j[1], j[2]) for j in trace["jobs"]
            if any(a <= j[1] < b for a, b in calls)]
    col = {c: i for i, c in enumerate(trace["task_cols"])}
    tasks = [t for t in trace["tasks"] if any(a < t[col["finish_ms"]] <= b for a, b in calls)]
    run_in = sum(overlap(t[col["finish_ms"]] - t[col["run_ms"]], t[col["finish_ms"]], calls)
                 for t in tasks)
    driver = sum((b - a) - union_ms(jobs, a, b) for a, b in calls)

    def total(c):
        return sum(t[col[c]] for t in tasks)

    return {
        "wall_s": wall / 1000.0,
        "jobs": len(jobs),
        "tasks": len(tasks),
        "driver_s": driver / 1000.0,
        "busy_ratio": run_in / (wall * cores) if wall > 0 else 0.0,
        "task_cpu_s": total("cpu_ms") / 1000.0,
        "shuffle_mb": (total("shuffle_read_bytes") + total("shuffle_write_bytes")) / MB,
        "spill_mb": total("spill_bytes") / MB,
        "gc_s": total("gc_ms") / 1000.0,
    }


def disk_mb_files(paths):
    size = files = 0
    for root in paths:
        for d, _, names in os.walk(root):
            for n in names:
                if n.endswith(".jsonl") or n.endswith(".crc") or n.startswith("_"):
                    continue
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size / MB, files


def pass_layers(p, spans, trace, cores, steps, work):
    """All per-layer metrics of one traced pass."""
    a, b = p["start_ms"], p["end_ms"]
    col = {c: i for i, c in enumerate(trace["task_cols"])}
    in_pass = [t for t in trace["tasks"] if a < t[col["finish_ms"]] <= b]
    scans = [t for t in in_pass if t[col["input_rows"]] > 0]
    phases = [ph for ph in trace["phases"] if a <= ph[0] <= b]
    root = next(s for s in spans if s["parent"] == -1)
    m = {
        "catalog.scan_tasks": len(scans),
        "catalog.scan_s": sum(t[col["scan_ms"]] for t in in_pass) / 1000.0,
        "catalog.input_rows": sum(t[col["input_rows"]] for t in scans),
        "sql.executions": sum(1 for t in trace["sql_starts"] if a <= t <= b),
        "sql.analysis_ms": sum(ph[1] for ph in phases),
        "sql.optimizer_ms": sum(ph[2] for ph in phases),
        "sql.planning_ms": sum(ph[3] for ph in phases),
        "plans.codegen_ms": root["codegen_ms"],
        "plans.codegen_fallbacks": sum(1 for t in trace["codegen_fallbacks"] if a <= t <= b),
    }
    ops = layer_counters("operators", spans, trace, cores)
    m["operators.build_s"] = sum(s["end_ms"] - s["start_ms"] for s in spans
                                 if s["name"] == "operators.build") / 1000.0
    m["operators.run_s"] = sum(s["end_ms"] - s["start_ms"] for s in spans
                               if s["name"] == "operators.run") / 1000.0
    for k in ("jobs", "tasks", "driver_s", "busy_ratio", "task_cpu_s", "shuffle_mb",
              "spill_mb", "gc_s"):
        m[f"operators.{k}"] = ops[k]
    pass_dir = os.path.join(work, "out", f"pass-{p['index']}")
    for layer in ("sinks", "mutate"):
        c = layer_counters(layer, spans, trace, cores)
        for k in ("wall_s", "jobs", "driver_s", "busy_ratio", "task_cpu_s", "shuffle_mb"):
            m[f"{layer}.{k}"] = c[k]
        mb, files = disk_mb_files(os.path.join(pass_dir, st["name"])
                                  for st in steps if st["layer"] == layer)
        m[f"{layer}.output_mb"] = mb
        if layer == "sinks":
            m["sinks.files"] = files
    m["mutate.failed_rows"] = sum(st["failed_rows"] for st in p["steps"])
    m["trace.pass_wall_s"] = (b - a) / 1000.0
    return m


def report(result, check_failures, cores, traced, sizes, work, steps):
    passes = result["passes"]
    bad = step_failures(result, check_failures)
    attempted = sum(len(p["steps"]) for p in passes)
    failed = len(bad)
    clean = [p for p in passes if not any((p["index"], s["name"]) in bad for s in p["steps"])]
    wall = {p["index"]: (p["end_ms"] - p["start_ms"]) / 1000.0 for p in passes}
    untraced = [p for p in clean if not p["traced"]]
    warm = [p for p in untraced if p["index"] > 0]
    cold = [p for p in untraced if p["index"] == 0]
    peaks = [heap_peak(p, result["gcs"]) for p in warm]
    e2e = {
        "setup_s": median([s["setup_ms"] for s in result["setups"]]) / 1000.0,
        "cold_s": wall[0] if cold else None,
        "warm_s": median([wall[p["index"]] for p in warm]),
        "warm_cpu_s": median([p["cpu_s"] for p in warm]),
        "heap_peak_mb": max((x for x in peaks if x is not None), default=None),
    }
    summary = [
        f"inputs: " + ", ".join(f"{t} {r} rows {b / MB:.1f} MB" for t, (r, b) in sorted(sizes.items())),
        f"passes: {len(passes)} ({sum(p['traced'] for p in passes)} traced), "
        + " ".join(f"{wall[p['index']]:.2f}{'t' if p['traced'] else ''}" for p in passes),
    ]
    summary += [f"FAIL pass {i} {name}: {why}" for (i, name), why in sorted(bad.items())]
    e2e_lines = [f"{k} = {v:.4f} {UNITS[k]}" if v is not None else f"{k} = n/a"
                 for k, v in e2e.items()]
    e2e_lines.append(f"failed_ratio = {failed / max(attempted, 1):.4f} fraction "
                     f"({failed} of {attempted} step calls)")
    summary += e2e_lines
    correct = failed == 0

    if not traced:
        values, units = e2e, END_TO_END
        correct = correct and all(e2e[k] is not None for k in END_TO_END)
    else:
        spans = result["trace"]["spans"]
        roots = [s for s in spans if s["parent"] == -1]
        tpasses = [p for p in passes if p["traced"]]
        per_pass = {}
        for p, root in zip(tpasses, roots):
            tree = subtree(spans, root["id"])
            m = pass_layers(p, tree, result["trace"], cores, steps, work)
            summary.append(f"pass {p['index']}: span self times sum to "
                           f"{sum(self_times(tree).values()) / 1000.0:.4f} s of a "
                           f"{m['trace.pass_wall_s']:.4f} s pass")
            per_pass[p["index"]] = m
        warm_layers = [m for i, m in per_pass.items() if i > 0]
        values = ({k: median([m[k] for m in warm_layers]) for k in warm_layers[0]}
                  if warm_layers else {})
        if 0 in per_pass:  # compile and planning work that only the cold pass pays
            values["plans.cold_codegen_ms"] = per_pass[0]["plans.codegen_ms"]
            values["sql.cold_optimizer_ms"] = per_pass[0]["sql.optimizer_ms"]
        values["catalog.register_s"] = median([s["register_ms"] for s in result["setups"]]) / 1000.0
        values["trace.overhead_s"] = tracing_overhead(clean, wall)
        values["heap_peak_mb"] = e2e["heap_peak_mb"]
        units = PER_LAYER
        summary += [f"{k} = {values.get(k):.4f} {u}" if values.get(k) is not None
                    else f"{k} = n/a" for k, u in PER_LAYER.items()]
        correct = correct and all(values.get(k) is not None for k in PER_LAYER)
    return {
        "summary": summary,
        "result": {
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values.get(k), "unit": u} for k, u in units.items()},
        },
    }
