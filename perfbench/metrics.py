"""Metric arithmetic over one run record: latency percentiles, pass
times, span trees with self time, and the per-layer aggregates of a
traced run. Pure functions of the record, so they can be tested alone.
"""
import math
import statistics

TAIL_GRID = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail(values, beyond=10):
    """The highest percentile on TAIL_GRID with at least `beyond`
    samples above it, by nearest rank. Returns (percentile, value);
    with fewer than 2 * beyond samples it falls back to the median."""
    xs = sorted(values)
    n = len(xs)
    best = (50.0, statistics.median(xs))
    for p in TAIL_GRID:
        rank = math.ceil(p / 100.0 * n)
        if rank >= 1 and n - rank >= beyond:
            best = (p, xs[rank - 1])
    return best


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
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
    """Self time of every span: the part of its root's interval during
    which it is the deepest span running. Where siblings overlap
    (adaptive execution submits independent query stages as concurrent
    jobs) the one that started first is charged, so overlapping time
    counts once and the self times of a tree sum to its root's
    duration. Returns {span_id: seconds}."""
    by_id = {s["span_id"]: s for s in spans}

    def chain(s):
        out = [s]
        while out[-1]["parent"] in by_id:
            out.append(by_id[out[-1]["parent"]])
        return out
    depth, trees = {}, {}
    for s in spans:
        c = chain(s)
        depth[s["span_id"]] = len(c)
        trees.setdefault(c[-1]["span_id"], []).append(s)
    out = {s["span_id"]: 0.0 for s in spans}
    for root_id, members in trees.items():
        lo, hi = by_id[root_id]["start_ms"], by_id[root_id]["end_ms"]
        cuts = sorted({lo, hi} | {min(hi, max(lo, t)) for s in members for t in (s["start_ms"], s["end_ms"])})
        for a, b in zip(cuts, cuts[1:]):
            running = [s for s in members if s["start_ms"] <= a and s["end_ms"] >= b]
            owner = max(running, key=lambda s: (depth[s["span_id"]], -s["start_ms"]))
            out[owner["span_id"]] += (b - a) / 1e3
    return out


def tracing_overhead(times, traced):
    """Median over the traced warm passes of the pass time minus the mean
    of the untraced passes either side of it, so that the warm passes'
    steady speed-up cancels. `times` and `traced` are per pass, pass 0
    being the cold one."""
    diffs = [times[i] - (times[i - 1] + times[i + 1]) / 2
             for i in range(1, len(times) - 1)
             if traced[i] and not traced[i - 1] and not traced[i + 1]]
    return statistics.median(diffs) if diffs else 0.0


def execution_spans(ex, exec_id, events):
    """Spans of one query execution: the query, its call into the query
    function and its materialization, plus every trigger, planning
    phase and job that started inside them. Each child hangs under the
    innermost span whose interval holds its start."""
    def span(name, lo, hi, parent):
        return {"id": exec_id, "span_id": f"{exec_id}/{len(spans)}", "name": name,
                "start_ms": lo, "end_ms": hi, "parent": parent}
    spans = []
    root = span("query", ex["start_ms"], ex["end_ms"], None)
    spans.append(root)
    call = span("queries.call", ex["start_ms"], ex["call_end_ms"], root["span_id"])
    spans.append(call)
    mat = span("materialize", ex["call_end_ms"], ex["end_ms"], root["span_id"])
    spans.append(mat)
    lo, hi = ex["start_ms"], ex["end_ms"]
    triggers = []
    for t in events["triggers"]:
        if lo <= t["start_ms"] < hi:
            parent = call if t["start_ms"] < ex["call_end_ms"] else mat
            s = span("streaming.trigger", t["start_ms"],
                     t["start_ms"] + t["duration_ms"].get("triggerExecution", 0), parent["span_id"])
            spans.append(s)
            triggers.append(s)

    def parent_of(t):
        for s in triggers:
            if s["start_ms"] <= t < s["end_ms"]:
                return s["span_id"]
        return (call if t < ex["call_end_ms"] else mat)["span_id"]
    for p in events["phases"]:
        if lo <= p["start_ms"] < hi:
            spans.append(span(f"plan.{p['phase']}", p["start_ms"], p["end_ms"], parent_of(p["start_ms"])))
    for j in events["jobs"]:
        if lo <= j["submit_ms"] < hi:
            spans.append(span("exec.job", j["submit_ms"], j["end_ms"] or hi, parent_of(j["submit_ms"])))
    return spans


def in_window(t, ex):
    return ex["start_ms"] <= t < ex["end_ms"]


def latency_s(ex):
    return (ex["end_ms"] - ex["start_ms"]) / 1e3


def pass_layers(p, events):
    """Per-layer totals of one traced pass."""
    execs = p["execs"]
    jobs = [j for j in events["jobs"] if any(in_window(j["submit_ms"], e) for e in execs)]
    phases = [x for x in events["phases"] if any(in_window(x["start_ms"], e) for e in execs)]
    trig = [t for t in events["triggers"] if any(in_window(t["start_ms"], e) for e in execs)]
    wall = sum(latency_s(e) for e in execs)
    d = lambda t, k: t["duration_ms"].get(k, 0) / 1e3
    run_s = sum(j["run_ms"] for j in jobs) / 1e3
    mb = lambda k: sum(j[k] for j in jobs) / 1048576.0
    attempts = sum(e["api_attempts"] for e in execs)
    pages = sum(e["api_pages"] for e in execs)
    stream_execs = [e for e in execs
                    if any(in_window(t["start_ms"], e) and t["start_ms"] < e["call_end_ms"] for t in trig)]
    out = {
        "wall_s": wall,
        "queries.staging_s": sum(e["call_end_ms"] - e["start_ms"] for e in execs) / 1e3,
        "plan.analysis_s": sum(x["end_ms"] - x["start_ms"] for x in phases if x["phase"] == "analysis") / 1e3,
        "plan.optimization_s": sum(x["end_ms"] - x["start_ms"] for x in phases if x["phase"] == "optimization") / 1e3,
        "plan.planning_s": sum(x["end_ms"] - x["start_ms"] for x in phases if x["phase"] == "planning") / 1e3,
        "exec.s": union_length((j["submit_ms"], j["end_ms"]) for j in jobs) / 1e3,
        "exec.jobs": len(jobs),
        "exec.stages": sum(j["stages"] for j in jobs),
        "exec.tasks": sum(j["tasks"] for j in jobs),
        "exec.job_wait_s": sum(max(0, j["first_launch_ms"] - j["submit_ms"]) for j in jobs) / 1e3,
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "exec.gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "exec.busy_cores": run_s / wall if wall else 0.0,
        "exec.input_mb": mb("input_bytes"),
        "exec.shuffle_read_mb": mb("shuffle_read_bytes"),
        "exec.shuffle_write_mb": mb("shuffle_write_bytes"),
        "exec.spill_mb": mb("spill_bytes"),
        "exec.output_mb": mb("output_bytes"),
        "exec.failed_tasks": sum(j["failed_tasks"] for j in jobs),
        "streaming.triggers": len(trig),
        "streaming.trigger_s": sum(d(t, "triggerExecution") for t in trig),
        "streaming.add_batch_s": sum(d(t, "addBatch") for t in trig),
        "streaming.query_planning_s": sum(d(t, "queryPlanning") for t in trig),
        "streaming.wal_commit_s": sum(d(t, "walCommit") for t in trig),
        "streaming.latest_offset_s": sum(d(t, "latestOffset") for t in trig),
        "streaming.state_commit_s": sum(t["state_commit_ms"] for t in trig) / 1e3,
        "streaming.state_rows": sum(t["state_rows"] for t in trig),
        "streaming.input_rows": sum(t["input_rows"] for t in trig),
        "streaming.outside_trigger_s": sum(e["call_end_ms"] - e["start_ms"] for e in stream_execs) / 1e3
        - sum(d(t, "triggerExecution") for t in trig),
        "sources.api_attempts": attempts,
        "sources.api_pages": pages,
        "sources.api_useful_ratio": pages / attempts if attempts else 0.0,
    }
    spans = []
    for i, e in enumerate(execs):
        spans += execution_spans(e, f"{p['pass']}:{i}:{e['query']}", events)
    st = self_times(spans)
    by_name = {}
    for s in spans:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + st[s["span_id"]]
    for name, v in by_name.items():
        out[f"self.{name}_s"] = v
    out["trace.residual_s"] = sum(st.values()) - wall
    return out, spans, [t["duration_ms"].get("triggerExecution", 0) for t in trig]
