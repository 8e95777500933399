"""Per-layer accounting of a traced pass.

A pass holds spans (name, layer, start, end, parent), the Spark jobs and
stages with the id of the span whose local property they carried, and the
Catalyst phases. A span's layer is the module of the call it wraps; the op
itself is a root span of layer "op", and the benchmark's sink is "sink".
All times are milliseconds.
"""

MODULES = ("sql", "operators", "stats", "pipeline", "sources", "sink")

STAGE_SUMS = ("tasks", "task_run_ms", "task_cpu_ms", "shuffle_write_bytes",
              "shuffle_read_bytes", "input_bytes", "output_bytes", "spill_bytes",
              "result_bytes")

LAYER_KEYS = ("calls", "self_ms", "idle_ms", "plan_ms", "jobs", "stages") + STAGE_SUMS

# the counts that must repeat exactly between two passes of one seed;
# result_bytes is left out: a task result carries the task's serialized
# metrics, whose timing values vary in encoded length from run to run
COUNT_KEYS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
              "input_bytes", "output_bytes", "spill_bytes")


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), each
    clipped to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_interval(job, span_end):
    """A job's (start, end); a job still running ends with its span."""
    end = job["end"] if job["end"] >= 0 else span_end
    return (job["start"], end)


def self_ms(span, children):
    """The span's duration minus the part of it its child spans cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def idle_ms(span, jobs):
    """The span's duration with none of its own jobs running."""
    return (span["end"] - span["start"]) - union_length(
        [job_interval(j, span["end"]) for j in jobs], span["start"], span["end"])


def innermost_span(spans, t):
    """The id of the innermost span open at time t, or -1."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return -1 if best is None else best["id"]


def per_span(trace):
    """Counts, times and bytes of each span's own calls, keyed by span id."""
    spans = trace["spans"]
    out = {s["id"]: dict.fromkeys(LAYER_KEYS, 0) for s in spans}
    children = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in children:
            children[s["parent"]].append(s)
    jobs = {s["id"]: [] for s in spans}
    for j in trace["jobs"]:
        if j["span"] in jobs:
            jobs[j["span"]].append(j)
    for s in spans:
        row = out[s["id"]]
        row["calls"] = 1
        row["self_ms"] = self_ms(s, children[s["id"]])
        row["idle_ms"] = idle_ms(s, jobs[s["id"]])
        row["jobs"] = len(jobs[s["id"]])
    for st in trace["stages"]:
        if st["span"] in out:
            row = out[st["span"]]
            row["stages"] += 1
            for k in STAGE_SUMS:
                row[k] += st[k]
    for p in trace["phases"]:
        sid = innermost_span(spans, p["start"])
        if sid in out:
            out[sid]["plan_ms"] += p["end"] - p["start"]
    return out


def by_module(trace):
    """LAYER_KEYS summed over the spans of each module in MODULES."""
    rows = per_span(trace)
    tot = {m: dict.fromkeys(LAYER_KEYS, 0) for m in MODULES}
    for s in trace["spans"]:
        if s["module"] in tot:
            for k in LAYER_KEYS:
                tot[s["module"]][k] += rows[s["id"]][k]
    return tot


def by_op(trace):
    """Per root span (one op run): jobs, shuffle bytes and idle time over
    the whole subtree, plus the module each job came from."""
    spans = trace["spans"]
    rows = per_span(trace)
    root_of = {}
    for s in spans:  # parents precede children
        root_of[s["id"]] = s["id"] if s["parent"] == -1 else root_of[s["parent"]]
    ops = []
    for s in spans:
        if s["parent"] != -1:
            continue
        members = [x for x in spans if root_of[x["id"]] == s["id"]]
        ids = {x["id"] for x in members}
        jobs = [j for j in trace["jobs"] if j["span"] in ids]
        mods = {}
        for x in members:
            if rows[x["id"]]["jobs"]:
                mods[x["module"]] = mods.get(x["module"], 0) + rows[x["id"]]["jobs"]
        ops.append({
            "name": s["name"],
            "wall_ms": s["end"] - s["start"],
            "jobs": len(jobs),
            "jobs_by_module": mods,
            "shuffle_bytes": sum(rows[i]["shuffle_write_bytes"] + rows[i]["shuffle_read_bytes"]
                                 for i in ids),
            "idle_ms": idle_ms(s, jobs),
        })
    return ops


def busy_ratio(trace, wall_ms):
    """Share of the pass with at least one job running."""
    end = max([s["end"] for s in trace["spans"]] or [0])
    return union_length([job_interval(j, end) for j in trace["jobs"]]) / wall_ms


def count_diffs(a, b):
    """Names of the per-module counts that differ between two passes."""
    return [f"{m}.{k}: {a[m][k]} != {b[m][k]}"
            for m in MODULES for k in COUNT_KEYS if a[m][k] != b[m][k]]
