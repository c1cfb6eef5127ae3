"""Per-layer metrics from a traced run's span/job ledger.

The JVM side (perfbench/src/perfbench/Trace.scala) writes every span
instance (id, name, parent, start/end in epoch ms) and every Spark job
(span id it was submitted under, start/end, summed task metrics). This
module turns that into the `<layer>.<call>.<counter>` metrics:

- ``self_s``: the span's wall time minus the time covered by its child
  spans;
- ``jobs``, ``task_run_s``, ``result_mb``: summed over the jobs charged to
  the span (a job is charged to the innermost span open when it was
  submitted);
- ``driver_only_s``: the span's self time minus the union of the intervals
  during which any job was running. Concurrent jobs (``graft.Par.grid``)
  overlap; the union counts their shared time once.
"""

MB = 1024.0 * 1024.0


def union(intervals):
    """Merge (start, end) pairs into disjoint sorted intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def subtract(base, cut):
    """Parts of the intervals in `base` not covered by `cut`."""
    out = []
    cut = union(cut)
    for s, e in union(base):
        cur = s
        for cs, ce in cut:
            if ce <= cur or cs >= e:
                continue
            if cs > cur:
                out.append((cur, cs))
            cur = max(cur, ce)
            if cur >= e:
                break
        if cur < e:
            out.append((cur, e))
    return out


def self_intervals(span, spans):
    children = [(c["start_ms"], c["end_ms"]) for c in spans
                if c["parent"] == span["id"]]
    return subtract([(span["start_ms"], span["end_ms"])], children)


def job_interval(job):
    return (job["start_ms"], job["end_ms"])


def span_metrics(trace, names):
    """{name: {self_s, jobs, task_run_s, driver_only_s, result_mb}} for each
    span name (all instances of a name are summed; a name never entered
    reports zeros)."""
    spans, jobs = trace["spans"], trace["jobs"]
    all_jobs = [job_interval(j) for j in jobs]
    out = {n: {"self_s": 0.0, "jobs": 0, "task_run_s": 0.0,
               "driver_only_s": 0.0, "result_mb": 0.0} for n in names}
    by_id = {}
    for s in spans:
        by_id[s["id"]] = s["name"]
        m = out.get(s["name"])
        if m is None:
            continue
        own = self_intervals(s, spans)
        m["self_s"] += length(own) / 1e3
        m["driver_only_s"] += length(subtract(own, all_jobs)) / 1e3
    for j in jobs:
        m = out.get(by_id.get(j["span"]))
        if m is None:
            continue
        m["jobs"] += 1
        m["task_run_s"] += j["run_ms"] / 1e3
        m["result_mb"] += j["result_b"] / MB
    return out


def engine_metrics(trace, windows, cores):
    """Engine-wide counters over the jobs charged to any span, measured
    over `windows` (the (start, end) ms intervals of the traced items)."""
    jobs = [j for j in trace["jobs"] if j["span"] >= 0]
    wall_ms = length(windows)
    run_s = sum(j["run_ms"] for j in jobs) / 1e3
    return {
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "task_run_s": run_s,
        "task_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "core_util": run_s / (cores * wall_ms / 1e3) if wall_ms else 0.0,
        "driver_only_s": length(subtract(
            windows, [job_interval(j) for j in jobs])) / 1e3,
        "gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "shuffle_read_mb": sum(j["shuffle_read_b"] for j in jobs) / MB,
        "shuffle_write_mb": sum(j["shuffle_write_b"] for j in jobs) / MB,
        "spill_mb": sum(j["spill_b"] for j in jobs) / MB,
        "result_mb": sum(j["result_b"] for j in jobs) / MB,
    }
