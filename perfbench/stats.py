"""Arithmetic that turns one run's raw samples into the benchmark's metrics.

Kept apart from run.py so it can be tested on fixed inputs
(`python3 -m unittest discover -s perfbench -p 'test_*.py'`).
"""
import statistics


def median(xs):
    return statistics.median(xs)


def spread(xs):
    """Interquartile range as a share of the median (the steadiness gate)."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def failed_frac(attempted, failed):
    """Share of attempted operations that failed; failed checks count too,
    so the share is capped at 1."""
    return min(failed, attempted) / attempted


def union_length(intervals):
    """Total time covered by at least one of the (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. `spans` is a list of (name, parent_index, start, end)
    with parent_index -1 for a root. Returns one value per span."""
    children = {}
    for i, (_, parent, _, _) in enumerate(spans):
        children.setdefault(parent, []).append(i)
    out = []
    for i, (_, _, s, e) in enumerate(spans):
        covered = union_length(
            [(max(spans[c][2], s), min(spans[c][3], e)) for c in children.get(i, [])
             if spans[c][3] > s and spans[c][2] < e])
        out.append((e - s) - covered)
    return out


def per_root(spans):
    """Splits a span list into one dict per root span, mapping each span
    name to its summed self time under that root."""
    selfs = self_times(spans)
    root_of = []
    for name, parent, _, _ in spans:
        root_of.append(len(root_of) if parent < 0 else root_of[parent])
    groups = {}
    for i, (name, _, _, _) in enumerate(spans):
        g = groups.setdefault(root_of[i], {})
        g[name] = g.get(name, 0.0) + selfs[i]
    return [groups[k] for k in sorted(groups)]


def entry_keep_ratio(hist_entries, events, plots):
    """Share of the exploded (event, plot) entries that reach a histogram
    bucket, i.e. survive the null-bucket filter."""
    return hist_entries / (events * plots)


def end_to_end(raw):
    """End-to-end metrics of an untraced run."""
    wall = median(raw["pass_s"])
    return {
        "setup_s": median(raw["setup_s"]),
        "wall_s": wall,
        "events_per_s": raw["rows_per_pass"] / wall,
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
    }


SPARK_SUMS = ["stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb", "input_mb", "output_mb"]


def listener_pass(d):
    """Spark-layer figures of one traced pass from the listener totals."""
    exec_s = union_length([tuple(j) for j in d["jobs"]])
    jobs = len(d["jobs"])
    out = {"spark." + k: float(d[k]) for k in SPARK_SUMS}
    out.update({
        "spark.exec_s": exec_s,
        "spark.jobs": float(jobs),
        "spark.job_latency_ms": 1000.0 * exec_s / jobs if jobs else 0.0,
        "spark.parallelism": d["task_run_s"] / exec_s if exec_s > 0 else 0.0,
        "catalyst.plan_s": d["plan_s"],
    })
    return out


def per_layer(raw, modules):
    """Per-layer metrics of a traced run: each layer's self time, so a
    query's frame build counts in driver.build_s and not in its operator
    module. Layers a workload does not run read 0. `modules` names the
    operator modules reported for every workload."""
    m = {}
    prefixes = raw.get("prefix_s") or []
    passes = per_root([tuple(s) for s in raw["spans"]])

    def span_self(name):
        return median([g.get(name, 0.0) for g in passes])

    if prefixes:
        # Each prefix includes the ones before it, so differences are self
        # times; the histogram pass and the cutflow both sit on the flags.
        p = {k: median([x[k] for x in prefixes]) for k in prefixes[0]}
        m["core.scan_s"] = p["scan"]
        m["physics.objects_s"] = p["objects"] - p["scan"]
        m["flow.flags_s"] = p["flags"] - p["objects"]
        m["flow.histpass_s"] = p["histpass"] - p["flags"]
        m["flow.cutflow_s"] = p["cutflow"] - p["flags"]
        m["driver.build_s"] = p["build"]
    else:
        for k in ("core.scan_s", "physics.objects_s", "flow.flags_s", "flow.histpass_s",
                  "flow.cutflow_s"):
            m[k] = 0.0
        m["driver.build_s"] = span_self("driver.build")

    m["flow.run_sample_s"] = span_self("flow.run_sample")
    m["flow.read_counters_s"] = span_self("flow.read_counters")
    m["flow.post_process_s"] = span_self("flow.post_process")
    for mod in modules:
        m["operators.%s.wall_s" % mod] = span_self("operators." + mod)

    counts = raw["counts"]
    m["flow.plots"] = float(counts.get("plots", 0))
    m["flow.selections"] = float(counts.get("selections", 0))
    m["flow.entry_keep_ratio"] = (
        entry_keep_ratio(counts["hist_entries"], counts["events"], counts["plots"])
        if counts.get("plots") else 0.0)

    lp = [listener_pass(d) for d in raw["listener"]]
    for k in lp[0]:
        m[k] = median([x[k] for x in lp])

    m["trace.overhead_frac"] = median(raw["traced_pass_s"]) / median(raw["pass_s"]) - 1.0
    return m
