"""Arithmetic that turns the harness's raw record into metrics.

Pure functions over plain dicts and lists, so the numbers the benchmark
reports can be unit-tested without a JVM (see test_metrics.py).
"""
import math
import statistics

END_TO_END = ["setup_s", "cold_pass_s", "warm_pass_s", "query_p50_ms",
              "query_p75_ms", "failed_ratio", "wrong_results",
              "heap_retained_mb"]

# The end-to-end metrics on the result line. failed_ratio and
# wrong_results are 0 on a correct build; the line's "failed" and
# "correct" fields carry them.
RESULT_LINE = [k for k in END_TO_END if k not in ("failed_ratio", "wrong_results")]

UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
    "query_p50_ms": "ms", "query_p75_ms": "ms", "failed_ratio": "ratio",
    "wrong_results": "count", "heap_retained_mb": "MB",
}

# Per-layer metrics summed per pass, reported for the cold pass and as
# the median over the warm passes: name -> unit.
PER_PASS = {
    "registry.build_ms": "ms", "registry.build_jobs": "count",
    "registry.self_ms": "ms",
    "catalyst.plan_ms": "ms", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "catalyst.actions": "count", "catalyst.self_ms": "ms",
    "exec.action_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.task_gc_ms": "ms", "exec.job_span_ms": "ms",
    "exec.driver_gap_ms": "ms", "exec.core_util": "ratio",
    "exec.self_ms": "ms",
    "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "tables.input_bytes": "bytes", "tables.input_rows": "rows",
    "plancache.builds": "count", "plancache.entries": "count",
    "plancache.storage_bytes": "bytes",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.state_rows": "rows",
    "jvm.gc_ms": "ms",
}
PER_RUN = {"kernels.retain_forward_us": "us", "kernels.retain_grad_us": "us",
           "trace.cold_pass_s": "s"}
# A query's three child spans, by the layer they time.
PHASE_SPANS = {"registry": "registry.build", "catalyst": "catalyst.plan",
               "exec": "exec.action"}


def per_layer_units():
    out = {}
    for name, unit in PER_PASS.items():
        out[name + ".cold"] = unit
        out[name + ".warm"] = unit
    out.update(PER_RUN)
    return out


def beta_cdf(a, b, n, steps=64):
    """CDF of Beta(a, b) at 0, 1/n, ..., 1, by the midpoint rule on
    `steps` points per cell (normalised, so the last value is 1)."""
    lnorm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    h = 1.0 / (n * steps)
    out, acc = [0.0], 0.0
    for k in range(n):
        for j in range(steps):
            x = (k * steps + j + 0.5) * h
            acc += math.exp(lnorm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x)) * h
        out.append(acc)
    return [c / acc for c in out]


def percentile(values, p):
    """Harrell-Davis estimate of the p-th percentile, the sample count,
    and the number of samples above the estimate: (value, n, n_beyond).

    The estimate weights every order statistic by a Beta((n+1)q,
    (n+1)(1-q)) kernel. A nearest-rank percentile of these pooled query
    times jumps by up to 30% when one sample crosses the gap between the
    fast and the slow queries; the weighted estimate moves smoothly."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    n, q = len(xs), p / 100.0
    cdf = beta_cdf(q * (n + 1), (1 - q) * (n + 1), n)
    est = sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))
    return est, n, sum(1 for x in xs if x > est)


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of [start, end] intervals, each clipped
    to [lo, hi] when given. Overlapping intervals count once."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    spans.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def wall_ms(ex):
    return ex["end_ms"] - ex["start_ms"]


def phase_bounds(ex):
    """[(phase, start, end)] for the three child spans of a query. A query
    that threw is charged to the phase it was in when it threw."""
    t0, t1, t2, t3 = ex["start_ms"], ex["build_end_ms"], ex["plan_end_ms"], ex["end_ms"]
    if t1 is None:
        t1 = t2 = t3
    elif t2 is None:
        t2 = t3
    return [("registry", t0, t1), ("catalyst", t1, t2), ("exec", t2, t3)]


def phase_of(ex, t):
    """The phase span that was open at epoch-ms time t."""
    bounds = phase_bounds(ex)
    for name, s, e in bounds:
        if t < e:
            return name
    return bounds[-1][0]


def count_outcomes(executions, expected):
    """(attempted, failed, wrong, wrong_queries).

    failed: executions that threw. wrong: executions that returned a
    digest other than the expected one (a query with no expected digest
    cannot be checked and counts as wrong)."""
    failed = sum(1 for e in executions if e["error"] is not None)
    wrong = [e["query"] for e in executions
             if e["error"] is None and expected.get(e["query"]) != e["digest"]]
    return len(executions), failed, len(wrong), sorted(set(wrong))


def pass_walls_s(raw):
    return [(p["end_ms"] - p["start_ms"]) / 1e3 for p in raw["passes"]]


def end_to_end(raw, expected):
    walls = pass_walls_s(raw)
    ok = [wall_ms(e) for e in raw["executions"] if e["error"] is None]
    p50, n, _ = percentile(ok, 50)
    p75, _, beyond = percentile(ok, 75)
    attempted, failed, wrong, _ = count_outcomes(raw["executions"], expected)
    return {
        "setup_s": raw["setup_s"],
        "cold_pass_s": walls[0],
        "warm_pass_s": statistics.median(walls[1:]),
        "query_p50_ms": p50,
        "query_p75_ms": p75,
        "failed_ratio": failed / attempted,
        "wrong_results": wrong,
        "heap_retained_mb": raw["heap_retained_mb"],
    }, {"query_samples": n, "samples_beyond_p75": beyond}


def pass_layers(raw, pas, cores):
    """Per-layer sums over the executions of one pass."""
    execs = [e for e in raw["executions"] if e["pass"] == pas["pass"]]
    out = {k: 0.0 for k in PER_PASS}
    for ex in execs:
        for k, v in ex["counters"].items():
            out[k] += v
        children = [tuple(j) for j in ex["jobs"]] + [tuple(b) for b in ex["batches"]]
        for name, s, e in phase_bounds(ex):
            out[PHASE_SPANS[name] + "_ms"] += e - s
            mine = [c for c in children if phase_of(ex, c[0]) == name]
            out[name + ".self_ms"] += (e - s) - union_ms(mine, s, e)
        out["registry.build_jobs"] += sum(
            1 for j in ex["jobs"] if phase_of(ex, j[0]) == "registry")
        span = union_ms([tuple(j) for j in ex["jobs"]], ex["start_ms"], ex["end_ms"])
        out["exec.job_span_ms"] += span
        out["exec.driver_gap_ms"] += wall_ms(ex) - span
        out["plancache.builds"] += ex["plancache_builds"]
    wall = pas["end_ms"] - pas["start_ms"]
    out["exec.core_util"] = out["exec.task_run_ms"] / (wall * cores) if wall > 0 else 0.0
    out["plancache.entries"] = pas["plancache_entries"]
    out["plancache.storage_bytes"] = pas["plancache_storage_bytes"]
    out["jvm.gc_ms"] = pas["gc_ms"]
    return out


def per_layer(raw):
    cores = raw["cores"]
    per = [pass_layers(raw, p, cores) for p in raw["passes"]]
    out = {}
    for k in PER_PASS:
        out[k + ".cold"] = per[0][k]
        out[k + ".warm"] = statistics.median(p[k] for p in per[1:])
    out.update(raw["kernels"])
    out["trace.cold_pass_s"] = pass_walls_s(raw)[0]
    return out


def spans(raw):
    """The traced run as a flat span list: each query is a root span with
    three phase children; jobs and micro-batches hang off the phase that
    was open when they started."""
    out = []
    for i, ex in enumerate(raw["executions"]):
        root = "q%d" % i
        out.append({"id": root, "parent": None, "name": ex["query"],
                    "workload": raw["workload"], "seed": raw["seed"],
                    "pass": ex["pass"], "start_ms": ex["start_ms"],
                    "end_ms": ex["end_ms"], "error": ex["error"]})
        for name, s, e in phase_bounds(ex):
            out.append({"id": "%s.%s" % (root, name), "parent": root,
                        "name": PHASE_SPANS[name], "start_ms": s, "end_ms": e})
        for kind in ("jobs", "batches"):
            for j, (s, e) in enumerate(ex[kind]):
                out.append({"id": "%s.%s%d" % (root, kind[0], j),
                            "parent": "%s.%s" % (root, phase_of(ex, s)),
                            "name": "spark.job" if kind == "jobs" else "stream.batch",
                            "start_ms": s, "end_ms": e})
    return out


def uncovered_ms(raw):
    """Largest gap, over all queries, between a query's wall time and the
    sum of its three phase spans (0 when the phases tile the query)."""
    worst = 0.0
    for ex in raw["executions"]:
        covered = sum(e - s for _, s, e in phase_bounds(ex))
        worst = max(worst, abs(wall_ms(ex) - covered))
    return worst
