"""Turns one raw run record (written by perfbench.Main) into the
benchmark's metrics, and checks the workload's outputs.

All arithmetic lives here so that it can be unit-tested without a JVM
(see test_metrics.py).
"""

import statistics

# Kinds of span whose Spark work counts as the measured phase.
MEASURED_KINDS = {"fold", "read"}

END_TO_END = [("setup_s", "s"), ("total_s", "s"), ("op_s_p50", "s"), ("peak_rss_mb", "MB")]

PER_LAYER = [
    ("linalg.als_calls", "count"), ("linalg.als_s_p50", "s"),
    ("linalg.als_share", "ratio"), ("linalg.als_gflop", "GFLOP"),
    ("linalg.als_gflops", "GFLOP/s"),
    ("strategy.self_s_p50", "s"), ("strategy.persist_bytes_per_round", "B"),
    ("strategy.latency_ratio", "ratio"), ("strategy.explore_s", "s"),
    ("core.observed_frac", "ratio"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("driver_only_s", "s"), ("job_covered_s", "s"),
    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
    ("executor.cpu_s", "s"), ("executor.run_s", "s"), ("executor.gc_s", "s"),
    ("executor.busy_frac", "ratio"),
    ("shuffle.read_bytes", "B"), ("shuffle.write_bytes", "B"),
    ("spill_bytes", "B"), ("input_bytes", "B"),
    ("graph.upsert_s", "s"), ("graph.delete_s", "s"),
    ("graph.compact_s", "s"), ("graph.resolve_s", "s"),
    ("graph.upsert_jobs", "count"), ("graph.delete_jobs", "count"),
    ("graph.written_bytes_per_fold", "B"), ("graph.files_per_fold", "count"),
    ("graph.disk_bytes_per_edge", "B"),
    ("op_samples", "count"), ("session_start_s", "s"), ("warm_s", "s"),
    ("total_s_traced", "s"), ("trace_overhead_frac", "ratio"),
]


def percentile(values, q):
    """NumPy's default rule: linear interpolation between the two order
    statistics around position q/100 * (n - 1)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = q / 100.0 * (len(xs) - 1)
    lo = int(pos)
    if lo >= len(xs) - 1:
        return float(xs[-1])
    return xs[lo] + (xs[lo + 1] - xs[lo]) * (pos - lo)


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, lo, hi):
    """The parts of `intervals` that lie inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def busy_frac(run_s, covered_s, cores):
    """Share of the executor slots kept busy while a job was running."""
    return run_s / (covered_s * cores) if covered_s > 0 and cores > 0 else 0.0


def span_window_ms(span):
    return span["start_ms"], span["start_ms"] + span["seconds"] * 1000.0


def spark_layers(spans, spark, cores):
    """Attribute Spark jobs, stages and planner phases to the spans whose
    wall-clock window holds them, and sum them up. Spans must not overlap
    (operations run one at a time)."""
    windows = [span_window_ms(s) for s in spans]

    def inside(t):
        return any(lo <= t <= hi for lo, hi in windows)

    jobs = [j for j in spark.get("jobs", []) if inside(j["start_ms"])]
    stages = [s for s in spark.get("stages", []) if inside(s["submit_ms"])]
    plans = [p for p in spark.get("plans", []) if inside(p["start_ms"])]
    wall = sum(s["seconds"] for s in spans)
    covered = 0.0
    for lo, hi in windows:
        ivs = [(j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else hi) for j in jobs]
        covered += union_length(clip(ivs, lo, hi)) / 1000.0
    run_s = sum(s["run_ms"] for s in stages) / 1000.0
    return {
        "wall_s": wall,
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "job_covered_s": covered,
        "driver_only_s": max(0.0, wall - covered),
        "plan.analysis_s": sum(p["analysis_ms"] for p in plans) / 1000.0,
        "plan.optimization_s": sum(p["optimization_ms"] for p in plans) / 1000.0,
        "plan.planning_s": sum(p["planning_ms"] for p in plans) / 1000.0,
        "executor.cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "executor.run_s": run_s,
        "executor.gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
        "executor.busy_frac": busy_frac(run_s, covered, cores),
        "shuffle.read_bytes": sum(s["shuffle_read"] for s in stages),
        "shuffle.write_bytes": sum(s["shuffle_write"] for s in stages),
        "spill_bytes": sum(s["spill"] for s in stages),
        "input_bytes": sum(s["input"] for s in stages),
        "output_bytes": sum(s["output"] for s in stages),
    }


def als_gflop(rows, cols, rank=5, iters=50):
    """Floating-point work of one CensoredALS.complete call: per iteration
    four n×m×r products (two re-imputations, two right-hand sides) and two
    r×r Gram matrices; one more product for the final completion."""
    per_iter = 4 * 2.0 * rows * cols * rank + 2 * 2.0 * (rows + cols) * rank * rank
    return (iters * per_iter + 2.0 * rows * cols * rank) / 1e9


def _spans(raw, kind):
    return [s for s in raw["spans"] if s["kind"] == kind]


def _ok_seconds(raw, kind):
    return [s["seconds"] for s in _spans(raw, kind) if s["ok"]]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def span_table(raw):
    """One row per measured span: its wall time and the Spark work in it."""
    rows = []
    for s in raw["spans"]:
        if s["kind"] in MEASURED_KINDS and s["ok"]:
            sp = spark_layers([s], raw["spark"], raw["cores"])
            rows.append({"name": s["name"], "kind": s["kind"], "seconds": s["seconds"],
                         **{k: sp[k] for k in ["spark.jobs", "job_covered_s", "driver_only_s",
                                               "executor.cpu_s", "shuffle.write_bytes"]}})
    return rows


def end_to_end(raw):
    w = raw["workload"]
    unit, op = ("episode", "round") if w == "limeqo_loop" else ("cycle", "fold")
    total = _median(_ok_seconds(raw, unit))
    ops = _ok_seconds(raw, op)
    return {
        "setup_s": raw["setup_s"],
        "total_s": total,
        "op_s_p50": percentile(ops, 50) if ops else 0.0,
        "op_samples": len(ops),
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
    }


def per_layer(raw):
    w = raw["workload"]
    out = raw["outputs"]
    m = {name: 0.0 for name, _ in PER_LAYER}
    e2e = end_to_end(raw)
    m["op_samples"] = e2e["op_samples"]
    m["total_s_traced"] = e2e["total_s"]
    m["session_start_s"] = raw["session_start_s"]
    m["warm_s"] = _median(_ok_seconds(raw, "warm"))
    measured = [s for s in raw["spans"] if s["kind"] in MEASURED_KINDS and s["ok"]]
    units = 1
    if w == "limeqo_loop":
        eps = out["episodes"]
        units = max(1, len(eps))
        rounds = [s for s in _spans(raw, "round") if s["ok"]]
        als = [s["attrs"]["als_s"] for s in rounds]
        wall = sum(_ok_seconds(raw, "episode"))
        flop = als_gflop(out["rows"], out["cols"])
        persist = [b for e in eps for b in e["persist_bytes"]]
        m.update({
            "linalg.als_calls": len(als) / units,
            "linalg.als_s_p50": _median(als),
            "linalg.als_share": sum(als) / wall if wall > 0 else 0.0,
            "linalg.als_gflop": flop,
            "linalg.als_gflops": flop / _median(als) if als else 0.0,
            "strategy.self_s_p50": _median([s["seconds"] - s["attrs"]["als_s"] for s in rounds]),
            "strategy.persist_bytes_per_round": _median(persist),
            "strategy.latency_ratio": eps[-1]["final_total_latency"] / out["default_total"],
            "strategy.explore_s": eps[-1]["final_exec_time"],
            "core.observed_frac": eps[-1]["observed_frac"],
        })
        wall_measured = wall
    else:
        units = max(1, len(_spans(raw, "cycle")))
        sp = spark_layers(measured, raw["spark"], raw["cores"])
        wall_measured = sp["wall_s"]
        for key in ["spark.jobs", "spark.stages", "spark.tasks", "driver_only_s",
                    "job_covered_s", "plan.analysis_s", "plan.optimization_s",
                    "plan.planning_s", "executor.cpu_s", "executor.run_s", "executor.gc_s",
                    "shuffle.read_bytes", "shuffle.write_bytes", "spill_bytes", "input_bytes"]:
            m[key] = sp[key] / units
        m["executor.busy_frac"] = sp["executor.busy_frac"]
    if w == "graph_fold":
        folds = [s for s in _spans(raw, "fold") if s["ok"]]

        def step(name):
            return [s for s in folds if s["attrs"].get("step") == name]

        def jobs(spans):
            return _median([spark_layers([s], raw["spark"], raw["cores"])["spark.jobs"]
                            for s in spans])

        m.update({
            "graph.upsert_s": _median([s["seconds"] for s in step("upsert")]),
            "graph.delete_s": _median([s["seconds"] for s in step("delete")]),
            "graph.compact_s": _median(_ok_seconds(raw, "compact")),
            "graph.resolve_s": _median(_ok_seconds(raw, "read")),
            "graph.upsert_jobs": jobs(step("upsert")),
            "graph.delete_jobs": jobs(step("delete")),
            "graph.written_bytes_per_fold": _median(
                [spark_layers([s], raw["spark"], raw["cores"])["output_bytes"] for s in folds]),
            "graph.files_per_fold": _median([s["attrs"].get("files_added", 0) for s in folds]),
        })
        edges = int(str(out["final_fingerprint"]).split(":")[0]) if out["final_fingerprint"] else 0
        m["graph.disk_bytes_per_edge"] = out["graph_bytes"] / edges if edges else 0.0
    # listener time over the whole run against the measured wall time: an
    # upper bound on what tracing added to the measured operations
    m["trace_overhead_frac"] = raw["trace_overhead_s"] / wall_measured if wall_measured else 0.0
    return m


def reconcile(raw, layers):
    """Consistency of a traced run's per-layer numbers with its wall times.
    Returns a list of failure messages (empty = consistent)."""
    bad = []
    measured = [s for s in raw["spans"] if s["kind"] in MEASURED_KINDS and s["ok"]]
    sp = spark_layers(measured, raw.get("spark", {}), raw["cores"])
    if sp["job_covered_s"] > sp["wall_s"] + 1e-9:
        bad.append(f"job-covered {sp['job_covered_s']} s exceeds wall {sp['wall_s']} s")
    rounds = [s for s in raw["spans"] if s["kind"] == "round" and s["ok"]]
    als_total = sum(s["attrs"]["als_s"] for s in rounds)
    if als_total > sum(_ok_seconds(raw, "episode")) + 1e-9:
        bad.append(f"ALS total {als_total} s exceeds the episodes' wall time")
    if any(s["seconds"] < s["attrs"]["als_s"] for s in rounds):
        bad.append("a round is shorter than its ALS call")
    if layers["driver_only_s"] < 0:
        bad.append("negative driver-only time")
    return bad


def check(raw, expected):
    """Output checks. Returns a list of failure messages (empty = correct).

    `expected` holds the committed values: "limeqo" and "graph" map an
    input instance (as a string) to the trace digest and to the edges'
    fingerprint after the first measured fold cycle. A missing committed
    value is a failure."""
    w = raw["workload"]
    out = raw["outputs"]
    instance = str(raw["instance"])
    bad = [f"{s['name']} failed: {s['error']}" for s in raw["spans"] if not s["ok"]]
    if w == "limeqo_loop":
        eps = out["episodes"]
        if not eps:
            bad.append("no episode finished")
        digests = {e["trace_sha256"] for e in eps}
        if len(digests) > 1:
            bad.append(f"episodes disagree: {sorted(digests)}")
        for e in eps:
            if e["rounds"] != out["rounds"]:
                bad.append(f"episode ran {e['rounds']} of {out['rounds']} rounds")
            lat, ex = e["total_latency"], e["exec_time"]
            if any(b > a + 1e-9 for a, b in zip(lat, lat[1:])):
                bad.append("total latency rose between rounds")
            if any(b < a - 1e-9 for a, b in zip(ex, ex[1:])):
                bad.append("exploration time fell between rounds")
            if lat[-1] > out["default_total"] + 1e-9:
                bad.append("final latency above the default plans'")
        golden = expected.get("limeqo", {}).get(instance)
        if golden is None:
            bad.append(f"no committed trace digest for instance {instance}")
        elif eps and eps[0]["trace_sha256"] != golden:
            bad.append(f"trace digest {eps[0]['trace_sha256']} != golden {golden}")
    elif w == "graph_fold":
        cycles = out["cycle_fingerprints"]
        if not cycles or any(fp is None for fp in cycles):
            bad.append("a measured fold cycle has no resolved edges")
        elif out["final_fingerprint"] != cycles[-1]:
            bad.append(f"compaction changed the edges: {cycles[-1]} -> "
                       f"{out['final_fingerprint']}")
        if out["rebuilt"]:
            if out["final_fingerprint"] != out["rebuild_fingerprint"]:
                bad.append(f"folded graph {out['final_fingerprint']} != "
                           f"rebuild {out['rebuild_fingerprint']}")
        elif len(cycles) != 1:
            bad.append("the final edges are not the golden and were not rebuilt")
        golden = expected.get("graph", {}).get(instance)
        if golden is None:
            bad.append(f"no committed edge fingerprint for instance {instance}")
        elif cycles and cycles[0] != golden:
            bad.append(f"edges after the first cycle {cycles[0]} != golden {golden}")
    return bad
