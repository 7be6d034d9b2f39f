"""Turns the harness's op records into end-to-end and per-layer metrics.

Pure functions over the JSON-lines records `perfbench.Harness` writes;
`test_metrics.py` pins the arithmetic (percentiles with their sample
counts, failure counting, the ledger's self time).
"""
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it, so one stray op cannot set it.
MIN_BEYOND = 10


def percentile(values, q):
    """(value, n) of the q-th percentile (0 < q < 100), or (None, n) when
    fewer than MIN_BEYOND samples would lie beyond it. The median is always
    reported when there is at least one sample."""
    n = len(values)
    if n == 0:
        return None, 0
    if q == 50:
        return statistics.median(values), n
    if n * (100 - q) / 100 < MIN_BEYOND:
        return None, n
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1], n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(parent, children):
    """A span's self time: its duration minus the part of it that its
    children cover (overlapping children count once)."""
    lo, hi = parent
    return (hi - lo) - union_length(clip(children, lo, hi))


def failed(op, reference):
    """An op fails when it threw, when the harness's own check of it found a
    problem, or when its result is not the verified reference result of its
    label. `reference` maps label -> (hash, verified) for labels whose
    result the oracle checked."""
    if not op.get("ok"):
        return True
    if op.get("problem"):
        return True
    if "hash" in op:
        ref = reference.get(op["label"])
        return ref is None or not ref[1] or ref[0] != op["hash"]
    return False


def ops_of(records, phase):
    return [r for r in records if r.get("kind") == "op" and r.get("phase") == phase]


def one(records, kind):
    return next((r for r in records if r.get("kind") == kind), {})


def end_to_end(records, reference):
    """The user-visible metrics of the untraced phase."""
    ops = ops_of(records, "untraced")
    phase = next(r for r in records if r.get("kind") == "phase" and r["phase"] == "untraced")
    setup = one(records, "setup")
    lat = [(o["t1"] - o["t0"]) / 1000 for o in ops]
    p50, n = percentile(lat, 50)
    p90, _ = percentile(lat, 90)
    elapsed = (phase["t1"] - phase["t0"]) / 1000
    nfail = sum(failed(o, reference) for o in ops)
    out = {
        # from JVM start to the timed phase, with one fixture build (the
        # median one) instead of all of them
        "setup_s": (setup["ready_s"] - sum(setup["fixture_s"])
                    + statistics.median(setup["fixture_s"]), "s"),
        # Ops of a pass are unlike (under 1 ms to 4 s), so the median of a run's
        # dozen ops is whichever op lands in the middle; the geometric mean
        # weighs every op's latency the same and is the steadier summary.
        "latency_gmean_s": (statistics.geometric_mean([max(x, 1e-6) for x in lat]), "s"),
        "throughput_ops_per_s": (len(ops) / elapsed, "1/s"),
    }
    extra = {"samples": n, "latency_p50_s": p50, "latency_p90_s": p90,
             "failed_frac": nfail / max(1, len(ops)),
             "passes": phase["passes"], "timed_s": elapsed, "steal_frac": phase["steal_frac"],
             "peak_rss_mb": one(records, "jvm")["vmhwm_mb"]}
    for cat in ("write", "read", "maintenance"):
        xs = [(o["t1"] - o["t0"]) / 1000 for o in ops if o["cat"] == cat]
        if xs:
            extra[f"{cat}_p50_s"], extra[f"{cat}_samples"] = percentile(xs, 50)
            extra[f"{cat}_p90_s"] = percentile(xs, 90)[0]
            extra[f"{cat}_share"] = len(xs) / len(ops)
    return out, extra


# name -> unit of every per-layer metric; each is a mean per op of the
# traced phase unless its unit says otherwise.
LAYER_UNITS = {
    "catalyst.analysis_ms": "ms/op", "catalyst.optimization_ms": "ms/op",
    "catalyst.planning_ms": "ms/op",
    "driver.no_job_ms": "ms/op",
    "scheduler.jobs": "count/op", "scheduler.stages": "count/op",
    "scheduler.tasks": "count/op", "scheduler.stage_gap_ms": "ms/op",
    "executor.run_ms": "ms/op", "executor.cpu_ms": "ms/op", "executor.gc_ms": "ms/op",
    "executor.busy_frac": "frac",
    "shuffle.write_bytes": "B/op", "shuffle.read_bytes": "B/op",
    "shuffle.records": "count/op", "shuffle.fetch_wait_ms": "ms/op",
    "shuffle.spill_bytes": "B/op",
    "scan.files_read": "count/op", "scan.bytes_read": "B/op", "scan.rows_read": "count/op",
    "scan.rows_per_result_row": "ratio",
    "sources.resolve_ms": "ms/call", "sources.prune_kept_frac": "frac",
    "sources.append_ms": "ms/call", "sources.merge_ms": "ms/call",
    "sources.delete_ms": "ms/call", "sources.update_ms": "ms/call",
    "sources.files_added": "count/write", "sources.bytes_written_per_user_byte": "ratio",
    "sources.conflict_retries": "count",
    "sources.compact_ms": "ms/call", "sources.expire_ms": "ms/call",
    "sources.orphans_ms": "ms/call",
    "iceberg.sync_ms": "ms/call", "iceberg.bytes_written": "B/call",
    "plans.refresh_ms": "ms/call", "plans.substituted_frac": "frac",
    "pipeline.statement_ms": "ms/call", "pipeline.statements": "count/op",
    "operators.dedup_ms": "ms/call", "operators.similarity_ms": "ms/call",
    "operators.ivf_ms": "ms/call", "operators.decontam_ms": "ms/call",
    "operators.text_ms": "ms/call",
    "jvm.gc_ms": "ms/op", "jvm.heap_peak_mb": "MB",
    "ledger.residual_ms": "ms/op",
    "trace.overhead_frac": "frac",
    "etl.commit_p50_s": "s", "etl.read_p50_s": "s", "etl.space_amp": "ratio",
}

# harness span name -> per-layer metric it feeds
SPAN_METRIC = {
    "sources.append": "sources.append_ms", "sources.sql_merge": "sources.merge_ms",
    "sources.sql_delete": "sources.delete_ms", "sources.update_mor": "sources.update_ms",
    "sources.resolve": "sources.resolve_ms", "sources.compact": "sources.compact_ms",
    "sources.expire": "sources.expire_ms", "sources.orphans": "sources.orphans_ms",
    "iceberg.sync": "iceberg.sync_ms", "plans.refresh": "plans.refresh_ms",
    "pipeline.statement": "pipeline.statement_ms",
    "operators.dedup": "operators.dedup_ms", "operators.similarity": "operators.similarity_ms",
    "operators.ivf": "operators.ivf_ms", "operators.decontam": "operators.decontam_ms",
    "operators.text": "operators.text_ms",
}

# ops whose plan should read a materialization (reflection-served rows)
SUBSTITUTION_ELIGIBLE = {"q90_cluster_canonical"}


# metrics of the whole run rather than of a set of ops
RUN_LEVEL = {"jvm.heap_peak_mb", "etl.commit_p50_s", "etl.read_p50_s", "etl.space_amp"}


def tracing_overhead(traced, untraced):
    """Op time of traced ops over that of the same ops untraced, minus one.
    Totals per pass, not medians: a median of a dozen unlike ops jumps
    between neighbours."""
    def per_pass(ops):
        return (sum(o["t1"] - o["t0"] for o in ops)
                / max(1, len({(o["phase"], o["pass"]) for o in ops})))
    base = per_pass(untraced)
    return per_pass(traced) / base - 1 if base else 0.0


def ledger(op):
    """Splits one traced op's wall time (ms) into layers. Spark jobs come
    first; Catalyst phases outside jobs next; then the harness's spans
    around `graft` calls outside both (driver-side store, plan and operator
    work); the rest is the unattributed residual."""
    lo, hi = op["t0"], op["t1"]
    jobs = clip([(j[0], j[1]) for j in op["jobs"]], lo, hi)
    phases = clip([tuple(p) for e in op["executions"] for p in e["phases"].values()], lo, hi)
    spans = clip([(s[1], s[2]) for s in op["spans"]], lo, hi)
    wall = hi - lo
    in_jobs = union_length(jobs)
    with_catalyst = union_length(jobs + phases)
    with_graft = union_length(jobs + phases + spans)
    return {"wall": wall, "jobs": in_jobs, "catalyst_outside_jobs": with_catalyst - in_jobs,
            "graft_driver": with_graft - with_catalyst, "residual": wall - with_graft}


def stage_gap(op):
    """Time inside jobs when none of the job's stages was running."""
    return sum(self_time((j[0], j[1]), [tuple(s) for s in j[2]]) for j in op["jobs"])


def per_op(op):
    """Per-layer values of one traced op."""
    s = op["sums"]
    led = ledger(op)
    v = {
        "catalyst.analysis_ms": 0.0, "catalyst.optimization_ms": 0.0,
        "catalyst.planning_ms": 0.0,
        "driver.no_job_ms": led["wall"] - led["jobs"],
        "scheduler.jobs": len(op["jobs"]), "scheduler.stages": s.get("stages", 0),
        "scheduler.tasks": s.get("tasks", 0), "scheduler.stage_gap_ms": stage_gap(op),
        "executor.run_ms": s.get("run_ms", 0), "executor.cpu_ms": s.get("cpu_ms", 0),
        "executor.gc_ms": s.get("gc_ms", 0),
        "shuffle.write_bytes": s.get("shuffle_write_bytes", 0),
        "shuffle.read_bytes": s.get("shuffle_read_bytes", 0),
        "shuffle.records": s.get("shuffle_records", 0),
        "shuffle.fetch_wait_ms": s.get("fetch_wait_ms", 0),
        "shuffle.spill_bytes": s.get("spill_bytes", 0),
        "scan.files_read": sum(e["files"] for e in op["executions"]),
        "scan.bytes_read": s.get("input_bytes", 0), "scan.rows_read": s.get("input_rows", 0),
        "jvm.gc_ms": op["gc_ms"], "ledger.residual_ms": led["residual"],
    }
    for e in op["executions"]:
        for name in ("analysis", "optimization", "planning"):
            if name in e["phases"]:
                a, b = e["phases"][name]
                v[f"catalyst.{name}_ms"] += b - a
    return v, led


def aggregate(ops, untraced, cores):
    """Per-layer metrics over a set of traced ops (a workload's, or one op
    label's); `untraced` are the same ops' untraced runs, for the tracing
    overhead."""
    rows = [per_op(o) for o in ops]
    n = max(1, len(ops))
    out = {k: 0.0 for k in LAYER_UNITS if k not in RUN_LEVEL}
    for v, _ in rows:
        for k, x in v.items():
            out[k] += x / n
    wall = sum(led["wall"] for _, led in rows)
    out["executor.busy_frac"] = sum(v["executor.run_ms"] for v, _ in rows) / max(1e-9, wall * cores)
    result_rows = sum(o.get("rows", 0) for o in ops)
    out["scan.rows_per_result_row"] = out["scan.rows_read"] * n / max(1, result_rows)
    spans = {}
    for o in ops:
        for name, a, b in o["spans"]:
            if name in SPAN_METRIC:
                spans.setdefault(SPAN_METRIC[name], []).append(b - a)
    for k, xs in spans.items():
        out[k] = sum(xs) / len(xs)
    counts = {}
    for o in ops:
        for k, x in o["counts"].items():
            counts[k] = counts.get(k, 0.0) + x
    writes = [o for o in ops if o["cat"] == "write"]
    out["sources.files_added"] = counts.get("sources.files_added", 0.0) / max(1, len(writes))
    out["sources.bytes_written_per_user_byte"] = (
        counts.get("sources.bytes_written", 0.0) / max(1e-9, counts.get("sources.user_bytes", 0.0))
        if writes else 0.0)
    # one client commits, so a conflict is not retried: it fails its op
    out["sources.conflict_retries"] = sum(
        "CommitConflictException" in o.get("error", "") for o in writes)
    out["sources.prune_kept_frac"] = (
        counts.get("sources.prune_kept", 0.0) / counts["sources.prune_total"]
        if counts.get("sources.prune_total") else 0.0)
    syncs = [o for o in ops if o["label"] == "iceberg_sync"]
    out["iceberg.bytes_written"] = counts.get("iceberg.bytes_written", 0.0) / max(1, len(syncs))
    out["pipeline.statements"] = counts.get("pipeline.statements", 0.0) / n
    eligible = [o for o in ops if o["label"] in SUBSTITUTION_ELIGIBLE]
    out["plans.substituted_frac"] = (
        sum(any(e["reflection"] for e in o["executions"]) for o in eligible) / len(eligible)
        if eligible else 0.0)
    out["trace.overhead_frac"] = tracing_overhead(ops, untraced)
    ledgers = [led for _, led in rows]
    for k in ("jobs", "catalyst_outside_jobs", "graft_driver"):
        out[f"ledger.{k}_ms"] = sum(led[k] for led in ledgers) / n
    out["ledger.wall_ms"] = wall / n
    out["ops"] = len(ops)
    return out


def layers(records, cores):
    """Per-layer metrics of the traced phase, for the workload and per op
    label."""
    ops = ops_of(records, "traced")
    untraced = ops_of(records, "untraced") + ops_of(records, "after")
    phase = next(r for r in records if r.get("kind") == "phase" and r["phase"] == "traced")
    out = aggregate(ops, untraced, cores)
    out["jvm.heap_peak_mb"] = phase["heap_peak_mb"]
    space = one(records, "space")
    out["etl.space_amp"] = space["store_bytes"] / space["compact_bytes"] if space else 0.0
    by_label = {}
    for label in sorted({o["label"] for o in ops}):
        by_label[label] = aggregate([o for o in ops if o["label"] == label],
                                    [o for o in untraced if o["label"] == label], cores)
    return out, by_label
