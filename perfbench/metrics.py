"""Turns the harness's result.json (and, traced, its spans) into the
benchmark's end-to-end and per-layer metrics."""
import math
import statistics

import stats

TAIL = {"curate": 90, "stream": 99}
STREAM_QUERIES = ("state", "windows")
# Largest share of the traced operations' wall time that their span trees
# may leave unplaced (listener intervals clipped at, or starting before, a
# span boundary) before the traced run counts as failed.  It bounds the
# total, not each operation, so one short operation that a job of the one
# before overlaps does not fail the run.
SELF_SUM_TOLERANCE_PCT = 5.0
# Listener timestamps are whole milliseconds, truncated: an event stamped t
# happened in [t, t + 1 ms).  A listener interval is placed by the part it
# certainly covers, from the end of its start millisecond, so one that began
# just after a harness span began does not seem to begin before it.
LISTENER_TICK_US = 1000


def _m(value, unit):
    return {"value": value, "unit": unit}


def _ms(o):
    return (o["end_us"] - o["start_us"]) / 1000.0


def ops_of(workload, result):
    """The measured operations: the loop's calls, or for the stream every
    micro-batch that read data."""
    m = result["measured"]
    if workload != "stream":
        return m["ops"]
    return [dict(p, name=p["query"], ok=True) for p in m["progress"]
            if p["query"] in STREAM_QUERIES and p["rows"] > 0]


def end_to_end(workload, result, stream_latencies=None):
    """Returns (metrics, operations attempted, details)."""
    m = result["measured"]
    ops = [o for o in ops_of(workload, result) if not o["traced"]]
    if workload == "stream":
        lat = stream_latencies or [float("nan")]
        throughput = result["prime"]["backlog"] / m["catchup_s"]
    else:
        lat = [_ms(o) for o in ops]
        throughput = result["prime"]["docs"] / (statistics.median(lat) / 1000.0)
    tail = TAIL[workload]
    metrics = {
        "setup_s": _m(result["setup_s"], "s"),
        "throughput_per_s": _m(throughput, "1/s"),
        "latency_p50_ms": _m(statistics.median(lat), "ms"),
        "latency_tail_ms": _m(stats.percentile(lat, tail), "ms"),
        "peak_rss_mb": _m(result["peak_rss_mb"], "MB"),
    }
    info = {"samples": len(lat), "tail_percentile": tail, "op_ms": [round(_ms(o)) for o in ops],
            "samples_beyond_tail": stats.beyond(lat, tail),
            "setup_parts_s": {"session": result["session_s"], "first_pass": result["prime_s"]}}
    return metrics, len(ops), info


def _trees(spans, layer):
    """One containment tree per traced operation: the harness spans under it
    plus the listener intervals (planning phases, jobs) that fall inside.
    Jobs that run at the same time (stages adaptive execution submits
    together) are one interval, their union; so are overlapping phases.
    Returns (tree, unplaced us) pairs."""
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["layer"] == "op" and s["op"] > 0]
    late = LISTENER_TICK_US - 1
    jobs = stats.merge((s + late, e) for s, e in layer.get("jobs", []))
    phases = stats.merge((s + late, e) for _, s, e in layer.get("phases", []))
    listener = ([{"start": s, "end": e, "layer": "jobs"} for s, e in jobs] +
                [{"start": s, "end": e, "layer": "catalyst"} for s, e in phases])
    trees = []
    for r in roots:
        nodes = []
        for s in spans:
            p = s["parent"]
            while p and p != r["id"]:
                p = by_id[p]["parent"] if p in by_id else 0
            if p == r["id"]:
                nodes.append({"start": s["start_us"], "end": s["end_us"], "layer": s["layer"]})
        nodes += listener
        trees.append(stats.nest({"start": r["start_us"], "end": r["end_us"], "layer": "op"}, nodes))
    return trees


def self_time_check(spans, layer):
    """Per-layer self time summed over the traced operations, the
    driver-only time of each, each one's unplaced time as a percentage of
    its wall time, and the unplaced share of all of them."""
    selfs, errors, driver_only = {}, [], []
    jobs = [tuple(j) for j in layer.get("jobs", [])]
    lost_total = wall_total = 0
    for t, lost in _trees(spans, layer):
        dur = t["end"] - t["start"]
        for k, v in stats.self_times(t).items():
            selfs[k] = selfs.get(k, 0.0) + v / 1000.0
        errors.append(100.0 * lost / max(dur, 1))
        lost_total += lost
        wall_total += dur
        driver_only.append((dur - stats.union_length(jobs, t["start"], t["end"])) / 1000.0)
    return selfs, errors, driver_only, 100.0 * lost_total / max(wall_total, 1)


def per_layer(workload, result, spans, details):
    """Returns (metrics, details, failures) for a traced run: one failure
    when the span trees leave more than the tolerance unplaced."""
    m = result["measured"]
    layer = result["layer"]
    c = layer.get("counters", {})
    switch = result["window"]["trace_from_us"] or float("inf")
    ops = ops_of(workload, result)
    after = [o for o in ops if o["start_us"] >= switch]
    traced = [o for o in after if o["traced"]]
    if workload == "stream":
        # The stream cannot alternate: its batches before the listeners went
        # in are the untraced reference.
        untraced = [o for o in ops if m["phase2_t0_ms"] * 1000 <= o["start_us"] < switch]
        wall_ms = (result["window"]["end_us"] - switch) / 1000.0 if after else 0.0
    else:
        untraced = [o for o in after if not o["traced"]]
        wall_ms = sum(_ms(o) for o in after)
    n = max(len(after), 1)

    def per(k):
        return c.get(k, 0.0) / n

    selfs, errors, driver_only, error = self_time_check(spans, layer)
    nt = max(len(errors), 1)
    api = [s for s in spans if s["layer"] == "api"]
    slots = result["slots"]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    ex = result.get("extras", {})
    prefix = ex.get("prefix_ms", {})
    scaling = 0.0
    if workload == "curate" and ex.get("one_slot_pass_s"):
        pass4 = statistics.median([_ms(o) for o in ops]) / 1000.0
        scaling = ex["one_slot_pass_s"] / pass4 / slots
    out = {
        "api.build_ms": _m(mean([s["end_us"] - s["start_us"] for s in api]) / 1000.0, "ms"),
        "api.eager_jobs": _m(mean([s["counts"].get("jobs", 0) for s in api]), "count"),
        "catalyst.analysis_ms": _m(per("analysis_ms"), "ms"),
        "catalyst.optimization_ms": _m(per("optimization_ms"), "ms"),
        "catalyst.planning_ms": _m(per("planning_ms"), "ms"),
        "catalyst.codegen_ms": _m(per("codegen_ms"), "ms"),
        "catalyst.codegen_classes": _m(per("codegen_classes"), "count"),
        "scheduler.jobs": _m(per("jobs"), "count"),
        "scheduler.stages": _m(per("stages"), "count"),
        "scheduler.tasks": _m(per("tasks"), "count"),
        "scheduler.driver_only_ms": _m(mean(driver_only), "ms"),
        "scheduler.empty_task_ratio": _m(c.get("empty_tasks", 0) / max(c.get("tasks", 0), 1), "ratio"),
        "scheduler.cache_jobs": _m(per("cache_jobs"), "count"),
        "executor.task_cpu_ms": _m(per("task_cpu_ms"), "ms"),
        "executor.task_run_ms": _m(per("task_run_ms"), "ms"),
        "executor.gc_ms": _m(per("gc_ms"), "ms"),
        "executor.wait_ms": _m(per("task_run_ms") - per("task_cpu_ms"), "ms"),
        "executor.busy_ratio": _m(c.get("task_run_ms", 0) / max(wall_ms * slots, 1), "ratio"),
        "executor.scaling_efficiency": _m(scaling, "ratio"),
        "curate.op.exact_ms": _m(prefix.get("exact", 0.0), "ms"),
        "curate.op.minhash_ms": _m(prefix.get("minhash", 0.0) - prefix.get("exact", 0.0), "ms"),
        "curate.op.quality_langid_ms": _m(
            prefix.get("quality_langid", 0.0) - prefix.get("minhash", 0.0), "ms"),
        "curate.op.aggregate_ms": _m(
            prefix.get("aggregate", 0.0) - prefix.get("quality_langid", 0.0), "ms"),
        "dedup.candidate_pairs": _m(details.get("candidate_pairs", 0), "count"),
        "dedup.verified_ratio": _m(details.get("verified_ratio", 0.0), "ratio"),
        "exchange.shuffle_write_bytes": _m(per("shuffle_write_bytes"), "bytes"),
        "exchange.shuffle_read_bytes": _m(per("shuffle_read_bytes"), "bytes"),
        "exchange.fetch_wait_ms": _m(per("fetch_wait_ms"), "ms"),
        "exchange.spill_bytes": _m(per("spill_bytes"), "bytes"),
        "exchange.skew": _m(statistics.median(layer["skews"]) if layer.get("skews") else 1.0, "ratio"),
        "sources.input_rows": _m(per("input_rows"), "rows"),
        "sources.input_bytes": _m(per("input_bytes"), "bytes"),
        "trace.overhead_pct": _m(_overhead(traced, untraced), "%"),
        "trace.self_sum_error_pct": _m(error, "%"),
    }
    out.update(_stream_layers(result, details) if workload == "stream" else
               {k: _m(0.0, u) for k, u in STREAM_LAYER_UNITS.items()})
    for k in ("op", "api", "action", "catalyst", "jobs"):
        out[f"self.{k}_ms"] = _m(selfs.get(k, 0.0) / nt, "ms")
    over = int(error > SELF_SUM_TOLERANCE_PCT)
    info = {"traced_ops": len(traced), "untraced_reference_ops": len(untraced),
            "self_sum_error_pct_per_op_max": max(errors) if errors else 0.0,
            "self_sum_error_pct_per_op_median": statistics.median(errors) if errors else 0.0,
            "self_sum_tolerance_pct": SELF_SUM_TOLERANCE_PCT,
            "self_sum_within_tolerance": not over}
    return out, info, over


STREAM_LAYER_UNITS = {
    "sources.offset_ms": "ms", "sources.backlog_events": "events",
    "sources.backlog_slope_per_s": "events/s", "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms", "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_ms": "ms", "state.rows_total": "rows",
    "state.rows_updated": "rows", "state.memory_bytes": "bytes", "state.commit_ms": "ms",
    "state.late_rows_dropped": "rows", "sinks.add_batch_ms": "ms", "sinks.rows_out": "rows",
    "stream.gen_late_ms": "ms",
}


def _stream_layers(result, details):
    """The stream's own layers, from the phase-2 micro-batches' progress."""
    m = result["measured"]
    p2 = [p for p in ops_of("stream", result) if p["start_us"] >= m["phase2_t0_ms"] * 1000]
    state = [p for p in p2 if p["query"] == "state"]
    backlog = m["backlog_samples"]

    def dur(p, k):
        return p["duration_ms"].get(k, 0)

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    values = {
        "sources.offset_ms": mean([dur(p, "latestOffset") + dur(p, "getBatch") for p in p2]),
        "sources.backlog_events": mean([b[1] - b[2] for b in backlog]),
        "sources.backlog_slope_per_s": stats.slope([(b[0] / 1e6, b[1] - b[2]) for b in backlog]),
        "streaming.batches": len(p2),
        "streaming.batch_ms_p50": statistics.median([dur(p, "triggerExecution") for p in state])
        if state else 0.0,
        "streaming.planning_ms": mean([dur(p, "queryPlanning") for p in p2]),
        "streaming.wal_commit_ms": mean([dur(p, "walCommit") for p in p2]),
        "streaming.commit_ms": mean([dur(p, "commitOffsets") for p in p2]),
        "state.rows_total": state[-1]["state_rows_total"] if state else 0,
        "state.rows_updated": mean([p["state_rows_updated"] for p in state]),
        "state.memory_bytes": state[-1]["state_memory_bytes"] if state else 0,
        "state.commit_ms": mean([p["state_commit_ms"] for p in p2]),
        "state.late_rows_dropped": sum(p["late_rows_dropped"] for p in m["progress"]
                                       if p["query"] == "state"),
        "sinks.add_batch_ms": mean([dur(p, "addBatch") for p in p2]),
        "sinks.rows_out": details.get("sink_rows", 0),
        "stream.gen_late_ms": statistics.median(m["gen_late_ms"]) if m["gen_late_ms"] else 0.0,
    }
    return {k: _m(v, STREAM_LAYER_UNITS[k]) for k, v in values.items()}


def _overhead(traced, untraced):
    """Tracing overhead: traced operations against untraced ones, matched by
    name (geometric mean of median ratios)."""
    ratios = []
    for name in {o["name"] for o in traced}:
        a = [_ms(o) for o in traced if o["name"] == name]
        b = [_ms(o) for o in untraced if o["name"] == name]
        if a and b:
            ratios.append(statistics.median(a) / statistics.median(b))
    if not ratios:
        return 0.0
    return 100.0 * (math.exp(sum(math.log(r) for r in ratios) / len(ratios)) - 1.0)
