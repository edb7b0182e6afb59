"""Turn one raw run record (written by perfbench.Main) into metrics.

Pure functions over plain data, so the rules the benchmark reports by are
tested on their own (test_perfbench.py).
"""
import bisect
import math
import statistics

def percentile(values, q):
    """The q-th percentile (0..100), linear between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n, q):
    """How many of n samples lie strictly above the q-th percentile's rank."""
    return n - 1 - math.floor((n - 1) * q / 100.0)


def tail(values, q, need=10):
    """(q-th percentile, sample count, samples beyond it); a percentile
    with fewer than `need` samples beyond it is not reported (None)."""
    n = len(values)
    beyond = samples_beyond(n, q) if n else 0
    return (percentile(values, q) if beyond >= need else None), n, beyond


def merge(intervals):
    """Union of [start, end] intervals as sorted disjoint intervals."""
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def union_length(intervals):
    return sum(e - s for s, e in merge(intervals))


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_times(spans):
    """{span id: duration minus the union of its children's time}.
    Children may overlap (Par.both runs two legs at once), so their
    intervals are merged before being subtracted."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(
            (s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        kids = clip(children.get(s["id"], []), s["start_ms"], s["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - union_length(kids)
    return out


def span_summary(spans):
    """{name: (count, median duration ms, median self time ms)}."""
    st = self_times(spans)
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(
            (s["end_ms"] - s["start_ms"], st[s["id"]]))
    return {n: (len(v), statistics.median(d for d, _ in v),
                statistics.median(x for _, x in v))
            for n, v in sorted(by.items())}


def liveness_lags(feed, checks):
    """Lag (ms) of every record fed open loop: the first check that counts
    it minus its due time. `feed` rows are [due, sent, first index,
    count]; `checks` rows are [time, records counted], in time order."""
    times = [c[0] for c in checks]
    counted = [c[1] for c in checks]
    lags = []
    for due, _sent, first, count in feed:
        for i in range(int(first), int(first + count)):
            k = bisect.bisect_right(counted, i)  # first check with > i
            if k == len(counted):
                raise ValueError(f"record {i} was never counted")
            lags.append(times[k] - due)
    return lags


def recomputed_tasks(stages):
    """Tasks of stages that compute an RDD another stage of the same op
    already computed (a lazy checkpoint first read twice at once is the
    case this catches). A stage does not compute the ancestors of a
    persisted RDD that a stage completed before it was submitted; those
    are read from the block store."""
    done = []  # (completed_ms, persisted rdd ids) of earlier stages
    computed_before = set()
    total = 0
    for st in sorted(stages, key=lambda s: (s["submitted_ms"], s["id"])):
        rdds = {r["id"]: r for r in st["rdds"]}
        cached = set()
        for completed, persisted in done:
            if completed and completed <= st["submitted_ms"]:
                cached |= persisted
        # walk down from the RDDs no other RDD of the stage depends on
        parents_of_others = {p for r in rdds.values() for p in r["parents"]}
        stack = [i for i in rdds if i not in parents_of_others]
        mine = set()
        while stack:
            i = stack.pop()
            if i in mine or i not in rdds:
                continue
            mine.add(i)
            if i in cached:
                continue  # served from the block store
            stack.extend(rdds[i]["parents"])
        if mine & computed_before - cached:
            total += st["tasks"]
        computed_before |= mine - cached
        done.append((st["completed_ms"],
                     {i for i, r in rdds.items() if r["persisted"]}))
    return total


def op_layers(trace, start, end, cores):
    """Layer metrics of one op, from the listener events in its window."""
    jobs = [j for j in trace["jobs"] if start <= j["start_ms"] <= end]
    stages = [s for s in trace["stages"] if start <= s["submitted_ms"] <= end]
    queries = [q for q in trace["queries"] if start <= q["end_ms"] <= end]
    busy_ms = union_length(clip([(j["start_ms"], j["end_ms"]) for j in jobs],
                                start, end))
    wall_ms = end - start

    def total(field):
        return sum(s[field] for s in stages)
    run_s = total("run_ms") / 1e3
    busy_s = busy_ms / 1e3
    return {
        "catalyst.analysis_ms": sum(q["analysis_ms"] for q in queries),
        "catalyst.optimization_ms": sum(q["optimization_ms"] for q in queries),
        "catalyst.planning_ms": sum(q["planning_ms"] for q in queries),
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.stages_skipped": max(0, sum(len(j["stage_ids"]) for j in jobs)
                                    - len(stages)),
        "sched.tasks": total("tasks"),
        "sched.task_failures": total("task_failures"),
        "sched.scheduler_delay_s": total("sched_delay_ms") / 1e3,
        "sched.job_busy_s": busy_s,
        "sched.driver_gap_s": (wall_ms - busy_ms) / 1e3,
        "sched.recomputed_tasks": recomputed_tasks(stages),
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": total("cpu_ns") / 1e9,
        "exec.gc_s": total("gc_ms") / 1e3,
        "exec.busy_frac": run_s / (busy_s * cores) if busy_s else 0.0,
        "input.bytes": total("input_bytes"),
        "input.records": total("input_records"),
        "shuffle.write_bytes": total("shuffle_write_bytes"),
        "shuffle.read_bytes": total("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": total("fetch_wait_ms") / 1e3,
        "shuffle.spill_bytes": total("spill_bytes"),
        "storage.block_put_bytes": sum(b for t, b in trace["blocks"]
                                       if start <= t <= end),
        "driver.result_bytes": total("result_bytes"),
    }


def median_or_zero(values):
    values = list(values)
    return statistics.median(values) if values else 0.0


def heap_peak(gcs, windows):
    """(highest post-GC heap MB among the GCs that ended inside a window,
    how many did). With none inside, the occupancy the last earlier GC
    left, which held through the windows."""
    inside = [mb for t, mb in gcs if any(lo <= t <= hi for lo, hi in windows)]
    if inside:
        return max(inside), len(inside)
    end = max(hi for _, hi in windows)
    before = [mb for t, mb in gcs if t <= end]
    if not before:
        raise ValueError("no GC before the end of the timed region")
    return before[-1], 0


def phase_b_window(rec):
    """[first due time, last check] of the timed phase-B feed."""
    return rec["feed"][0][0], rec["checks"][-1][0]


def timed_heap_peak(rec, timed):
    """heap_peak over the windows of the timed ops and the phase-B feed."""
    windows = [(o["start_ms"], o["end_ms"]) for o in timed]
    if "feed" in rec:
        windows.append(phase_b_window(rec))
    return heap_peak(rec["heap_gcs"], windows)


def end_to_end(rec):
    """The end-to-end metrics of an untraced run, and facts for the run
    record."""
    timed = [o for o in rec["ops"] if o["traced"] == rec["traced"]]
    walls = [o["wall_s"] for o in timed]
    peak, gcs_inside = timed_heap_peak(rec, timed)
    out = {
        "setup_s": rec["setup_s"],
        "op_s": statistics.median(walls),
        "cpu_s_per_op": sum(o["cpu_s"] for o in timed) / len(timed),
    }
    if "feed" in rec:
        lags = liveness_lags(rec["feed"], rec["checks"])
    else:
        # closed loop: an op's input is due when the op is issued, so its
        # lag is the op's wall
        lags = [w * 1e3 for w in walls]
    p90, n, beyond = tail(lags, 90)
    out["lag_p50_ms"] = percentile(lags, 50)
    # too few samples for p90: the highest one there is, flagged in the
    # run record by lag_beyond_p90 < 10
    out["lag_p90_ms"] = p90 if p90 is not None else max(lags)
    return out, {"lag_samples": n, "lag_beyond_p90": beyond,
                 "peak_heap_mb": peak, "heap_gcs_in_region": gcs_inside,
                 "jit_s_per_op": sum(o["jit_s"] for o in timed) / len(timed)}


# per micro-batch layer figures of phase B (op_layers name -> metric name)
PHASE_B_LAYERS = ("catalyst.analysis_ms", "catalyst.optimization_ms",
                  "catalyst.planning_ms", "sched.jobs", "sched.stages",
                  "sched.tasks", "sched.scheduler_delay_s", "exec.task_run_s",
                  "shuffle.write_bytes")


def per_layer(rec, cores):
    """The per-layer metrics of a traced run: medians per traced op. A
    metric the workload has no source for is missing or 0."""
    trace = rec["trace"]
    ops = [o for o in rec["ops"] if o["traced"]]
    # the untraced op just before the traced ones (an untraced op before it
    # warms up)
    base = [o["wall_s"] for o in rec["ops"] if not o["traced"]][-1:]
    layers = [op_layers(trace, o["start_ms"], o["end_ms"], cores) for o in ops]
    out = {name: statistics.median(l[name] for l in layers) for name in layers[0]}
    spans = trace["spans"]

    def span_median(name, scale):
        return median_or_zero((s["end_ms"] - s["start_ms"]) / scale
                              for s in spans if s["name"] == name)
    for name in ("query.build", "query.drain", "sources.read_warc",
                 "ext.url_dedup", "ext.extract"):
        out[name + "_s"] = span_median(name, 1e3)
    out["health.bridge_update_ms"] = span_median("health.bridge_update", 1)
    out["health.check_ms"] = span_median("health.check", 1)
    if "gen" in rec:
        for k, v in rec["gen"].items():
            out["gen." + k] = v
        out["exec.parallel_speedup"] = rec["local1_op_s"] / statistics.median(
            o["wall_s"] for o in rec["ops"])
    if "feed" in rec:
        lo, hi = phase_b_window(rec)
        batches = [p for p in trace["progress"]
                   if p["input_rows"] > 0 and lo <= p["at_ms"] <= hi + 1e3]
        for metric, key in (("trigger_ms", "triggerExecution"),
                            ("planning_ms", "queryPlanning"),
                            ("add_batch_ms", "addBatch"),
                            ("wal_commit_ms", "walCommit")):
            out["stream." + metric] = median_or_zero(
                p["duration_ms"].get(key, 0) for p in batches)
        out["stream.state_rows"] = median_or_zero(p["state_rows"] for p in batches)
        out["stream.state_mem_bytes"] = median_or_zero(
            p["state_mem_bytes"] for p in batches)
        out["stream.feeder_late_ms"] = statistics.median(
            sent - due for due, sent, _, _ in rec["feed"])
        # the whole timed feed is one window; its totals per micro-batch
        in_window = [p for p in trace["progress"] if lo <= p["at_ms"] <= hi + 1e3]
        window = op_layers(trace, lo, hi, cores)
        for name in PHASE_B_LAYERS:
            out["phase_b." + name] = window[name] / max(1, len(in_window))
    out["heap.peak_mb"] = timed_heap_peak(rec, ops)[0]
    out["trace_overhead_frac"] = (
        statistics.median(o["wall_s"] for o in ops) / statistics.median(base) - 1
        if base else 0.0)
    return out
