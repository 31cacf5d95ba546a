"""Turns a run's raw record into metrics: latency percentiles, interval
arithmetic for span self times and the driver gap, and the per-layer
numbers of the traced run.

Intervals are (start, end) pairs in one unit (seconds here)."""

import statistics

TAIL_BEYOND = 10


def union_length(intervals):
    """Length of the union of intervals; overlaps count once."""
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


def self_time(span, children):
    """A span's duration minus the time its children cover. Children may
    nest or overlap each other; covered time counts once, and only inside
    the span."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def driver_gap(spans, jobs):
    """Time inside the given spans that no Spark job interval covers."""
    return sum(self_time(sp, jobs) for sp in spans)


def layer_self_times(layers):
    """Exclusive time per layer of a nesting (outermost first): each layer
    is clipped to the union of the one above it, and keeps the time no
    deeper layer covers. The results sum to the outermost layer's union,
    so they account for the whole wall."""
    clipped = [list(layers[0])]
    for layer in layers[1:]:
        outer = clipped[-1]
        clipped.append([c for s, e in layer for o in outer for c in clip([(s, e)], *o)])
    unions = [union_length(layer) for layer in clipped] + [0.0]
    return [unions[i] - unions[i + 1] for i in range(len(clipped))]


def tail(latencies):
    """The highest latency percentile with at least TAIL_BEYOND samples
    beyond it: the (TAIL_BEYOND + 1)-th largest sample, which sits at
    percentile 100 * (n - TAIL_BEYOND) / n. Returns (value, percentile,
    sample count). With 2 * TAIL_BEYOND samples or fewer that sample is
    no tail (it sits at or below the median), and the maximum is
    reported as p100 instead."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 2 * TAIL_BEYOND:
        return xs[-1], 100.0, n
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


# --- the reported metrics -----------------------------------------------------

def end_to_end(result, setup_s, rows_per_cycle, space_amp):
    """Untraced metrics: (metrics, reported-only metrics). The second are
    printed but carry no regression bound: the tail flips between
    operation kinds from run to run, and the peak resident set follows the
    JVM's adaptive heap sizing (see README.md, Steadiness)."""
    lat = [(o["end_ns"] - o["start_ns"]) / 1e9 for o in result["ops"]]
    value, pct, n = tail(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (result["cycles"] * rows_per_cycle / result["wall_s"], "rows/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "space_amp": (space_amp, "ratio"),
    }
    reported = {
        "op_tail_s": (value, "s", f"p{pct:.4g} of {n} operations"),
        "rss_peak_mb": (result["rss_peak_mb"], "MiB", "VmHWM"),
    }
    return metrics, reported


LAYER_UNITS = {"_s": "s/cycle", "_bytes": "B/cycle", "bytes_written": "B/cycle"}


def per_layer(result, arrival_bytes, space_amp):
    """Traced metrics, per traced cycle (ratios as they are)."""
    traced = set(result["traced_cycles"])
    ns = 1e9
    spans = [dict(sp, start=sp["start_ns"] / ns, end=sp["end_ns"] / ns) for sp in result["spans"]]
    cycles = {int(sp["name"].split(":")[1]): (sp["start"], sp["end"])
              for sp in spans if sp["kind"] == "cycle"}
    on = [iv for c, iv in cycles.items() if c in traced]
    off = [iv for c, iv in cycles.items() if c not in traced]

    def within(t, group):
        return any(s <= t <= e for s, e in group)

    spans = [sp for sp in spans if sp["kind"] != "cycle" and within(sp["start"], on)]
    ops = [sp for sp in spans if sp["kind"] == "op"]
    sk = result["spark"]
    jobs = [(j["start_ms"] / 1e3, j["end_ms"] / 1e3) for j in sk["jobs"]]
    stages = [(s["start_ms"] / 1e3, s["end_ms"] / 1e3) for s in sk["stages"] if s["start_ms"] >= 0]
    stage_start = {s["id"]: s["start_ms"] for s in sk["stages"]}
    f = {name: i for i, name in enumerate(sk["task_fields"])}
    tasks = sk["tasks"]
    task_iv = [(t[f["launch_ms"]] / 1e3, t[f["finish_ms"]] / 1e3) for t in tasks]

    def tsum(field):
        return sum(t[f[field]] for t in tasks)

    def span_total(pred):
        return sum(sp["end"] - sp["start"] for sp in spans if pred(sp))

    def ivs(group):
        return [(sp["start"], sp["end"]) for sp in group]

    reads = [sp for sp in ops if sp["name"].startswith("read:")]
    read_files = sum(q["files"] for q in sk["queries"] if within(q["start_ms"] / 1e3, ivs(reads)))
    maint = ("engine.run:delete", "engine.run:compact_deletes", "engine.run:version_vacuum")
    clusters = ivs(sp for sp in spans if sp["name"] == "Dedup.clusters")
    batches = sk["batches"]

    def batch_ms(*keys):
        return sum(b["duration_ms"].get(k, 0) for b in batches for k in keys) / 1e3

    fin = result["finish"]
    cand, ver = fin.get("candidate_pairs", 0), fin.get("verified_pairs", 0)
    # traced cycles > operations > jobs > stages > tasks; the operation
    # layer's exclusive time is the driver gap
    acct = layer_self_times([on, ivs(ops), jobs, stages, task_iv])
    wall = sum(e - s for s, e in on)
    totals = {
        "config.parse_s": span_total(lambda sp: sp["name"] == "ConfigParser.parse"),
        "engine.analysis_s": sum(q["analysis_ms"] for q in sk["queries"]) / 1e3,
        "engine.optimization_s": sum(q["optimization_ms"] for q in sk["queries"]) / 1e3,
        "engine.planning_s": sum(q["planning_ms"] for q in sk["queries"]) / 1e3,
        "engine.driver_gap_s": driver_gap(ivs(ops), jobs),
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.failed_tasks": tsum("failed"),
        "spark.job_s": sum(e - s for s, e in jobs),
        "spark.executor_run_s": tsum("run_ms") / 1e3,
        "spark.executor_cpu_s": tsum("cpu_ns") / 1e9,
        "spark.gc_s": tsum("gc_ms") / 1e3,
        "spark.task_wait_s": sum(max(t[f["launch_ms"]] - stage_start.get(t[f["stage"]], t[f["launch_ms"]]), 0)
                                 for t in tasks) / 1e3,
        "spark.input_bytes": tsum("input_bytes"),
        "spark.shuffle_write_bytes": tsum("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": tsum("shuffle_read_bytes"),
        "spark.spill_bytes": tsum("spill_bytes"),
        "sinks.bytes_written": result["fs"]["bytes_written"],
        "sinks.fs_ops": result["fs"]["calls"],
        "sinks.read_s": sum(o["end"] - o["start"] for o in reads),
        "sinks.maintenance_s": sum(o["end"] - o["start"] for o in ops if o["name"] in maint),
        "streaming.batches": len(batches),
        "streaming.add_batch_s": batch_ms("addBatch"),
        "streaming.plan_s": batch_ms("queryPlanning"),
        "streaming.offsets_s": batch_ms("latestOffset", "getBatch"),
        "streaming.commit_s": batch_ms("walCommit", "commitOffsets"),
        "operators.candidates_s": span_total(
            lambda sp: sp["name"] in ("Dedup.minhashLshCapped", "Dedup.cappedEdges")),
        "operators.clusters_s": span_total(lambda sp: sp["name"] == "Dedup.clusters"),
        "operators.keep_best_s": span_total(lambda sp: sp["name"] == "Dedup.keepBest"),
        "operators.cluster_jobs": sum(1 for j in sk["jobs"] if within(j["start_ms"] / 1e3, clusters)),
        "trace.cycle_self_s": acct[0],
        "spark.job_self_s": acct[2],
        "spark.stage_self_s": acct[3],
        "spark.task_busy_s": acct[4],
    }
    out = {}
    for name, v in totals.items():
        unit = next((u for suf, u in LAYER_UNITS.items() if name.endswith(suf)), "count/cycle")
        out[name] = (v / len(on), unit)
    written = result["fs"]["bytes_written"]
    denom = arrival_bytes if arrival_bytes else totals["spark.input_bytes"]
    out.update({
        "sinks.write_amp": (written / denom if denom else 0.0, "ratio"),
        "sinks.read_files": (read_files / len(reads) if reads else 0.0, "files/read"),
        "sinks.space_amp": (space_amp, "ratio"),
        "operators.candidate_pairs": (cand, "count"),
        "operators.verified_pairs": (ver, "count"),
        "operators.pair_yield": (ver / cand if cand else 0.0, "ratio"),
        # traced and untraced cycles interleave, so warm-up drift cancels
        "trace.overhead_frac": ((wall / len(on)) / (sum(e - s for s, e in off) / len(off)) - 1,
                                "ratio"),
        "trace.accounted_frac": (sum(acct) / wall, "ratio"),
    })
    return out
