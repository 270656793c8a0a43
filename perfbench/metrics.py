"""Arithmetic behind the benchmark's metrics: percentiles, interval unions,
self times, and the end-to-end and per-layer metrics derived from the raw
measurements the harness writes.
"""
import math
import statistics


def percentile(values, q):
    """The q-quantile (0 < q < 1) by linear interpolation between order
    statistics, the same rule as statistics.quantiles(method='inclusive')."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(values, q):
    """How many samples lie strictly above the q-quantile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def min_samples(q, beyond=10):
    """The fewest distinct samples of which at least `beyond` lie above the
    q-quantile: with n samples, n - 1 - floor((n - 1) * q) do."""
    n = beyond
    while n - 1 - math.floor((n - 1) * q) < beyond:
        n += 1
    return n


def union(intervals):
    """Merges [start, end] intervals into disjoint sorted ones."""
    out = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(x) for x in out]


def covered(intervals):
    """Total length covered by possibly overlapping intervals."""
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's length minus the part its children cover."""
    s, e = span
    return (e - s) - covered(clip(children, s, e))


def op_layers(op):
    """Splits one traced op's wall (ms) into disjoint layers.

    jobs: time any Spark job of the op was running. plan: Catalyst
    analysis/optimization/planning not overlapped by a job. build: the
    rest of the module call (work before the result is consumed).
    gap: the rest of the consumption (time between and around jobs).
    Jobs and phases are clipped to the op span; `outside` is the part of
    them that lay outside it before clipping (listener times that do not
    line up with the harness clock, or events of another op).
    """
    s, b, e = op["start"], op["build_end"], op["end"]
    jobs_raw = [(j["start"], j["end"] if j["end"] >= 0 else e) for j in op["jobs"]]
    phases_raw = [(p["start"], p["end"]) for pl in op["plans"] for p in pl["phases"]]
    jobs, phases = clip(jobs_raw, s, e), clip(phases_raw, s, e)
    busy = jobs + phases
    job_ms = covered(jobs)
    plan_ms = covered(busy) - job_ms
    build_ms = self_time((s, b), busy)
    gap_ms = self_time((b, e), busy)
    outside_ms = covered(jobs_raw + phases_raw) - covered(busy)
    return {"wall": e - s, "jobs": job_ms, "plan": plan_ms, "build": build_ms, "gap": gap_ms,
            "outside": outside_ms}


def layer_sum_error(lay):
    """How far the op's self times, with jobs and phases as the listeners
    timed them (not clipped to the op span), miss the op's wall, as a share
    of the wall. The clipped layers add up to the wall by construction."""
    return lay["outside"] / lay["wall"] if lay["wall"] > 0 else 0.0


def end_to_end(raw):
    passes = [p for p in raw["passes"] if not p["traced"]]
    lat = [x["wall_s"] for x in raw["execs"] if not x["traced"]]
    return {
        "setup_s": (raw["setup_s"], "s"),
        "batch_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "query_p50_s": (percentile(lat, 0.5), "s"),
        "query_p90_s": (percentile(lat, 0.9), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "live_heap_mb": (max(p["heap_mb"] for p in passes), "MB"),
    }


PER_LAYER_UNITS = {
    "build.s": "s", "build.jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.gap_s": "s",
    "scan.tasks": "count", "scan.task_s": "s", "scan.mb": "MB", "scan.max_task_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.write_s": "s",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_mb": "MB",
    "compute.task_s": "s", "compute.cpu_s": "s", "compute.gc_s": "s", "compute.max_task_s": "s",
    "compute.core_util": "ratio",
    "aqe.replans": "count", "plan.exchanges": "count", "plan.broadcasts": "count",
    "plan.sorts": "count", "plan.checkpoint_scans": "count",
    "storage.peak_mb": "MB", "jvm.peak_rss_mb": "MB", "host.anchor_s": "s",
    "trace.overhead": "ratio", "trace.layer_sum_error": "ratio",
}


def _pass_layers(ops, cores):
    """Per-layer sums over the ops of one traced pass."""
    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    wall = 0.0
    for op in ops:
        lay = op_layers(op)
        wall += lay["wall"]
        m["build.s"] += (op["build_end"] - op["start"]) / 1000
        m["build.jobs"] += sum(1 for j in op["jobs"] if j["start"] < op["build_end"])
        for pl in op["plans"]:
            for ph in pl["phases"]:
                key = "catalyst.%s_s" % ph["name"]
                if key in m:
                    m[key] += (ph["end"] - ph["start"]) / 1000
            m["plan.exchanges"] += pl["exchanges"]
            m["plan.broadcasts"] += pl["broadcasts"]
            m["plan.sorts"] += pl["sorts"]
            m["plan.checkpoint_scans"] += pl["checkpoint_scans"]
        m["aqe.replans"] += op["aqe_updates"]
        m["scheduler.jobs"] += len(op["jobs"])
        m["scheduler.gap_s"] += (lay["wall"] - lay["jobs"]) / 1000
        for st in op["stages"]:
            m["scheduler.stages"] += 1
            m["scheduler.tasks"] += st["tasks"]
            task_s = st["run_ms"] / 1000
            if st["input_bytes"] > 0:
                m["scan.tasks"] += st["tasks"]
                m["scan.task_s"] += task_s
                m["scan.mb"] += st["input_bytes"] / 2**20
                m["scan.max_task_s"] = max(m["scan.max_task_s"], st["max_task_ms"] / 1000)
            else:
                m["compute.task_s"] += task_s
                m["compute.cpu_s"] += st["cpu_ns"] / 1e9
                m["compute.gc_s"] += st["gc_ms"] / 1000
                m["compute.max_task_s"] = max(m["compute.max_task_s"], st["max_task_ms"] / 1000)
            m["shuffle.write_mb"] += st["shuffle_write_bytes"] / 2**20
            m["shuffle.read_mb"] += st["shuffle_read_bytes"] / 2**20
            m["shuffle.write_s"] += st["shuffle_write_ns"] / 1e9
            m["shuffle.fetch_wait_s"] += st["fetch_wait_ms"] / 1000
            m["shuffle.spill_mb"] += st["spill_bytes"] / 2**20
        m["storage.peak_mb"] = max(m["storage.peak_mb"], op["storage_peak_mb"])
        m["trace.layer_sum_error"] = max(m["trace.layer_sum_error"], layer_sum_error(lay))
    task_total = m["scan.task_s"] + m["compute.task_s"]
    m["compute.core_util"] = task_total / (wall / 1000 * cores) if wall > 0 else 0.0
    return m


def tracing_overhead(execs):
    """Relative cost of tracing, from pairs of passes (2k-1, 2k) in which
    each op is traced in one pass and untraced in the other. Ops traced in
    the first pass give r1 = traced / untraced wall and the others r2; a
    pass-to-pass drift by a factor d scales r1 by 1/d and r2 by d, so
    sqrt(r1 * r2) leaves the tracing cost alone. Pairs are averaged
    geometrically."""
    walls = {}
    for x in execs:
        walls.setdefault((x["pass"] + 1) // 2, {})[(x["pass"] % 2, x["name"])] = (x["traced"], x["wall_s"])
    logs = []
    for pair in walls.values():
        r = 1.0
        for first in (1, 0):  # ops traced in the first pass of the pair, then in the second
            names = [n for (p, n), (t, _) in pair.items() if p == first and t and (1 - p, n) in pair]
            if not names:
                break
            r *= sum(pair[(first, n)][1] for n in names) / sum(pair[(1 - first, n)][1] for n in names)
        else:
            logs.append(math.log(r) / 2)
    return math.exp(statistics.mean(logs)) - 1 if logs else float("nan")


def per_layer(raw):
    by_pair = {}  # the traced ops of a pair of passes make up one full pass
    for op in raw["spans"]:
        by_pair.setdefault((op["pass"] + 1) // 2, []).append(op)
    rows = [_pass_layers(ops, raw["cores"]) for _, ops in sorted(by_pair.items())]
    out = {k: statistics.mean(r[k] for r in rows) for k in PER_LAYER_UNITS}
    for k in ("scan.max_task_s", "compute.max_task_s", "storage.peak_mb", "trace.layer_sum_error"):
        out[k] = max(r[k] for r in rows)
    out["jvm.peak_rss_mb"] = raw["rss_peak_mb"] or 0.0
    out["host.anchor_s"] = raw["anchor_s"] or 0.0
    out["trace.overhead"] = tracing_overhead(raw["execs"])
    return {k: (v, PER_LAYER_UNITS[k]) for k, v in out.items()}


def module_times(raw):
    """Per-module seconds and, per op, seconds, Spark jobs and the share of
    its wall spent in Catalyst phases, averaged over the pairs of traced
    passes (for the side file)."""
    n_pass = len({(op["pass"] + 1) // 2 for op in raw["spans"]}) or 1
    ops, mods = {}, {}
    for op in raw["spans"]:
        wall = (op["end"] - op["start"]) / 1000
        catalyst = sum(p["end"] - p["start"] for pl in op["plans"] for p in pl["phases"]) / 1000
        o = ops.setdefault(op["name"], {"module": op["module"], "s": 0.0, "jobs": 0.0, "catalyst_s": 0.0})
        o["s"] += wall / n_pass
        o["jobs"] += len(op["jobs"]) / n_pass
        o["catalyst_s"] += catalyst / n_pass
        mods[op["module"]] = mods.get(op["module"], 0.0) + wall / n_pass
    for o in ops.values():
        o["planning_share"] = o["catalyst_s"] / o["s"] if o["s"] > 0 else 0.0
    return {"module_s": mods, "ops": ops}
