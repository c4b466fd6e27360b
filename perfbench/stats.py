"""Pure functions that turn one run record (written by the JVM harness)
into the benchmark's metrics. Kept apart from run.py so the unit tests
need no JVM."""
import statistics

# The operation whose latency is each workload's op_p50_s.
MAIN_OP = {"profile": "exact_report", "corpus_funnel": "funnel"}

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "1/s"}

# Profiler passes, by the job description the profiler sets on each.
PASSES = {
    "profiler.distinct_s": ["profile: passA-distinct"],
    "profiler.quantiles_s": ["profile: passB-quantiles"],
    "profiler.moments_s": ["profile: passA-base", ""],
    "profiler.histogram_s": ["profile: passC-histograms"],
    "profiler.freq_s": ["profile: passC-freq"],
    "profiler.corr_s": ["profile: passD-pearson"],
    "profiler.spearman_s": ["profile: passD2-spearman"],
}

# Per-layer metrics that are the median self time of one span name.
SPAN_TIMES = {
    "profiler.profile_s": "profiler.profile",
    "profiler.profile_fused_s": "profiler.profile_fused",
    "functions.multisketch_agg_s": "functions.multisketch_agg",
    "functions.exact_pctl_agg_s": "functions.exact_pctl_agg",
    "functions.comoment_agg_s": "functions.comoment_agg",
    "report.render_s": "report.render",
    "report.sample_s": "report.html",
    "pipeline.quality_s": "pipeline.quality",
    "pipeline.dedup_s": "pipeline.dedup",
    "pipeline.decontam_s": "pipeline.decontam",
    "ops.repetition_s": "ops.repetition",
    "ops.lsh_candidates_s": "ops.lsh_candidates",
    "ops.verified_pairs_s": "ops.verified_pairs",
    "ops.clusters_s": "ops.clusters",
    "ops.bloom_decontam_s": "ops.bloom_decontam",
}

ENGINE = {"engine.jobs": "count", "engine.stages": "count",
          "engine.tasks": "count", "engine.sched_delay_s": "s",
          "engine.core_busy_frac": "fraction",
          "engine.input_records_per_row": "ratio",
          "engine.shuffle_write_bytes": "bytes",
          "engine.shuffle_read_bytes": "bytes", "engine.spill_bytes": "bytes",
          "engine.gc_s": "s", "engine.output_bytes": "bytes"}

PER_LAYER = dict(ENGINE)
PER_LAYER.update({k: "s" for k in SPAN_TIMES})
PER_LAYER.update({k: "s" for k in PASSES})
PER_LAYER.update({
    "profiler.pass_overlap": "ratio", "report.html_bytes": "bytes",
    "pipeline.n_corpus": "count", "pipeline.n_quality": "count",
    "pipeline.n_dedup": "count", "pipeline.n_clean": "count",
    "ops.lsh_precision": "ratio", "ops.planted_recall": "ratio",
    "trace.overhead_frac": "ratio"})

# Tail percentiles a latency may be reported at, highest first.
TAILS = (99.9, 99.0, 90.0)


def tail_percentile(n):
    """The highest tail percentile with at least ten samples beyond it
    among n samples, or None when n is too small for any."""
    for p in TAILS:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile of a non-empty list."""
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, int(-(-p * len(xs) // 100)) - 1))
    return xs[k]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover; the
    children may overlap each other."""
    s, e = span["start_ns"], span["end_ns"]
    clipped = [(max(s, c["start_ns"]), min(e, c["end_ns"])) for c in children]
    return (e - s) - union_length([(a, b) for a, b in clipped if b > a])


def duration_s(x):
    return (x["end_ns"] - x["start_ns"]) / 1e9


def latency(ops, kind):
    """Median and tail of the successful operations of one kind. Failed
    operations are left out of the latency and counted by error_rate."""
    xs = [duration_s(o) for o in ops if o["kind"] == kind and o["ok"]]
    if not xs:
        return {"n": 0}
    out = {"n": len(xs), "p50": statistics.median(xs)}
    tail = tail_percentile(len(xs))
    if tail is not None:
        out[f"p{tail:g}"] = percentile(xs, tail)
    return out


def error_rate(ops):
    return sum(1 for o in ops if not o["ok"]) / len(ops) if ops else 0.0


def end_to_end(rec):
    ops = rec["ops"]
    main = latency(ops, MAIN_OP[rec["workload"]])
    rows = sum(o["rows"] for o in ops if o["ok"])
    return {"setup_s": rec["setup_s"],
            "op_p50_s": main.get("p50", 0.0),
            "rows_per_s": rows / rec["timed_s"] if rec["timed_s"] > 0 else 0.0}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def _subtree(span_id, kids):
    out, todo = [], [span_id]
    while todo:
        i = todo.pop()
        out.append(i)
        todo += [c["id"] for c in kids.get(i, [])]
    return out


def per_layer(rec, cores):
    spans, jobs = rec["spans"], rec["jobs"]
    kids = _children(spans)
    counters = {c["span"]: c for c in rec["counters"]}
    notes = rec["notes"]
    main = MAIN_OP[rec["workload"]]
    m = {k: 0.0 for k in PER_LAYER}

    def selfs(name):
        return [self_time(s, kids.get(s["id"], [])) / 1e9
                for s in spans if s["name"] == name]

    for metric, name in SPAN_TIMES.items():
        m[metric] = _median(selfs(name))

    # engine counters of each traced main operation, over its span tree
    op_spans = {s["op"]: s for s in spans if s["name"] == f"op.{main}"}
    per_op = {k: [] for k in ENGINE}
    for o in rec["ops"]:
        s = op_spans.get(o["op"])
        if not (o["traced"] and o["ok"] and s):
            continue
        tot = {}
        for i in _subtree(s["id"], kids):
            for k, v in counters.get(i, {}).items():
                if k != "span":
                    tot[k] = tot.get(k, 0) + v
        wall = duration_s(s)
        for k in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "output_bytes"):
            per_op[f"engine.{k}"].append(tot.get(k, 0))
        per_op["engine.sched_delay_s"].append(tot.get("sched_delay_ms", 0) / 1e3)
        per_op["engine.gc_s"].append(tot.get("gc_ms", 0) / 1e3)
        per_op["engine.core_busy_frac"].append(
            tot.get("run_ms", 0) / 1e3 / (wall * cores))
        per_op["engine.input_records_per_row"].append(
            tot.get("input_records", 0) / o["rows"] if o["rows"] else 0.0)
    for k, xs in per_op.items():
        m[k] = _median(xs)

    # profiler passes: union of the intervals of each pass's jobs; jobs
    # the profiler did not tag ran on the calling thread
    per_pass = {k: [] for k in PASSES}
    overlap = []
    for p in (s for s in spans if s["name"] == "profiler.profile"):
        by_pass = {}
        for j in jobs:
            if j["span"] == p["id"] and j["end_ns"] > 0:
                key = j["desc"] if j["desc"].startswith("profile: ") else ""
                by_pass.setdefault(key, []).append((j["start_ns"], j["end_ns"]))
        for k, keys in PASSES.items():
            per_pass[k].append(union_length(
                [iv for key in keys for iv in by_pass.get(key, [])]) / 1e9)
        overlap.append(sum(union_length(v) for v in by_pass.values())
                       / (p["end_ns"] - p["start_ns"]))
    for k, xs in per_pass.items():
        m[k] = _median(xs)
    m["profiler.pass_overlap"] = _median(overlap)

    num = lambda k: float(notes.get(k, 0) or 0)
    m["report.html_bytes"] = num("report.html_bytes")
    for k in ("n_corpus", "n_quality", "n_dedup", "n_clean"):
        m[f"pipeline.{k}"] = num(f"pipeline.{k}")
    if num("ops.candidate_pairs"):
        m["ops.lsh_precision"] = num("ops.verified_pairs") / num("ops.candidate_pairs")
    m["ops.planted_recall"] = num("ops.planted_recall")

    m["trace.overhead_frac"] = tracing_overhead(
        [o for o in rec["ops"] if o["kind"] == main and o["ok"]])
    return m


def tracing_overhead(ops):
    """Median over traced operations of their latency against the mean of
    the untraced operations just before and after them, minus one.
    Comparing with both neighbours cancels a steady warm-up trend."""
    ratios = []
    for prev, cur, nxt in zip(ops, ops[1:], ops[2:]):
        if cur["traced"] and not prev["traced"] and not nxt["traced"]:
            base = (duration_s(prev) + duration_s(nxt)) / 2
            ratios.append(duration_s(cur) / base - 1.0)
    return _median(ratios)


def fingerprint(rec):
    """What two runs must share to be compared: the workload, its
    generated inputs, and the engine and run settings."""
    return {"workload": rec["workload"], "trace": rec["trace"],
            "inputs": rec["inputs"], "settings": rec["settings"]}


class FingerprintMismatch(Exception):
    pass


def compare(a, b):
    """Per-metric ratio b/a of two run results; refuses runs whose
    fingerprints differ."""
    fa, fb = a["fingerprint"], b["fingerprint"]
    if fa != fb:
        diff = sorted(k for k in set(fa) | set(fb) if fa.get(k) != fb.get(k))
        raise FingerprintMismatch("runs differ in " + ", ".join(diff))
    out = {}
    for k, v in a["metrics"].items():
        w = b["metrics"].get(k)
        if w is not None:
            out[k] = (v["value"], w["value"],
                      w["value"] / v["value"] if v["value"] else None)
    return out


def cpu_times(stat_text):
    """(busy, total, steal) jiffies from the first line of /proc/stat."""
    f = [int(x) for x in stat_text.splitlines()[0].split()[1:]]
    idle = f[3] + (f[4] if len(f) > 4 else 0)
    steal = f[7] if len(f) > 7 else 0
    total = sum(f[:8])
    return total - idle - steal, total, steal


def contamination(before, after, own_cpu_s, hz, threshold=0.10):
    """Share of the box's CPU that other processes used during a run,
    from /proc/stat before and after and the run's own CPU seconds."""
    b0, t0, s0 = cpu_times(before)
    b1, t1, s1 = cpu_times(after)
    total = max(1, t1 - t0)
    others = max(0.0, (b1 - b0) / hz - own_cpu_s) * hz / total
    steal = (s1 - s0) / total
    return {"others_cpu_share": others, "steal_share": steal,
            "contaminated": others > threshold or steal > threshold / 2}
