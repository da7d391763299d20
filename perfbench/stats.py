"""The benchmark's arithmetic over a run record: percentiles with their
sample counts, the union of job intervals, span self time, and the
per-layer metrics built from them. Pure functions; tested by
perfbench/test_perfbench.py."""
import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p <= 100) and the number of
    samples strictly above it, so a reader can see whether the sample
    supports the percentile (one is reported only with >= 10 beyond it)."""
    if not values:
        return 0.0, 0
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    v = xs[k - 1]
    return v, sum(1 for x in xs if x > v)


def highest_supported_percentile(n, beyond=10):
    """The highest of p50/p90/p99 that leaves at least `beyond` samples
    above it in a sample of n, or None."""
    for p in (99, 90, 50):
        if n - math.ceil(p / 100.0 * n) >= beyond:
            return p
    return None


def union_length(intervals, clip=None):
    """Total length covered by the intervals [(start, end)]: overlapping
    intervals count once (a sum of job lengths would count concurrent
    jobs twice). With clip=(lo, hi) only the part inside counts."""
    segs = []
    for s, e in intervals:
        if clip is not None:
            s, e = max(s, clip[0]), min(e, clip[1])
        if e > s:
            segs.append((s, e))
    segs.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in segs:
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
    """A span's duration minus the part of its interval its child spans
    cover. Spans are dicts with start and end (any one unit)."""
    covered = union_length([(c["start"], c["end"]) for c in children],
                           clip=(span["start"], span["end"]))
    return (span["end"] - span["start"]) - covered


def attribute(events, spans, key="start_ms"):
    """Map each event to the innermost span whose [start_ms, end_ms]
    holds the event's `key` time; events outside every span map to None.
    Spans of one client thread nest or follow each other, so the span
    that started last among those holding the time is the innermost."""
    out = {}
    ordered = sorted(spans, key=lambda s: (s["start_ms"], s["id"]))
    for i, ev in enumerate(events):
        t = ev[key]
        best = None
        for s in ordered:
            if s["start_ms"] > t:
                break
            if s["start_ms"] <= t <= s["end_ms"]:
                best = s["id"]
        out[i] = best
    return out


def trace_overhead(traced, untraced):
    """Traced minus untraced iteration median. Calls that only traced
    iterations make (`traced_only_s`) are not overhead of tracing the
    calls both make, so their time leaves the traced walls first."""
    return (median([it["wall_s"] - it.get("traced_only_s", 0.0) for it in traced])
            - median([it["wall_s"] for it in untraced]))


def layer_metrics(record, per_layer_names):
    """Per-layer metrics of a traced run: each value is the median over
    traced iterations of that iteration's total for the metric. Names
    that the workload never reaches read 0."""
    traced = [it for it in record["iterations"] if it["traced"] and not it["error"]]
    untraced = [it for it in record["iterations"] if not it["traced"] and not it["error"]]
    spans = record["spans"]
    jobs = [j for j in record["jobs"] if j["end_ms"] >= 0]
    plans = record["plans"]
    job_span = attribute(jobs, spans)
    plan_span = attribute(plans, spans)

    per_iter = {}  # iteration -> metric -> value

    def add(i, name, v):
        d = per_iter.setdefault(i, {})
        d[name] = d.get(name, 0.0) + v

    span_jobs = {}
    for k, sid in job_span.items():
        if sid is not None:
            span_jobs.setdefault(sid, []).append(jobs[k])
    span_plans = {}
    for k, sid in plan_span.items():
        if sid is not None:
            span_plans.setdefault(sid, []).append(plans[k])
    ratio_parts = {}  # (iter, call) -> [rows_out, rows_in]
    for s in spans:
        i, call = s["iter"], s["name"]
        js = span_jobs.get(s["id"], [])
        add(i, f"{call}.wall_s", s["dur_s"])
        add(i, f"{call}.exec_cpu_s", sum(j["cpu_s"] for j in js))
        add(i, f"{call}.shuffle_mb", sum(j["shuffle_write"] for j in js) / 1e6)
        covered = union_length([(j["start_ms"], j["end_ms"]) for j in js],
                               clip=(s["start_ms"], s["end_ms"])) / 1e3
        add(i, f"{call}.driver_gap_s", max(0.0, s["dur_s"] - covered))
        add(i, f"{call}.plan_s", sum(p["plan_s"] for p in span_plans.get(s["id"], [])))
        if s["rows_in"] > 0 and s["rows_out"] >= 0:
            r = ratio_parts.setdefault((i, call), [0, 0])
            r[0] += s["rows_out"]
            r[1] += s["rows_in"]
    for (i, call), (o, n) in ratio_parts.items():
        add(i, f"{call}.rows_out_per_in", o / n)
    for it in traced:
        lo, hi = it["start_ms"], it["end_ms"]
        ij = [j for j in jobs if lo <= j["start_ms"] <= hi]
        add(it["i"], "iter.spill_mb", sum(j["spill"] for j in ij) / 1e6)
        add(it["i"], "iter.jobs", len(ij))
        # the iteration's own time: what no top-level call span covers
        top = [{"start": s["start_ms"], "end": s["end_ms"]}
               for s in spans if s["iter"] == it["i"] and s["parent"] < 0]
        add(it["i"], "iter.glue_s", self_time({"start": lo, "end": hi}, top) / 1e3)

    out = {}
    traced_ids = [it["i"] for it in traced]
    for name in per_layer_names:
        vals = [per_iter.get(i, {}).get(name, 0.0) for i in traced_ids]
        out[name] = median(vals)
    if "trace.overhead_s" in per_layer_names:
        out["trace.overhead_s"] = trace_overhead(traced, untraced)
    facts = record.get("facts", {})
    if "core.IndexStore.bytes_per_src_byte" in per_layer_names and facts.get("source_bytes"):
        out["core.IndexStore.bytes_per_src_byte"] = facts["index_bytes"] / facts["source_bytes"]
    rewrites = [x for it in traced for x in it.get("samples", {}).get("store_rewrites", [])]
    if "core.IndexStore.hit_frac" in per_layer_names and rewrites:
        out["core.IndexStore.hit_frac"] = 1.0 - sum(rewrites) / len(rewrites)
    return out
