"""Metrics from one run's raw measurements (the JSON `graft.perfbench.Main`
writes): the end-to-end metrics of an untraced run, and the per-layer split
of a traced run.

Layer attribution of a traced op:
  * every Spark job belongs to the SQL execution it carries; a job outside
    any SQL execution (file listing, schema inference) is `spark.listing`;
  * an execution's layer follows from its write target (`layer_for`), else
    from the innermost span around it: the call into a layer's public
    function that the benchmark timed;
  * `wall_s` of a layer is the time at least one of its jobs was running;
  * `driver_gap_s` is span time during which no job was running. A gap goes
    to the layer of the next job in the same innermost span (the driver was
    analysing and planning it), else of the previous one, else to the
    span's own layer. Per op, the layers' `wall_s` plus their gaps add up
    to the op's span unless jobs of two layers overlap.
"""

import statistics

LAYERS = ["ingest", "etl.stg", "etl.mart", "etl.incremental", "quality",
          "streaming.writer", "streaming.trigger", "spark.listing"]
SUFFIXES = ["wall_s", "driver_gap_s", "jobs", "tasks", "exec_run_s",
            "exec_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
            "input_bytes"]
STAGE_SUMS = ["tasks", "exec_run_s", "exec_cpu_s", "gc_s",
              "shuffle_write_bytes", "spill_bytes", "input_bytes"]
EXTRAS = ["ingest.fetches", "ingest.fetch_s", "quality.checks",
          "streaming.compaction_wave_s", "core.cached_blocks_after_op",
          "core.checkpoint_files_after_op", "trace.op_span_s",
          "trace.accounted_ratio", "trace.overhead_ratio"]
PER_LAYER = [f"{l}.{s}" for l in LAYERS for s in SUFFIXES] + EXTRAS


def _unit(name):
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


PER_LAYER_UNITS = {m: _unit(m) for m in PER_LAYER}
END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
                    "rows_per_s": "rows/s", "ok_op_share": "ratio",
                    "peak_rss_mb": "MiB"}


def tail_percentile(samples, beyond=10):
    """(value, percentile, n): the highest percentile, at least the median,
    that has at least `beyond` samples above it. With fewer than
    2 * `beyond` samples no percentile above the median qualifies, and the
    median is returned with percentile 50."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = n - 1 - beyond  # xs[k] has exactly `beyond` samples above it
    pct = 100.0 * (k + 1) / n
    if k < 0 or pct <= 50.0:
        return statistics.median(xs), 50.0, n
    return xs[k], pct, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def gaps(span, intervals):
    """Sub-intervals of `span` that no interval covers, in time order."""
    lo, hi = span
    out = []
    cursor = lo
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if a > cursor:
            out.append((cursor, a))
        cursor = max(cursor, b)
    if cursor < hi:
        out.append((cursor, hi))
    return out


def layer_for(target, one_row_agg, span_layer):
    """Layer of one SQL execution, from its write target (a path; empty for
    a query without a write), whether it is a one-row aggregate, and the
    layer of the innermost span it ran in."""
    parts = [p for p in target.replace("\\", "/").split("/") if p]
    if any(p.startswith("stg_arrivals") for p in parts):
        return "etl.stg"
    if any(p.startswith("fct_headways") or p == "state_last_arrival"
           for p in parts):
        return "etl.incremental" if span_layer == "etl.incremental" else "etl.mart"
    if not target and one_row_agg and span_layer in ("etl.mart", "etl.incremental"):
        return "quality"
    return span_layer


def _innermost(spans, t):
    inside = [s for s in spans if s["start"] <= t <= s["end"]]
    return max(inside, key=lambda s: (s["start"], s["id"])) if inside else None


def layer_split(records):
    """Per-layer totals over the traced ops, and (span time, accounted
    time, traced op count). Times are in seconds."""
    spans = records["spans"]
    execs = {e["id"]: e for e in records["execs"]}
    tops = [s for s in spans if s["parent"] < 0]
    totals = {l: {s: 0.0 for s in SUFFIXES} for l in LAYERS}

    def exec_layer(exec_id, span_layer):
        e = execs.get(exec_id)
        if e is None:
            return span_layer
        root = execs.get(e["root"], e)
        target = e["target"] or root["target"]
        return layer_for(target, e["one_row_agg"] or root["one_row_agg"], span_layer)

    placed = []  # (job, layer, innermost span)
    for j in records["jobs"]:
        if j["end"] < j["start"]:
            continue
        span = _innermost(spans, j["start"])
        if span is None:
            continue
        layer = "spark.listing" if j["exec"] < 0 else exec_layer(j["exec"], span["layer"])
        placed.append((j, layer, span))
        t = totals[layer]
        t["jobs"] += 1
        for k in STAGE_SUMS:
            t[k] += j[k]

    span_ms = accounted_ms = 0.0
    for top in tops:
        lo, hi = top["start"], top["end"]
        span_ms += hi - lo
        mine = [(j, l, s) for j, l, s in placed if lo <= j["start"] <= hi]
        for layer in LAYERS:
            iv = [(max(j["start"], lo), min(j["end"], hi)) for j, l, _ in mine if l == layer]
            w = union_length(iv)
            totals[layer]["wall_s"] += w / 1e3
            accounted_ms += w
        for a, b in gaps((lo, hi), [(j["start"], j["end"]) for j, _, _ in mine]):
            span = _innermost(spans, (a + b) / 2.0) or top
            same = sorted((j["start"], l) for j, l, s in mine if s["id"] == span["id"])
            after = [l for start, l in same if start >= b]
            before = [l for start, l in same if start < b]
            layer = after[0] if after else before[-1] if before else span["layer"]
            totals[layer]["driver_gap_s"] += (b - a) / 1e3
            accounted_ms += b - a
    return totals, span_ms / 1e3, accounted_ms / 1e3, len(tops)


def per_layer_metrics(result):
    """Every per-layer metric of a traced run, per traced op."""
    ops = [o for o in result["ops"] if o["ok"]]
    traced = [o for o in ops if o["traced"]]
    totals, span_s, accounted_s, n = layer_split(result["trace_records"])
    per = max(n, 1)
    out = {}
    for l in LAYERS:
        for s in SUFFIXES:
            out[f"{l}.{s}"] = totals[l][s] / per
    for k in ("ingest.fetches", "ingest.fetch_s", "quality.checks"):
        vals = [o["counters"].get(k, 0.0) for o in traced]
        out[k] = statistics.fmean(vals) if vals else 0.0
    compaction = [o["s"] for o in ops if o["compaction"]]
    out["streaming.compaction_wave_s"] = statistics.median(compaction) if compaction else 0.0
    out["core.cached_blocks_after_op"] = max((o["cached_blocks"] for o in ops), default=0)
    out["core.checkpoint_files_after_op"] = max((o["checkpoint_files"] for o in ops), default=0)
    out["trace.op_span_s"] = span_s / per
    out["trace.accounted_ratio"] = accounted_s / span_s if span_s > 0 else 0.0
    # compaction waves are compared with neither side
    plain = [o for o in ops if not o["compaction"]]
    on = [o["s"] for o in plain if o["traced"]]
    off = [o["s"] for o in plain if not o["traced"]]
    out["trace.overhead_ratio"] = (statistics.median(on) / statistics.median(off)
                                   if on and off else 0.0)
    return out


def end_to_end_metrics(result, correct):
    """The end-to-end metrics of an untraced run. A failed op adds no latency
    sample; a failed correctness gate counts every op of the run as failed."""
    ops = result["ops"]
    ok = [o for o in ops if o["ok"]]
    attempted = len(ops)
    failed = attempted if not correct else attempted - len(ok)
    lat = [o["s"] for o in ok]
    tail, pct, n = tail_percentile(lat) if lat else (0.0, 50.0, 0)
    metrics = {
        "setup_s": result["setup_s"],
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "op_tail_s": tail,
        "rows_per_s": sum(o["rows"] for o in ok) / sum(lat) if ok else 0.0,
        "ok_op_share": (attempted - failed) / attempted if attempted else 0.0,
        "peak_rss_mb": result["peak_rss_mb"],
    }
    detail = {"op_tail_percentile": pct, "op_samples": n}
    return metrics, attempted, failed, detail
