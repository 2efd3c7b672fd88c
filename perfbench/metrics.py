"""Metric arithmetic for the graft pipeline benchmark: percentiles, span
self time, per-layer aggregation and the output-line schema.  Pure
functions over the JVM's result file, so they are unit-tested without
Spark (test_metrics.py)."""

import json
import math
import os
import re
import statistics

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# Layers timed by spans in the traced replay, and the per-span metrics
# each reports per unit.
SPAN_LAYERS = ["route", "sink", "quality", "dedup_gate",
               "dedup", "components", "curate"]
SPAN_METRICS = [("self_ms", "ms"), ("cpu_ms", "ms"), ("jobs", "count"),
                ("tasks", "count"), ("shuffle_bytes", "B")]
EXEC_METRICS = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                ("task_run_ms", "ms"), ("task_cpu_ms", "ms"), ("gc_ms", "ms"),
                ("shuffle_bytes", "B"), ("spill_bytes", "B"),
                ("failed_tasks", "count")]
# streaming metric -> progress durationMs keys summed
STREAMING = {"trigger_ms": ["triggerExecution"], "add_batch_ms": ["addBatch"],
             "offsets_ms": ["latestOffset", "getBatch"],
             "log_ms": ["walCommit", "commitOffsets"],
             "planning_ms": ["queryPlanning"]}


def valid_name(name):
    return isinstance(name, str) and NAME_RE.fullmatch(name) is not None


def valid_unit(unit):
    return isinstance(unit, str) and UNIT_RE.fullmatch(unit) is not None


def tail_percentile(n, candidates=(99, 95, 90, 75)):
    """Highest candidate percentile with at least ten of `n` samples beyond
    it, or None: p90 needs 100 samples, p75 needs 40."""
    for p in candidates:
        if n - math.ceil(n * p / 100.0) >= 10:
            return p
    return None


def percentile(xs, p):
    """Linear-interpolated percentile of a non-empty sample (p in 0..100)."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def self_times(spans):
    """Span id -> self time in ms: its duration minus the part of its
    interval that its direct children cover (overlaps counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(c["start_ns"], lo), min(c["end_ns"], hi))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo - covered) / 1e6
    return out


def median_or_zero(xs):
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(result):
    """The user-visible metrics of an untraced run."""
    units = result["units"]
    rows = sum(u["rows"] for u in units)
    ms = [u["ms"] for u in units]
    return {
        "setup_s": (result["setup_s"], "s"),
        "rows_per_s": (rows / result["wall_s"], "1/s"),
        "batch_ms_p50": (percentile(ms, 50), "ms"),
        "cpu_us_per_row": (result["cpu_s"] * 1e6 / rows, "us"),
    }


def layer_spans(result):
    """Per-unit sums of self time and execution counters by layer, then the
    median over units, for every span layer (zeros where a workload's path
    does not cross a layer)."""
    spans = result.get("spans", [])
    st = self_times(spans)
    per = {}  # (layer, unit) -> metric -> value
    for s in spans:
        if s["name"] not in SPAN_LAYERS:
            continue
        m = per.setdefault((s["name"], s["unit"]), {k: 0.0 for k, _ in SPAN_METRICS})
        e = s.get("exec", {})
        m["self_ms"] += st[s["id"]]
        m["cpu_ms"] += e.get("task_cpu_ms", 0.0)
        m["jobs"] += e.get("jobs", 0)
        m["tasks"] += e.get("tasks", 0)
        m["shuffle_bytes"] += e.get("shuffle_bytes", 0)
    out = {}
    for layer in SPAN_LAYERS:
        rows = [v for (l, _), v in per.items() if l == layer]
        for k, unit in SPAN_METRICS:
            out["%s.%s" % (layer, k)] = (median_or_zero([r[k] for r in rows]), unit)
    return out


def per_layer(result, fs):
    """Every per-layer metric of a traced run; `fs` holds the file-system
    readings the checker took (sink files/bytes, store, keep ratio)."""
    out = layer_spans(result)
    spans = result.get("spans", [])
    scans = [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == "scan"]
    out["sources.scan_ms"] = (median_or_zero(scans), "ms")
    out["sink.files"] = (float(fs.get("sink_files", 0)), "count")
    out["sink.bytes"] = (float(fs.get("sink_bytes", 0)), "B")
    pairs = [s["attrs"]["pairs"] for s in spans if "pairs" in s.get("attrs", {})]
    out["dedup.pairs"] = (median_or_zero(pairs), "count")
    out["store.segments"] = (float(fs.get("store_segments", 0)), "count")
    out["store.bytes"] = (float(fs.get("store_bytes", 0)), "B")
    units = result["units"]
    for name, keys in STREAMING.items():
        vals = [sum(u["dur"].get(k, 0) for k in keys) for u in units if u["dur"]]
        out["streaming." + name] = (median_or_zero(vals), "ms")
    n = max(1, len(units))
    ex = result.get("exec", {})
    for k, unit in EXEC_METRICS:
        out["exec." + k] = (ex.get(k, 0.0) / n, unit)
    out["exec.parallelism"] = (ex.get("task_run_ms", 0.0) / (result["wall_s"] * 1e3), "x")
    out["jvm.peak_rss_mb"] = (result["peak_rss_kb"] / 1024.0, "MB")
    out["jvm.heap_live_mb"] = (result["heap_live_mb"], "MB")
    out["corpus.keep_ratio"] = (float(fs.get("keep_ratio", 0.0)), "1")
    plain = median_or_zero([u["ms"] for u in result.get("plain_units", [])])
    traced = median_or_zero([u["ms"] for u in units])
    out["trace.overhead_pct"] = (100.0 * (traced - plain) / plain if plain else 0.0, "%")
    return out


def load_spec(path=SPEC_PATH):
    with open(path) as f:
        return json.load(f)


def output_line(correct, attempted, failed, metrics, names):
    """The result object: exactly the metrics named in `names`, each with
    its value and unit.  Raises ValueError on a schema violation."""
    if set(metrics) != set(names):
        raise ValueError("metric set mismatch: missing %s, extra %s" % (
            sorted(set(names) - set(metrics)), sorted(set(metrics) - set(names))))
    out = {}
    for name in names:
        value, unit = metrics[name]
        if not valid_name(name) or not valid_unit(unit):
            raise ValueError("bad metric name or unit: %r %r" % (name, unit))
        if not isinstance(value, (int, float)) or isinstance(value, bool) \
                or math.isnan(value) or math.isinf(value):
            raise ValueError("bad value for %s: %r" % (name, value))
        out[name] = {"value": float(value), "unit": unit}
    if not isinstance(attempted, int) or attempted < 1:
        raise ValueError("attempted must be a whole number >= 1")
    if not isinstance(failed, int) or not 0 <= failed <= attempted:
        raise ValueError("failed must be a whole number in [0, attempted]")
    return {"correct": bool(correct), "attempted": attempted, "failed": failed,
            "metrics": out}
