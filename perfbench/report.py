"""Turns one run's raw measurements into the reported metrics.

Pure functions only (no I/O), so the percentile and self-time rules are
unit-tested on hand-built inputs (test_report.py).
"""

import math

# End-to-end metrics, printed for every workload with --trace 0. Each name
# means the same kind of thing on every workload; WHAT_IT_IS says exactly
# what it measures on each one.
END_TO_END = [
    ("latency_p50_ms", "ms"),
    ("throughput_per_s", "1/s"),
    ("ok_ratio", "ratio"),
    ("setup_s", "s"),
]

# A tail latency percentile per workload, reported on stderr only: at these
# sample counts (20 tickets, ~22 queries, ~160 blocks a run) a tail moves
# between runs by more than any bound the end-to-end set can carry.
TAIL_PCT = {"ticket_scan": 90, "catalog_mix": 90, "live_tail": 95}

WHAT_IT_IS = {
    "ticket_scan": {
        "latency_p50_ms": "ticket.latency_p50_ms",
        "throughput_per_s": "ticket.blocks_per_s",
        "ok_ratio": "ticket.ok_ratio (1 - ticket.error_rate)",
    },
    "catalog_mix": {
        "latency_p50_ms": "catalog.query_p50_ms",
        "throughput_per_s": "catalog.queries_per_s (queries in a pass / catalog.pass_s)",
        "ok_ratio": "catalog.ok_ratio (1 - catalog.error_rate)",
    },
    "live_tail": {
        "latency_p50_ms": "live.latency_p50_ms",
        "throughput_per_s": "live.catchup_blocks_per_s",
        "ok_ratio": "live.ok_ratio (1 - live.error_rate)",
    },
}

# Per-layer metrics, printed for every workload with --trace 1; a layer a
# workload does not use reads 0. Counts and times are means per operation
# (a ticket, a catalog query, a micro-batch) unless the name says otherwise.
# For these higher is better; for every other metric, lower.
HIGHER_IS_BETTER = {"rpc.useful_row_ratio", "arrow.rows_per_s", "exec.core_busy_ratio"}
PER_LAYER = [
    ("api.parse_ms", "ms"), ("api.route_ms", "ms"),
    ("rpc.get_logs_calls", "count"), ("rpc.get_block_calls", "count"),
    ("rpc.block_number_calls", "count"), ("rpc.cap_refusals", "count"),
    ("rpc.refusal_ratio", "ratio"), ("rpc.rows_served", "count"),
    ("rpc.useful_row_ratio", "ratio"), ("rpc.mb_served", "MB"),
    ("rpc.connections", "count"), ("rpc.inflight_mean", "count"),
    ("rpc.node_busy_ms", "ms"), ("rpc.polls_per_block", "count"),
    ("scan.partitions", "count"), ("scan.task_ms", "ms"), ("scan.fetched_blocks", "count"),
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"), ("plan.physical_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_ms", "ms"), ("exec.task_cpu_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.core_busy_ratio", "ratio"), ("exec.driver_gap_ms", "ms"),
    ("catalog.pass_s", "s"),
    ("catalog.relational_s", "s"), ("catalog.stock_s", "s"), ("catalog.text_s", "s"),
    ("catalog.dedup_s", "s"), ("catalog.similarity_s", "s"), ("catalog.graph_s", "s"),
    ("catalog.temporal_s", "s"), ("catalog.skew_s", "s"), ("catalog.multimodal_s", "s"),
    ("catalog.engine_s", "s"),
    ("fn.word_shingles_ms", "ms"), ("fn.minhash_signature_ms", "ms"), ("fn.simhash64_ms", "ms"),
    ("fn.token_fingerprint_ms", "ms"), ("fn.word_set_counts_ms", "ms"), ("fn.scan_baseline_ms", "ms"),
    ("arrow.write_ms", "ms"), ("arrow.mb_written", "MB"), ("arrow.record_batches", "count"),
    ("arrow.rows_per_s", "1/s"),
    ("stream.batches", "count"), ("stream.blocks_per_batch_p50", "count"),
    ("stream.latest_offset_ms", "ms"), ("stream.get_batch_ms", "ms"),
    ("stream.query_planning_ms", "ms"), ("stream.add_batch_ms", "ms"),
    ("stream.wal_commit_ms", "ms"), ("stream.trigger_ms_p50", "ms"), ("stream.idle_ms", "ms"),
    ("stream.backlog_max_blocks", "count"), ("stream.latency_p99_ms", "ms"),
    ("jvm.heap_peak_mb", "MB"), ("jvm.gc_ms", "ms"), ("jvm.threads_end", "count"),
    ("tmp.entries_leaked", "count"),
    ("check.error_rate", "ratio"),
    ("trace.overhead_pct", "%"),
]


def percentile(values, pct):
    """Linear-interpolated percentile (numpy's default rule) and the sample
    count it rests on. An empty list gives (nan, 0)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan"), 0
    rank = (n - 1) * pct / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo), n


def median(values):
    return percentile(values, 50)[0]


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
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


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its children cover (children run in parallel, so their union is
    subtracted, not their sum). Returns {span id: self time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_us"], s["end_us"]
        kids = [(max(a, c["start_us"]), min(b, c["end_us"]))
                for c in children.get(s["id"], []) if c["id"] != s["id"]]
        kids = [(x, y) for x, y in kids if y > x]
        out[s["id"]] = (b - a) - covered(kids)
    return out


def self_time_report(spans):
    """Per span name: count, total time and self time (ms), largest self
    time first."""
    selfs = self_times(spans)
    rows = {}
    for s in spans:
        r = rows.setdefault(s["name"], [0, 0.0, 0.0])
        r[0] += 1
        r[1] += (s["end_us"] - s["start_us"]) / 1000.0
        r[2] += selfs[s["id"]] / 1000.0
    return sorted(((name, c, tot, slf) for name, (c, tot, slf) in rows.items()),
                  key=lambda r: -r[3])


def end_to_end(workload, raw):
    """{metric: (value, unit, sample count)} for the untraced run."""
    s, v = raw["samples"], raw["values"]
    lat = s.get("latency_ms", [])
    p50, n = percentile(lat, 50)
    attempted = max(raw["attempted"], 1)
    out = {
        "latency_p50_ms": (p50, "ms", n),
        "throughput_per_s": (v.get("throughput_per_s", float("nan")), "1/s",
                             int(v.get("throughput_samples", 1))),
        "ok_ratio": ((attempted - raw["failed"]) / attempted, "ratio", attempted),
        "setup_s": (v.get("setup_s", float("nan")), "s", 1),
    }
    return out


def tail(workload, raw):
    """(name, value, sample count) of the workload's tail latency."""
    pct = TAIL_PCT[workload]
    name = {"ticket_scan": "ticket.latency", "catalog_mix": "catalog.query",
            "live_tail": "live.latency"}[workload]
    v, n = percentile(raw["samples"].get("latency_ms", []), pct)
    return f"{name}_p{pct}_ms", v, n


def per_layer(raw):
    """{metric: (value, unit)} for the traced run; absent layers read 0."""
    v = raw["values"]
    out = {}
    for name, unit in PER_LAYER:
        x = v.get(name, 0.0)
        out[name] = (0.0 if x is None else x, unit)
    attempted = max(raw["attempted"], 1)
    out["check.error_rate"] = (raw["failed"] / attempted, "ratio")
    return out
