"""Turns the benchmark JVM's raw samples into the reported metrics.

Medians are the middle sample, or the mean of the two middle ones; other
percentiles use the nearest-rank definition. A failed or wrong op or lookup
counts as taking the op timeout, so it misses any latency limit and is
never dropped from a timing.
"""
import math
import statistics

# the tail is the highest percentile with at least this many samples beyond it
TAIL_BEYOND = 10


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    xs = sorted(values)
    return xs[max(1, math.ceil(p / 100 * len(xs))) - 1]


def tail(values):
    """(value, percentile, samples beyond it) for the highest nearest-rank
    percentile, at or above the median, that leaves TAIL_BEYOND samples
    above it. With fewer than 2 * TAIL_BEYOND samples no percentile
    qualifies, and the nearest-rank 90th percentile stands in; the
    percentile and the count beyond it show the shortfall in the output.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    rank = n - TAIL_BEYOND
    if rank < math.ceil(n / 2):
        rank = math.ceil(0.9 * n)
    return xs[rank - 1], 100.0 * rank / n, n - rank


def latencies(samples, timeout_s):
    return [s["s"] if s["ok"] else max(s["s"], timeout_s) for s in samples]


def end_to_end(run):
    """End-to-end metrics of the untraced phase, plus a summary of what the
    numbers rest on."""
    phase = run["phases"][0]
    ops, lookups = phase["ops"], phase["lookups"]
    if not ops:
        raise ValueError("the run completed no op")
    ok_ops = [o for o in ops if o["ok"]] or ops
    busy = sum(o["s"] for o in ops)
    timeout_s = run["op_timeout_s"]
    lat = latencies(ops, timeout_s)
    tail_s, tail_pct, tail_n = tail(lat)
    failed = sum(not o["ok"] for o in ops) + sum(not l["ok"] for l in lookups)
    attempted = len(ops) + len(lookups)
    metrics = {
        "setup_s": (run["setup_s"], "s"),
        "ops_per_s": (len(ops) / busy, "1/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_s, "s"),
        "rows_per_s": (sum(o["rows"] for o in ops if o["ok"]) / busy, "rows/s"),
        "shard_skew": (statistics.fmean(o["skew"] for o in ok_ops), "ratio"),
        "write_amp": (statistics.fmean(o["write_amp"] for o in ok_ops), "ratio"),
        "lookup_p50_ms": (1000 * statistics.median(latencies(lookups, timeout_s)), "ms")
        if lookups else (1000 * timeout_s, "ms"),
        "peak_heap_mb": (phase["heap_mb"], "MB"),
    }
    summary = {
        "ops": len(ops),
        "op_s": [[o["name"], round(o["s"], 3)] for o in ops],
        "lookups": len(lookups),
        "failed_frac": failed / attempted,
        "op_tail_pct": tail_pct,
        "op_tail_samples_beyond": tail_n,
        "truncated": phase["truncated"],
        "failures": [f'{o["name"]}: {o["error"]}' for o in ops if not o["ok"]][:10],
    }
    return metrics, summary, attempted, failed


def per_layer(run):
    """Per-layer metrics of the traced phase and the tracing overhead: the
    traced phase's ops per second against the untraced phase's, which ran
    the same ops right before it."""
    untraced, traced = run["phases"]

    def ops_per_s(phase):
        return len(phase["ops"]) / sum(o["s"] for o in phase["ops"])

    layers = dict(run["layers"])
    layers["trace.overhead_frac"] = 1 - ops_per_s(traced) / ops_per_s(untraced)
    return layers
