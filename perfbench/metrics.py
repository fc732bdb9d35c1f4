"""The benchmark's arithmetic: latency percentiles, per-key best times, row
accounting, span self time and memo hit ratio. Pure functions over the harness's
records, so tests can pin each rule."""
import math
import statistics

# Tail percentiles considered, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def nearest_rank(sorted_values, pct):
    """Nearest-rank percentile of an ascending list."""
    r = max(1, math.ceil(pct / 100.0 * len(sorted_values)))
    return sorted_values[r - 1]


def tail(values, beyond=10):
    """(percentile, value) at the highest ladder percentile with at
    least `beyond` samples strictly after its rank. With too few
    samples for p50 it falls back to the rank that leaves exactly
    `beyond` after it, and below that to the maximum (percentile 100)."""
    v = sorted(values)
    n = len(v)
    for p in TAIL_LADDER:
        if n - max(1, math.ceil(p / 100.0 * n)) >= beyond:
            return p, nearest_rank(v, p)
    if n > beyond:
        return 100.0 * (n - beyond) / n, v[n - beyond - 1]
    return 100.0, v[-1]


def curate_op_rows(docs, vectors, keys):
    """Rows one curate op consumes: a pass reads the shard's docs plus
    vectors once, spread evenly over the pass's keys. (An ingest op's
    rows are the CSV rows it lands, or the events the stream reads.)"""
    return (docs + vectors) / keys


def per_key(ops, stat):
    """{key: stat(latencies of the key's ops)}."""
    by_key = {}
    for o in ops:
        by_key.setdefault(o["key"], []).append(o["dur_s"])
    return {k: stat(v) for k, v in by_key.items()}


# An op's best time over a run's passes: on a shared host, CPU steal
# comes in bursts of a few seconds that stretch whichever ops they hit,
# so the least-disturbed run of a key is its steadiest reading.
def key_best_geomean(ops):
    """Geometric mean over keys of each key's best latency: every kind
    of op weighs the same, and a slow run of a key moves it only if
    every run of that key is slow."""
    best = per_key(ops, min).values()
    return math.exp(statistics.fmean(math.log(v) for v in best))


def rows_per_s(ops):
    """Input rows of completed ops per second, each op timed at its
    key's best latency (the throughput of a pass made of each key's
    least-disturbed run). Each op carries its planned `rows`."""
    best = per_key(ops, min)
    busy = sum(best[o["key"]] for o in ops)
    return sum(o["rows"] for o in ops if o["ok"]) / busy


def self_times(spans):
    """{span id: self seconds}: duration minus the union of the
    intervals its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start_ns"]), min(b, s["end_ns"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def hit_ratio(scans, fills):
    """Memo scans over scans plus fills; 0 when neither happened."""
    return scans / (scans + fills) if scans + fills else 0.0


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3
