"""The benchmark's own arithmetic: percentiles, span self time, driver gap."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs, beyond=10):
    """Latency at the highest percentile with at least `beyond` samples
    above it: the (n - beyond)-th smallest of n samples, returned as
    (value, percentile, n). Below 2 x `beyond` samples that percentile
    would sit under the median, so the maximum is returned instead,
    with percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), 0.0, 0
    if n < 2 * beyond:
        return s[-1], 100.0, n
    k = n - beyond          # samples at or below the reported value
    return s[k - 1], 100.0 * k / n, n


def union_ms(intervals):
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_ms(span, children):
    """Span duration minus the part of it its child spans cover and minus
    the tracer's own workspace walks for those children."""
    return (span["end"] - span["start"]) - span.get("excluded_ms", 0.0) - union_ms(
        clip([(c["start"], c["end"]) for c in children], span["start"], span["end"]))


def driver_gap_ms(span, jobs, children=()):
    """Self time minus the union of the span's own jobs' intervals: time
    the Spark driver spent inside this span with none of its jobs
    running. For a leaf span, its wall time minus the union of its jobs."""
    return self_ms(span, children) - union_ms(
        clip([(j["start"], j["end"]) for j in jobs], span["start"], span["end"]))


def counts(phases):
    """(attempted, failed) over every timed phase, ops and background
    ops alike; an op that threw is attempted and failed, never timed."""
    attempted = sum(len(p["ops"]) + p["op_failed"] + len(p["bgs"]) + p["bg_failed"]
                    for p in phases)
    return attempted, sum(p["op_failed"] + p["bg_failed"] for p in phases)


def fail_ratio(failed, attempted):
    return failed / attempted if attempted else float("nan")


def layer_metrics(spans, jobs, n_by_kind):
    """Per span name: totals over the traced phase divided by the number
    of ops of the kind (op / bg) that issued the spans, so each value is
    a cost per op. Returns {name: {counter: value}}."""
    kids, own = {}, {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for j in jobs:
        own.setdefault(j["span"], []).append(j)
    out = {}
    for s in spans:
        n = n_by_kind.get(s["kind"], 0)
        if not n:
            continue
        m = out.setdefault(s["name"], {"wall_s": 0.0, "jobs": 0.0, "driver_gap_s": 0.0,
                                       "shuffle_write_bytes": 0.0, "executor_cpu_s": 0.0,
                                       "output_bytes": 0.0})
        js, ks = own.get(s["id"], []), kids.get(s["id"], [])
        m["wall_s"] += self_ms(s, ks) / 1000.0 / n
        m["jobs"] += len(js) / n
        m["driver_gap_s"] += driver_gap_ms(s, js, ks) / 1000.0 / n
        m["shuffle_write_bytes"] += s["shuffle_bytes"] / n
        m["executor_cpu_s"] += s["cpu_ns"] / 1e9 / n
        m["output_bytes"] += max(s["out_bytes"], 0) / n
    return out

