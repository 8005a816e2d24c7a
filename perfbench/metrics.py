"""Arithmetic of the benchmark: percentiles, the trace reducer and the
derived ratios. Pure functions over the harness's raw samples, so that
perfbench/test_metrics.py can pin each of them."""
import math
import statistics

# A percentile is trusted only when at least this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank p-th percentile and the number of samples beyond it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1], len(xs) - rank


def highest_trusted_percentile(values, p, min_beyond=MIN_BEYOND):
    """The highest percentile q <= p with at least `min_beyond` samples
    beyond it, as (q, value); None when even the median lacks them."""
    q = p
    while q >= 50:
        v, beyond = percentile(values, q)
        if beyond >= min_beyond:
            return q, v
        q -= 1
    return None


def session_drift(pass_walls):
    """Median wall of the later half of the passes over that of the
    earlier half (with two passes: last over first); 1.0 is a session
    that does not slow down as it ages. Halves, not single passes, so
    one disturbed pass does not decide it; an odd middle pass is left out."""
    if len(pass_walls) < 2:
        raise ValueError("drift needs at least two passes")
    half = len(pass_walls) // 2
    return statistics.median(pass_walls[-half:]) / statistics.median(pass_walls[:half])


def core_busy(task_run_ms, wall_ms, cores):
    """Share of the cores' time spent running tasks during the ops."""
    return task_run_ms / (wall_ms * cores) if wall_ms > 0 else 0.0


def failed_ops(op_records, expected):
    """The ops that count against error_rate: those that raised, and those
    whose row count or fingerprint differs from the expected one."""
    def ok(o):
        exp = expected.get(o["name"])
        return not o["error"] and exp is not None and (o["rows"], o["hash"]) == (exp["rows"], exp["hash"])
    return [o for o in op_records if not ok(o)]


def union_length(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


HARNESS_KINDS = ("pass", "op", "ensure", "submit", "execute")


def attach(spans):
    """Gives every span a parent. Harness spans and stages carry theirs;
    a planning phase or job without one goes under the innermost harness
    span whose interval contains its start (one client thread, so at most
    one op is open at a time)."""
    by_id = {s["id"]: s for s in spans}
    harness = [s for s in spans if s["kind"] in HARNESS_KINDS]
    out = []
    for s in spans:
        s = dict(s)
        if s["parent"] not in by_id and s["kind"] not in HARNESS_KINDS:
            inner = [h for h in harness if h["start_us"] <= s["start_us"] < h["end_us"]]
            if inner:
                s["parent"] = min(inner, key=lambda h: h["end_us"] - h["start_us"])["id"]
        elif s["kind"] == "job" and s["parent"] in by_id:
            # the job group names the op; its innermost harness span is better
            inner = [h for h in harness if h["start_us"] <= s["start_us"] < h["end_us"]
                     and h["kind"] in ("ensure", "submit", "execute")]
            if inner:
                s["parent"] = min(inner, key=lambda h: h["end_us"] - h["start_us"])["id"]
        out.append(s)
    return out


def self_times(spans):
    """Per-kind self time in ms: each span's duration minus the part of
    its interval that its children cover (children may overlap)."""
    spans = attach(spans)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        dur = s["end_us"] - s["start_us"]
        covered = union_length(children.get(s["id"], []), s["start_us"], s["end_us"])
        out[s["kind"]] = out.get(s["kind"], 0.0) + (dur - covered) / 1000.0
    return out


def driver_gap_ms(spans):
    """Per op: wall minus the time covered by its planning phases and jobs,
    summed over ops."""
    spans = attach(spans)
    by_id = {s["id"]: s for s in spans}

    def op_of(s):
        while s is not None and s["kind"] != "op":
            s = by_id.get(s["parent"])
        return s

    covered = {}
    for s in spans:
        if s["kind"] in ("parse", "analyze", "optimize", "physical", "job"):
            op = op_of(s)
            if op is not None:
                covered.setdefault(op["id"], []).append((s["start_us"], s["end_us"]))
    gap = 0.0
    for s in spans:
        if s["kind"] == "op":
            dur = s["end_us"] - s["start_us"]
            gap += (dur - union_length(covered.get(s["id"], []), s["start_us"], s["end_us"])) / 1000.0
    return gap


def stage_skew(stages):
    """Median over stages with more than one task of max / median task."""
    ratios = [s["max_task_ms"] / s["median_task_ms"] for s in stages
              if s["tasks"] > 1 and s["median_task_ms"] > 0]
    return statistics.median(ratios) if ratios else 1.0

