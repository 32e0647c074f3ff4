"""Metric maths of the benchmark: percentiles, the tail rule, self time
and per-layer roll-ups."""

import statistics

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile (p in 0..100) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns (percentile, value, samples_beyond), or None when there are
    too few samples for any candidate percentile.
    """
    n = len(values)
    for p in TAIL_CANDIDATES:
        # samples above the interpolated position of the percentile
        beyond = n - 1 - int((n - 1) * p / 100.0)
        if beyond >= MIN_BEYOND:
            return p, percentile(values, p), beyond
    return None


def self_times(spans):
    """span id -> wall minus the wall of the direct children that ran
    inside it.

    A child that ran beside its parent (a probe of a part the parent
    composes, timed after it) explains the parent's work but is not part
    of its wall, so it is not subtracted.
    """
    by_id = {s["id"]: s for s in spans}
    child = {}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None and p["start_s"] <= s["start_s"] and s["end_s"] <= p["end_s"]:
            child[p["id"]] = child.get(p["id"], 0.0) + s["end_s"] - s["start_s"]
    return {i: s["end_s"] - s["start_s"] - child.get(i, 0.0) for i, s in by_id.items()}


def layer_table(spans):
    """Per layer name: summed wall, self time, counters and task times."""
    selfs = self_times(spans)
    out = {}
    for s in spans:
        row = out.setdefault(s["name"], {"wall_s": 0.0, "self_s": 0.0, "spans": 0,
                                         "task_max_ms": 0.0, "_p50": []})
        row["wall_s"] += s["end_s"] - s["start_s"]
        row["self_s"] += selfs[s["id"]]
        row["spans"] += 1
        row["task_max_ms"] = max(row["task_max_ms"], s["task_max_ms"])
        if s["counters"].get("tasks", 0) > 0:
            row["_p50"].append(s["task_p50_ms"])
        for k, v in s["counters"].items():
            row[k] = row.get(k, 0.0) + v
    for row in out.values():
        p50 = row.pop("_p50")
        row["task_p50_ms"] = statistics.median(p50) if p50 else 0.0
    return out


def top_by_self(table, prefix="op."):
    rows = [(v["self_s"], k) for k, v in table.items() if not k.startswith(prefix)]
    return max(rows)[1] if rows else None
