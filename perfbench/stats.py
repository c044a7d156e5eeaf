"""The benchmark's own arithmetic: the tail-percentile rule,
failed_ratio and the attribution of recorded events to spans."""
import math

LAYER_COUNTERS = ("wall_ms", "plan_ms", "jobs", "tasks", "task_ms",
                  "shuffle_write_bytes", "spill_bytes", "exchanges")


def tail_percentile(samples):
    """The highest whole percentile that still has at least 10 samples
    strictly above it, as (percentile, value); None when there are too
    few samples for any percentile above the median to qualify."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 50, -1):
        # nearest-rank: the p-th percentile is the ceil(p/100 * n)-th value
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= 10:
            return p, xs[rank - 1]
    return None


def failed_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("nothing attempted")
    return failed / attempted


def attribute(events, spans):
    """Fold raw recorder events into per-span counters, keyed by the job
    group each event carries. Span walls come from `span` events; an
    event whose group names no span is ignored (work outside spans)."""
    out = {s: dict.fromkeys(LAYER_COUNTERS + ("long_csv_scans", "input_bytes"), 0)
           for s in spans}
    for e in events:
        acc = out.get(e.get("group"))
        if acc is None:
            continue
        kind = e["kind"]
        if kind == "span":
            acc["wall_ms"] += e["wall_ms"]
        elif kind == "job":
            acc["jobs"] += 1
        elif kind == "stage":
            for k in ("tasks", "task_ms", "shuffle_write_bytes",
                      "spill_bytes", "input_bytes"):
                acc[k] += e[k]
        elif kind == "sql":
            for k in ("plan_ms", "exchanges", "long_csv_scans"):
                acc[k] += e[k]
    return out
