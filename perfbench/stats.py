"""Metric arithmetic: percentiles, geometric mean, span self time, and the
end-to-end and per-layer metrics of one run.

Only operations that succeeded are timed. A failed operation counts in
`failed` and in the failed share, never in a latency or throughput.
"""
import math
from collections import defaultdict


def percentile(values, q):
    """q-th percentile (0..100), linear between closest ranks."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def geomean(values):
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    covered by its children (overlapping children counted once)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        ivs = sorted((max(a, c["start_ms"]), min(b, c["end_ms"]))
                     for c in kids.get(s["id"], []))
        covered, cur_a, cur_b = 0.0, None, None
        for x, y in ivs:
            if y <= x:
                continue
            if cur_b is None or x > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = x, y
            else:
                cur_b = max(cur_b, y)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = max(0.0, (b - a) - covered)
    return out


def layer_self_ms(spans):
    """Self time summed per layer."""
    st = self_times(spans)
    acc = defaultdict(float)
    for s in spans:
        acc[s["layer"]] += st[s["id"]]
    return dict(acc)


def subtree(spans, root_id):
    """The spans under (and including) root_id."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out, todo = [], [s for s in spans if s["id"] == root_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


# ------------------------------------------------------------ end to end

def timed_units(phase, workload):
    """Samples (ms) and work per sample of a measured phase, from its
    successful units only. A gate run in several passes is one sample:
    its fastest run, the min-of-N that filters out the host's slow
    spells.
    The first micro-batch of an ingest query is query start-up: it is
    in wall_s but not a per-batch sample."""
    ok = [u for u in phase["units"] if u["ok"] and u["ms"] is not None]
    if workload.startswith("ingest"):
        ok = [u for u in ok if not u["info"].get("first")]
    if workload == "console":
        return [(u["ms"], 1) for u in ok]
    best = {}
    for u in ok:
        work = u["info"].get("lines", 1)
        if u["name"] not in best or u["ms"] < best[u["name"]][0]:
            best[u["name"]] = (u["ms"], work)
    return list(best.values())


def end_to_end(result, workload, phase):
    samples = timed_units(phase, workload)
    if not samples:
        raise ValueError("no successful operation to time")
    ms = [t for t, _ in samples]
    wall_s = min(phase["info"]["rep_wall_ms"]) / 1000.0
    if workload == "console":
        throughput = len(ms) / wall_s
    else:  # events (ingest) or gates (operators) per second of unit time
        throughput = sum(w for _, w in samples) / (sum(ms) / 1000.0)
    setup = [result["session_ms"] + s for s in result["setup_ms"]]
    return {
        "setup_s": (median(setup) / 1000.0, "s"),
        "wall_s": (wall_s, "s"),
        "throughput_per_s": (throughput, "1/s"),
        "latency_ms_p50": (median(ms), "ms"),
        "latency_ms_geomean": (geomean(ms), "ms"),
    }


def counts(phase):
    units = phase["units"]
    return len(units), sum(1 for u in units if not u["ok"])
