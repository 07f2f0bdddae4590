"""Statistics and trace reduction for the benchmark (pure Python, no I/O)."""
import math
import re
import statistics

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def valid_name(name: str) -> bool:
    """Metric and workload names: letters, digits, `_`, `.`, `-` only."""
    return bool(NAME_RE.match(name))


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank q-quantile of n samples."""
    return n - math.ceil(q * n) if n else 0


def supports(n: int, q: float) -> bool:
    return samples_beyond(n, q) >= MIN_BEYOND


def quantile(xs, q: float) -> float:
    """Nearest-rank q-quantile."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(xs) -> float:
    return statistics.median(xs)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans) -> dict:
    """Span id -> duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], []) if c["end"] > s["start"] and c["start"] < s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def attribute_jobs(jobs, group_rid: dict) -> dict:
    """Job id -> rid of the replayed statement that ran it, or None.

    A job belongs to a statement when its job group is the one
    `GraftSession.sql` set for that statement's replay. Jobs of other groups
    (the servers' own executions, the writers) stay unattributed: their
    intervals overlap several operations, so time cannot tell their owner.
    """
    return {j["id"]: group_rid.get(j["group"]) for j in jobs}


def overhead_ratio(ops) -> float:
    """What tracing costs a closed-loop client: SELECTs started per untraced
    slice over SELECTs started per traced slice.

    Traced and untraced slices are equally long and the clients the same, so
    the ratio is the wall of one traced client cycle (round trip, span
    bookkeeping and the in-process replay) over that of an untraced cycle.
    """
    sel = [o for o in ops if o["kind"] == "select"]
    traced = sum(1 for o in sel if o["traced"])
    return (len(sel) - traced) / traced if traced else 0.0
