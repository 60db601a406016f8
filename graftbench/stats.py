"""The benchmark's arithmetic, kept apart from I/O so test_stats.py can
check it: percentiles, span self time, op->job attribution and answer
matching."""
import math
import statistics

# Percentiles a tail may be read at, lowest first. Steps of 5 keep the
# chosen rung moving smoothly when the sample count changes a little.
TAIL_LADDER = tuple(float(p) for p in range(50, 100, 5)) + (99.0, 99.9)
MIN_BEYOND = 10


def nearest_rank(sorted_vals, pct):
    """Nearest-rank percentile: the smallest value with at least pct% of
    the samples at or below it. Returns (value, rank), rank 1-based."""
    n = len(sorted_vals)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return sorted_vals[rank - 1], rank


def tail(values, ladder=TAIL_LADDER, min_beyond=MIN_BEYOND):
    """The highest ladder percentile that still has at least `min_beyond`
    samples above its rank. Returns (pct, value, beyond) or None when
    not even the lowest rung qualifies."""
    vals = sorted(values)
    best = None
    for pct in ladder:
        if not vals:
            break
        value, rank = nearest_rank(vals, pct)
        beyond = len(vals) - rank
        if beyond >= min_beyond:
            best = (pct, value, beyond)
    return best


def median(values):
    return statistics.median(values) if values else 0.0


def _covered(intervals):
    """Total length of the union of (start, end) intervals."""
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


def self_times(spans):
    """Self time of each span: its length minus what its children cover.

    `spans` is a list of dicts with name, t0, t1 for one op, the root (the
    longest) included. A span's parent is the shortest other span that
    contains it; ties go to the earlier span in the list. Children are
    clipped to their parent, and overlapping children count once.
    Returns a list of (name, self_ms) in input order."""
    idx = list(range(len(spans)))

    def contains(a, b):
        return spans[a]["t0"] <= spans[b]["t0"] and spans[b]["t1"] <= spans[a]["t1"]

    def length(i):
        return spans[i]["t1"] - spans[i]["t0"]

    children = {i: [] for i in idx}
    for b in idx:
        parents = [a for a in idx if a != b and contains(a, b)
                   and (length(a) > length(b) or (length(a) == length(b) and a < b))]
        if parents:
            p = min(parents, key=lambda a: (length(a), a))
            children[p].append(b)
    out = []
    for i in idx:
        s, e = spans[i]["t0"], spans[i]["t1"]
        cover = _covered([(max(s, spans[c]["t0"]), min(e, spans[c]["t1"]))
                          for c in children[i]])
        out.append((spans[i]["name"], max(0.0, (e - s) - cover)))
    return out


def attribute_jobs(ops, jobs):
    """Map each job to the op that ran it, or to None (background work).

    A job belongs to op `i` when its `op` local property names `i` and it
    started while that op was running. A job that carries the id of an
    op already finished was started by a thread that inherited the
    property (the tile maintenance thread) and counts as background.
    Job times are whole milliseconds, so the op's start is floored."""
    by_id = {str(o["id"]): o for o in ops}
    out = {}
    for j in jobs:
        o = by_id.get(j.get("op", ""))
        if o is not None and math.floor(o["t0"]) <= j["t0"] <= o["t1"]:
            out[j["job"]] = o["id"]
        else:
            out[j["job"]] = None
    return out


def check_answers(ops, expected):
    """An op counts as correct when it ran and, for a read, its checksum
    (row count, hash sum) equals the reference one for its check key.
    Returns (n_correct, mismatches)."""
    good, bad = 0, []
    for o in ops:
        if not o.get("ok"):
            bad.append((o.get("name"), o.get("err", "failed")))
        elif o["kind"] == "read":
            ref = expected.get(o["key"])
            if ref is not None and (ref["n"], ref["h"]) == (o["n"], o["h"]):
                good += 1
            else:
                bad.append((o["name"], f"checksum {o['n']}/{o['h']} vs "
                            + (f"{ref['n']}/{ref['h']}" if ref else "no reference")))
        else:
            good += 1
    return good, bad


def task_skew(stages):
    """Worst max/median task time over stages with at least two tasks."""
    worst = None
    for st in stages:
        ts = st.get("task_ms", [])
        if len(ts) >= 2:
            med = statistics.median(ts)
            r = max(ts) / med if med > 0 else 1.0
            worst = r if worst is None else max(worst, r)
    return worst
