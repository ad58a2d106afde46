"""Statistics the benchmark reports, kept apart so they can be tested alone.

- ``median`` and ``tail_percentile``: a timing is reported as its median and
  the highest percentile that still has at least ten samples beyond it.
- ``spread``: the distance between the first and third quartile as a share
  of the median (what decides whether a metric is steady).
- ``no_job_s``: the part of a call's wall time during which none of its
  Spark jobs was running.
- ``self_times``: per layer, the time its spans cover minus the part their
  child spans cover.
"""

import math
import statistics

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def nearest_rank(xs, p):
    """The p-th percentile by nearest rank (a measured sample, never an
    interpolation between two)."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[min(k, len(s)) - 1]


def tail_percentile(xs, min_beyond=10):
    """(p, value, n): the highest candidate percentile with at least
    ``min_beyond`` samples above its rank. With fewer than ``2*min_beyond``
    samples no tail qualifies and the median (p=50) is returned."""
    n = len(xs)
    for p in TAIL_CANDIDATES:
        if n - math.ceil(p / 100.0 * n) >= min_beyond:
            return p, nearest_rank(xs, p), n
    return 50.0, median(xs), n


def spread(values):
    """Interquartile distance over the median, as statistics.quantiles gives
    the quartiles."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def no_job_s(t0, t1, jobs):
    """Wall time of the call [t0, t1] not covered by any job interval
    (jobs clipped to the call), in the units of the inputs."""
    clipped = [(max(s, t0), min(e, t1)) for s, e in jobs]
    return (t1 - t0) - union_length(clipped)


def self_times(spans):
    """{name: total self time} for spans given as dicts with id, parent,
    name, start, end: each span's duration minus the union of its direct
    children's intervals."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])]
        own = (s["end"] - s["start"]) - union_length(kids)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def layer_of(span_name):
    """The module a span belongs to: its name up to the last dot."""
    return span_name.rsplit(".", 1)[0] if "." in span_name else "harness"
