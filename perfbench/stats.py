"""Summary statistics and span arithmetic shared by the benchmark's tools."""
import statistics

# Candidate tail percentiles, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values):
    return statistics.median(values) if values else 0.0


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def percentile(values, p):
    """Nearest-rank percentile `p` (0..100) of `values`."""
    s = sorted(values)
    if not s:
        return 0.0
    rank = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(rank) - 1]


def tail_percentile(n, beyond=10):
    """The highest candidate percentile that leaves at least `beyond` of `n`
    samples strictly above its nearest rank, or None when even the median
    does not."""
    for p in TAIL_CANDIDATES:
        rank = -(-n * p // 100)
        if n - rank >= beyond:
            return p
    return None


def tail(values, beyond=10):
    """(percentile, value) of the tail rule; the median when samples are few."""
    p = tail_percentile(len(values), beyond) or 50.0
    return p, percentile(values, p)


def self_times(spans):
    """Self time of each span: its duration minus the time its children
    cover. `spans` are dicts with `id`, `parent`, `start_s` and `s`; children
    of one parent never overlap (the driver is single-threaded)."""
    covered = {}
    for sp in spans:
        covered[sp["parent"]] = covered.get(sp["parent"], 0.0) + sp["s"]
    return {sp["id"]: sp["s"] - covered.get(sp["id"], 0.0) for sp in spans}


def descendants(spans, root_id):
    """Ids of every span under `root_id`, itself included."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp["id"])
    out, todo = [], [root_id]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(kids.get(i, ()))
    return out


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0
