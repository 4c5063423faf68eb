"""Arithmetic of the benchmark: percentiles, cost strata, span self times,
failure counts and the fingerprint check. Pure functions, tested by
test_stats.py; run.py does the I/O."""
import statistics

# Span layers and their nesting depth inside an operation. Harness spans
# wrap the calls into one layer; jobs and Catalyst phases come from Spark
# and nest inside whichever harness span they fall in.
DEPTH = {"exec.job": 2, "catalyst.analysis": 2, "catalyst.optimization": 2,
         "catalyst.planning": 2}
# At equal depth an instant covered by a job is job time, not planning.
PRIORITY = {"exec.job": 1}
TAIL_MIN_ABOVE = 10  # a tail percentile needs this many samples beyond it


def p50(xs):
    return statistics.median(xs)


def p95(xs):
    """95th percentile, linear interpolation between order statistics
    (statistics.quantiles 'inclusive'); a single sample is its own p95."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=20, method="inclusive")[18]


def tail(xs):
    """Median, p95, sample count, samples strictly above p95, and whether
    the p95 rests on at least TAIL_MIN_ABOVE samples beyond it."""
    hi = p95(xs)
    above = sum(1 for x in xs if x > hi)
    return {"p50": p50(xs), "p95": hi, "n": len(xs), "above_p95": above,
            "tail_ok": above >= TAIL_MIN_ABOVE}


def failed_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return failed / attempted


def strata(costs, max_size, max_ratio):
    """Groups queries of similar calibrated cost: sorted by cost, slowest
    first, a stratum takes following queries while it has fewer than
    `max_size` members and its first member costs at most `max_ratio`
    times the candidate. Names break ties so the grouping is stable."""
    order = sorted(costs, key=lambda n: (-costs[n], n))
    out = []
    for name in order:
        cur = out[-1] if out else None
        if cur and len(cur) < max_size and costs[cur[0]] <= max_ratio * costs[name]:
            cur.append(name)
        else:
            out.append([name])
    return out


def representatives(groups):
    """The median-cost member of each stratum (`strata` lists members
    slowest first)."""
    return [g[len(g) // 2] for g in groups]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], clipped to
    [lo, hi] when given; overlaps count once."""
    segs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            segs.append((s, e))
    total, end = 0, None
    for s, e in sorted(segs):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(t0, t1, spans):
    """Splits an operation's wall [t0, t1] among its layers.

    Every instant goes to the deepest span covering it (the operation
    itself at depth 0, harness spans at depth 1, jobs and Catalyst phases
    at depth 2; a job beats a phase at equal depth). So each layer's self
    time is its span minus the part its children cover, overlapping
    children count once, and the self times add up to the wall exactly.
    Returns {layer: self time} in the units of t0/t1; the operation's own
    share is under "op"."""
    clipped = []
    for name, s, e in spans:
        s, e = max(s, t0), min(e, t1)
        if e > s:
            rank = (DEPTH.get(name, 1), PRIORITY.get(name, 0))
            clipped.append((name, s, e, rank))
    cuts = sorted({t0, t1} | {s for _, s, _, _ in clipped} | {e for _, _, e, _ in clipped})
    out = {"op": 0}
    for a, b in zip(cuts, cuts[1:]):
        best, rank = "op", (0, 0)
        for name, s, e, r in clipped:
            if s <= a and e >= b and r > rank:
                best, rank = name, r
        out[best] = out.get(best, 0) + (b - a)
    return out


def fingerprint_problems(expected, observed):
    """Compares observed check results {query: {"rows", "fp"}} with the
    expected ones. An expected entry with an "fp" (an oracle-checked
    result) or an "order_fp" (a result without an oracle that two orders
    agreed on) is checked on the whole fingerprint, otherwise on the row
    count alone. Returns one message per query that does not match,
    including queries that failed to run."""
    problems = []
    for name in sorted(observed):
        got = observed[name]
        want = expected.get(name)
        if want is None:
            problems.append(f"{name}: no expected result recorded")
        elif not got.get("ok", True):
            problems.append(f"{name}: {got.get('err')}")
        elif got["rows"] != want["rows"]:
            problems.append(f"{name}: {got['rows']} rows, expected {want['rows']}")
        elif "fp" in want and got["fp"] != want["fp"]:
            problems.append(f"{name}: fingerprint {got['fp']}, expected {want['fp']}")
        elif "order_fp" in want and got["fp"] != want["order_fp"]:
            problems.append(f"{name}: fingerprint {got['fp']} differs from {want['order_fp']},"
                            " which two other orders produced")
    return problems
