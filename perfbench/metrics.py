"""The benchmark's arithmetic: percentiles, busy/idle time from task
intervals, per-layer self times from spans, and the result checks.

Pure functions over the raw run record that perfbench.Main writes; the
unit tests in test_metrics.py cover each of them.
"""
import statistics

TAIL_BEYOND = 10


def tail(samples):
    """The highest percentile that still has at least TAIL_BEYOND
    samples above it: (value, percentile, samples above).

    With N samples that is the value at sorted index N-11, the
    100*(N-10)/N-th percentile. Fewer than TAIL_BEYOND+1 samples have
    no such percentile; then the maximum is returned, as the 100th
    percentile with nothing beyond it.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0, 0
    k = n - TAIL_BEYOND
    return xs[k - 1], 100.0 * k / n, TAIL_BEYOND


def median(samples):
    return statistics.median(samples)


def union_length(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals
                     if e > lo and s < hi)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def idle_time(ops, tasks):
    """Time inside operations during which no task ran: for each
    (start, end) operation, its length minus the union of the (launch,
    finish) task intervals that fall inside it. Same unit as the input."""
    return sum((e - s) - union_length(tasks, s, e) for s, e in ops)


def core_util(task_run_s, wall_s, cores):
    """Share of the cores' time spent running tasks."""
    return task_run_s / (wall_s * cores)


def self_times(spans):
    """Total self time per span name: each span's duration minus the
    part of it its child spans cover."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(
            (sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        covered = union_length(children.get(sp["id"], []),
                               sp["start"], sp["end"])
        own = (sp["end"] - sp["start"]) - covered
        out[sp["name"]] = out.get(sp["name"], 0.0) + own
    return out


def same_fingerprint(got, want):
    """A result matches when both its row count and its row-hash XOR
    match. A missing result (the operation threw) matches nothing."""
    if got is None or want is None:
        return False
    return got == want


def check_ops(ops, expected, warm):
    """Names of the operations whose result is wrong.

    `expected` maps operation name -> pinned fingerprint (a dict, or a
    list of dicts for an index batch); names it lacks, or all names
    when there is no pinned file, are checked against that name's
    warm-up result in `warm`. An operation with neither is checked
    only for not throwing."""
    bad = []
    for op in ops:
        if not op["ok"]:
            bad.append(op["name"])
            continue
        want = (expected or {}).get(op["name"], warm.get(op["name"]))
        if want is not None and not same_fingerprint(op["fp"], want):
            bad.append(op["name"])
    return bad


def failed_frac(attempted, failed):
    return failed / attempted
