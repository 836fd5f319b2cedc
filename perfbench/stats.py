"""Statistics the runner reports: medians, tail percentiles with the
ten-samples-beyond rule, failure fraction and span self time."""
import math


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tail_percentile(xs, p):
    """Nearest-rank p-th percentile, or None unless at least ten samples lie
    beyond it (a tail read from fewer is noise)."""
    n = len(xs)
    rank = math.ceil(p / 100 * n)
    if n == 0 or n - rank < 10:
        return None
    return sorted(xs)[rank - 1]


def trace_overhead(passes):
    """Median extra wall time of a traced pass over the mean of the untraced
    passes next to it (one or both sides). `passes` is [(wall, traced)] in
    run order; a pass bracketed on both sides cancels the speed-up that
    warm-up still gives later passes, a one-sided neighbour does not."""
    diffs = []
    for i, (w, traced) in enumerate(passes):
        if not traced:
            continue
        near = [passes[j][0] for j in (i - 1, i + 1)
                if 0 <= j < len(passes) and not passes[j][1]]
        if near:
            diffs.append(w - sum(near) / len(near))
    if not diffs:
        raise ValueError("no traced pass with an untraced neighbour")
    return median(diffs)


def highest_tail(xs, candidates=(99, 95, 90, 80, 75)):
    """(p, value) for the highest candidate percentile with at least ten
    samples beyond it, or None when even the lowest has fewer."""
    for p in candidates:
        v = tail_percentile(xs, p)
        if v is not None:
            return p, v
    return None


def failed_frac(samples, failed_ops):
    """Share of op samples that threw or belong to an op whose output check
    failed. `samples` are dicts with `op` and `error`."""
    if not samples:
        raise ValueError("no ops attempted")
    bad = sum(1 for s in samples if s["error"] is not None or s["op"] in failed_ops)
    return bad, bad / len(samples)


def self_times(spans):
    """Per span name: (total self time in ns, count). Self time is a span's
    duration minus the part of it its children cover; child intervals are
    clipped to the parent and overlapping children are counted once."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(lo, c["start_ns"]), min(hi, c["end_ns"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        tot, cnt = out.get(s["name"], (0, 0))
        out[s["name"]] = (tot + (hi - lo) - covered, cnt + 1)
    return out
