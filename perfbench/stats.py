"""The benchmark's arithmetic: percentiles, the freshness join, span self
time and failure accounting. Pure functions over the raw records the JVM
side writes, so each rule can be tested on its own."""
import math
import statistics


def p50(values):
    """The nearest-rank median: the sample at index ceil(n / 2) - 1."""
    xs = sorted(values)
    return xs[(len(xs) + 1) // 2 - 1] if xs else float("nan")


def median(values):
    """The usual median (the mean of the middle two of an even count), for
    figures of which a run has a few: passes, the executions of one key."""
    return statistics.median(values) if values else float("nan")


def trimmed_mean(values):
    """The mean without the lowest and the highest value (of three or
    more): for drain rounds, each of which alone varies by 10-15% on a
    quiet host, it is steadier than their median."""
    xs = sorted(values)
    if len(xs) >= 3:
        xs = xs[1:-1]
    return statistics.fmean(xs) if xs else float("nan")


def pass_walls(ops, n_keys):
    """Wall time of each pass of a single client's timed phase: its
    executions are numbered in order (`t<client>.<j>`) and pass i holds
    numbers i * n_keys to (i + 1) * n_keys - 1."""
    passes = {}
    for o in ops:
        j = int(o["op"].rpartition(".")[2])
        lo, hi = passes.get(j // n_keys, (o["start"], o["end"]))
        passes[j // n_keys] = (min(lo, o["start"]), max(hi, o["end"]))
    return [hi - lo for _, (lo, hi) in sorted(passes.items())]


def _beta_cf(a, b, x):
    """Continued fraction of the incomplete beta function (modified
    Lentz's method)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 1000):
        for aa in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def beta_cdf(a, b, x):
    """The regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def quantile(values, p):
    """The Harrell-Davis estimate of the p-quantile: a weighted mean of all
    order statistics, the weights peaking at rank p * (n + 1). It moves
    smoothly when one sample crosses the quantile, where the nearest-rank
    sample jumps across whatever gap lies there (between two keys' usual
    latencies, say)."""
    xs = sorted(values)
    n = len(xs)
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [beta_cdf(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile). With n samples that percentile is
    100 * (n - 10) / n, the one the nearest-rank sample at index n - 11
    (ascending) has, with exactly ten samples beyond it; its value is the
    Harrell-Davis estimate (`quantile`), which stays near that sample but
    does not jump with it. With ten samples or fewer no percentile
    qualifies; the maximum is returned with percentile 100 so the caller
    can see the sample was too small."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan"), float("nan")
    if n <= 10:
        return xs[-1], 100.0
    return quantile(xs, (n - 10) / n), 100.0 * (n - 10) / n


def batch_end(p):
    """End of a micro-batch, in the benchmark's seconds."""
    return p["start"] + p["durations_ms"].get("triggerExecution", 0) / 1000.0


def first_covering(progress, offset):
    """The first micro-batch (in batch order) whose source end offset covers
    `offset`, or None."""
    for p in sorted(progress, key=lambda p: p["batch"]):
        if p.get("end_offset") is not None and p["end_offset"] >= offset:
            return p
    return None


def freshness(appends, progress_by_query):
    """Freshness samples, one per (append, standing query): the time from
    the append's scheduled time to the end of the first micro-batch whose
    end offset covers the append's last event. Appends no batch covers are
    returned separately as misses."""
    samples, misses = [], 0
    for a in appends:
        for progress in progress_by_query.values():
            p = first_covering(progress, a["end_offset"])
            if p is None:
                misses += 1
            else:
                samples.append(batch_end(p) - a["sched"])
    return samples, misses


def drain_s(drain, progress_by_query):
    """One drain round: from its backlog append to the end of the last
    standing query's first micro-batch that covers the backlog; the
    benchmark's own clock if a query never reported one."""
    ends = [first_covering(ps, drain["target"]) for ps in progress_by_query]
    if not all(ends):
        return drain["end"] - drain["start"]
    return max(batch_end(p) for p in ends) - drain["start"]


def read_lag(appends, p):
    """Events appended by the end of batch `p` that it did not read."""
    end = batch_end(p)
    appended = max((a["end_offset"] for a in appends if a["end"] <= end),
                   default=0)
    return max(0, appended - (p.get("end_offset") or 0))


def backlog_growth(lags):
    """Mean read lag over the second half of a phase minus the mean over
    its first half: near zero when the queries keep up, growing with the
    phase when they do not."""
    if len(lags) < 2:
        return 0.0
    half = len(lags) // 2
    return statistics.fmean(lags[half:]) - statistics.fmean(lags[:half])


def self_times(spans):
    """Self time per span name: each span's duration minus the part of its
    interval that its children cover (overlapping children count once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], lo), min(c["end"], hi)
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
        out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo) - covered
    return out


def failures(ops, checks, errors=()):
    """Failure accounting over every operation a run attempted: query
    executions (ok flag and error class), output checks (ok flag) and other
    recorded errors. Returns (attempted, failed, {error class: count})."""
    by_class = {}
    failed = 0
    for o in ops:
        if not o["ok"]:
            failed += 1
            cls = o.get("error_class") or "unknown"
            by_class[cls] = by_class.get(cls, 0) + 1
    for c in checks:
        if not c["ok"]:
            failed += 1
            cls = c.get("error_class") or "OUTPUT_MISMATCH"
            by_class[cls] = by_class.get(cls, 0) + 1
    for e in errors:
        failed += 1
        cls = e.get("error_class") or "unknown"
        by_class[cls] = by_class.get(cls, 0) + 1
    attempted = len(ops) + len(checks) + len(errors)
    return attempted, failed, by_class
