"""Pure functions that turn a run's raw samples into metrics.

Kept free of I/O so that test_metrics.py can pin each rule on synthetic
inputs: the percentile sample-support rule, open-loop due times and
lateness, the event -> micro-batch mapping, the ladder rule that picks
the highest sustainable ingest rate, and the sink's rate under overload.
"""
# Percentiles a run may report, lowest first.
LEVELS = (50, 90, 95, 99, 99.9)
# A percentile is supported when at least this many samples lie beyond it.
BEYOND = 10


def percentile(xs, p):
    """Linear-interpolated p-th percentile (numpy's default method)."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def supported(n, p):
    """True when n samples leave at least BEYOND of them above the p-th
    percentile, so the percentile rests on more than a handful of values."""
    return n * (100.0 - p) / 100.0 >= BEYOND


def highest_supported(n):
    """Highest level in LEVELS that n samples support, or None."""
    ok = [p for p in LEVELS if supported(n, p)]
    return ok[-1] if ok else None


# ---- open-loop generation -------------------------------------------------

def schedule(rates, rung_s, t0=0.0):
    """Due times of an open-loop ladder: rung k sends rates[k] events per
    second for rung_s seconds, right after rung k-1. Returns a list of
    (rung, due) in due order; a slow system never delays a due time."""
    out = []
    start = t0
    for k, r in enumerate(rates):
        n = int(round(r * rung_s))
        out += [(k, start + i / r) for i in range(n)]
        start += rung_s
    return out


def lateness(due, sent):
    """How late each event left the generator (never negative)."""
    return [max(0.0, s - d) for d, s in zip(due, sent)]


# ---- events -> micro-batches ----------------------------------------------

def batch_of_events(n_events, batch_rows):
    """Index of the micro-batch that committed each event, or None.

    Events are in acceptance order; micro-batch i committed batch_rows[i]
    rows (numInputRows, in batch order). The first batch_rows[0] accepted
    events are batch 0's, the next batch_rows[1] batch 1's, and so on —
    cumulative row counts, never source offsets, so the mapping holds
    however the source groups its input into blocks."""
    out = []
    for i, rows in enumerate(batch_rows):
        out += [i] * int(rows)
    if len(out) > n_events:
        raise ValueError(f"batches committed {len(out)} rows for {n_events} events")
    return out + [None] * (n_events - len(out))


def backlog(arrivals, commits):
    """Arrived-minus-committed rows after each commit.

    arrivals: when each event arrived (run.py uses its due time at the
    generator). commits: (time, rows) per micro-batch in batch order.
    Returns [(time, backlog)]."""
    acc = sorted(arrivals)
    out, done, j = [], 0, 0
    for t, rows in commits:
        done += rows
        while j < len(acc) and acc[j] <= t:
            j += 1
        out.append((t, j - done))
    return out


def rung_backlog(arrivals, commits, start, end):
    """Backlog points of one rung: at `start`, after each commit inside
    (start, end), and at `end`, so a rung in which nothing commits (a
    stalled sink) still shows its backlog climbing."""
    def at(t):
        return (sum(1 for a in arrivals if a <= t)
                - sum(rows for c, rows in commits if c <= t))
    inner = [(t, b) for t, b in backlog(arrivals, commits) if start < t < end]
    return [(start, at(start))] + inner + [(end, at(end))]


def slope(points):
    """Least-squares slope of [(x, y)]; 0 for fewer than two distinct x."""
    if len(points) < 2:
        return 0.0
    mx = sum(x for x, _ in points) / len(points)
    my = sum(y for _, y in points) / len(points)
    sxx = sum((x - mx) ** 2 for x, _ in points)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in points) / sxx


def backlog_grows(points, rate, tolerance):
    """The backlog grows when its fitted slope exceeds tolerance x rate."""
    return slope(points) > tolerance * rate


def rung_passes(latencies, points, rate, limit_s, pct, tolerance):
    """Ladder rule for one rung: every event committed, the pct-th latency
    percentile within limit_s, and no growing backlog."""
    if not latencies or any(x is None for x in latencies):
        return False
    return (percentile(latencies, pct) <= limit_s
            and not backlog_grows(points, rate, tolerance))


def overload_rate(batches, start):
    """Rows per second the sink committed once the ladder's top rung began
    at `start`. batches: (start, commit, rows) per micro-batch in batch
    order. Counts the batches that started at or after `start`, from the
    first one's start to the last one's commit. A rung above capacity keeps
    the batches back to back, so this is the rate the sink sustains; a sink
    faster than the rung reads just under the rung's rate. 0 when nothing
    committed."""
    mine = [(s, c, r) for s, c, r in batches if s >= start]
    rows = sum(r for _, _, r in mine)
    if not rows or mine[-1][1] <= mine[0][0]:
        return 0.0
    return rows / (mine[-1][1] - mine[0][0])


def max_rate(rungs):
    """rungs: [(rate, passes)] in ladder order. The rate of the highest
    passing rung below the first failing one (a ladder stops meaning
    anything once it has fallen behind); 0 when the base rung fails."""
    best = 0.0
    for rate, ok in rungs:
        if not ok:
            break
        best = rate
    return best
