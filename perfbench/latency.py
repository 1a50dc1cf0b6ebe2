"""Event-to-commit latency from streaming progress.

A tick is one landed file of events, stamped with the time it was landed
(for a backlog: the time its round began landing). A query's micro-batch
covers the source-log batches in (start, end] of its file-source offsets,
and is committed at its trigger start plus its `triggerExecution` duration.
A tick's latency is the time from its stamp until the last of the queries
has committed a batch containing it.
"""


def commit_times(batches, log):
    """tick -> commit time (ms) for one query.

    batches: [start_log, end_log, trigger_start_ms, trigger_ms] per
    micro-batch (start_log -1 for the first); log: {log_batch_id: [tick]}.
    """
    out = {}
    for start, end, trigger_start, trigger_ms in batches:
        done = trigger_start + trigger_ms
        for b in range(int(start) + 1, int(end) + 1):
            for t in log.get(str(b), ()):
                out.setdefault(t, done)
    return out


def tick_latencies(ticks, queries, sample_from):
    """Latency (ms) of every tick due at or after `sample_from`, by the
    slowest query, and per query. Raises if a query never committed a
    sampled tick."""
    per_query = {q: commit_times(v["batches"], v["log"]) for q, v in queries.items()}
    overall, by_query = [], {q: [] for q in queries}
    for tick, due, _landed in ticks:
        if due < sample_from:
            continue
        done = []
        for q, commits in per_query.items():
            if tick not in commits:
                raise ValueError(f"query {q} never committed tick {tick}")
            by_query[q].append(commits[tick] - due)
            done.append(commits[tick])
        overall.append(max(done) - due)
    return overall, by_query


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def supported(n, p, beyond=10):
    """A percentile is reported only with at least `beyond` samples above it."""
    return int(round(n * (100 - p) / 100.0, 9)) >= beyond
