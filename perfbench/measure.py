"""Measurement rules of the benchmark, kept apart so they can be tested.

- A percentile is reported only when at least ten samples lie beyond it,
  and always together with its sample count.
- In an open loop a record's latency runs from when it was *due*, so a
  stall charges its wait to every record queued behind it.
- An alert is attributed to the first record whose event time lies past
  the alert's deadline plus the watermark delay: that record is the one
  that moved the watermark far enough for the timer to fire.
"""
import math

import numpy as np

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(values, q):
    """q-quantile (0 < q < 1) of `values`, interpolated between the two
    nearest samples, and the sample count.

    Raises TooFewSamples unless at least MIN_BEYOND samples lie beyond it.
    """
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    beyond = n - 1 - math.floor(q * (n - 1)) if n else 0
    if beyond < MIN_BEYOND:
        raise TooFewSamples(f"p{q * 100:g} needs {MIN_BEYOND} samples beyond it; "
                            f"{n} samples leave {beyond}")
    return float(np.percentile(xs, q * 100)), n


def latencies_from_due(due_ms, batches):
    """Per-record latency from due time to the commit of the micro-batch
    that consumed it.

    `due_ms[i]` is when record i was due; `batches` holds
    (first_record, end_record, commit_ms) with records numbered like
    `due_ms`. Records no batch consumed get no latency.
    """
    due = np.asarray(due_ms, dtype=float)
    out = np.full(len(due), np.nan)
    for first, end, commit in batches:
        a, b = max(0, first), min(len(due), end)
        if b > a:
            out[a:b] = commit - due[a:b]
    return out[~np.isnan(out)]


def alert_triggers(event_ms, deadlines, watermark_ms):
    """Index of the record that made each alert due: the first record whose
    event time exceeds deadline + watermark delay (`event_ms` sorted).
    An index equal to len(event_ms) means no produced record did."""
    ev = np.asarray(event_ms, dtype=float)
    return np.searchsorted(ev, np.asarray(deadlines, dtype=float) + watermark_ms,
                           side="right")


def alert_latencies(event_ms, due_ms, alerts, watermark_ms):
    """Latency of each alert, from when its triggering record was due to
    when the alert reached the sink. `alerts` holds (deadline_ms,
    arrival_ms). Alerts no produced record triggered (those the end-of-run
    sentinel fires) are left out."""
    if len(alerts) == 0:
        return np.array([])
    a = np.asarray(alerts, dtype=float)
    idx = alert_triggers(event_ms, a[:, 0], watermark_ms)
    keep = idx < len(due_ms)
    due = np.asarray(due_ms, dtype=float)
    return a[keep, 1] - due[idx[keep]]


def backlog_grew(samples, slack):
    """True when a backlog reading stands higher at the end of a run than
    at its start: the mean over the last third of (time, reading) samples
    exceeds the mean over the first third by more than `slack`."""
    if len(samples) < 3:
        return False
    b = [s[1] for s in samples]
    third = len(b) // 3
    return float(np.mean(b[-third:])) > float(np.mean(b[:third])) + slack
