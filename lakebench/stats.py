"""Statistics the benchmark reports, kept free of I/O so they can be tested.

  * percentiles follow the nearest-rank rule and are valid only when at
    least ten samples lie beyond them;
  * a span's self time is its duration minus the union of its children;
  * freshness is rebuilt from output file commit times and the creation
    time each event carries.
"""

import calendar
import math
import re
import statistics

MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank q-quantile (0 < q <= 1) of values, with its validity.

    Returns (value, n, valid): valid is True only when at least
    MIN_BEYOND samples lie strictly beyond the chosen rank.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return math.nan, 0, False
    rank = max(1, math.ceil(q * n))
    return xs[rank - 1], n, n - rank >= MIN_BEYOND


def median(values):
    return statistics.median(values) if values else math.nan


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def self_time(span, children):
    """Duration of span (start, end) not covered by any child interval,
    children clipped to the span."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_ms(clipped)


def gaps(intervals):
    """Idle gaps between consecutive covered stretches of intervals."""
    out, cur_e = [], None
    for s, e in sorted(intervals):
        if cur_e is not None and s > cur_e:
            out.append(s - cur_e)
        cur_e = e if cur_e is None else max(cur_e, e)
    return out


def freshness(files, created_at):
    """Per-event latency from creation to the commit of the output file
    that holds the event.

    files: [{"commit_ms": int, "created": [offset_ms, ...]}], where each
    offset is the creation offset the event carries; created_at maps it
    to the wall time the event counts as created.
    """
    return [f["commit_ms"] - created_at(c) for f in files for c in f["created"]]


_WINDOW = re.compile(r"(\d{4})-(\d\d)-(\d\d) (\d\d):(\d\d):(\d\d)")


def utc_ms(text):
    """'yyyy-MM-dd HH:mm:ss' (UTC) to epoch ms."""
    y, mo, d, h, mi, s = map(int, _WINDOW.fullmatch(text).groups())
    return calendar.timegm((y, mo, d, h, mi, s)) * 1000


def dm_lags(windows, emittable_at):
    """Per DM window: commit of its last output file minus the earliest
    time it could have been emitted, emittable_at(window_end_ms)."""
    last = {}
    for w in windows:
        last[w["window_end"]] = max(last.get(w["window_end"], 0), w["commit_ms"])
    return [commit - emittable_at(utc_ms(end)) for end, commit in sorted(last.items())]
