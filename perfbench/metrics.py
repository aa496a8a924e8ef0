"""Metric math for the benchmark: percentiles with a sample-count rule,
geometric means, the creation-to-visibility join and span self time.

Pure Python, no Spark, so ``test_metrics.py`` covers it in milliseconds.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Mapping, Sequence

MIN_BEYOND = 10


def quantile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method), 0 <= q <= 1."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def percentile(values: Sequence[float], q: float,
               groups: Sequence[object] | None = None) -> dict:
    """The q-quantile of ``values`` with the counts that justify it.

    ``beyond`` counts the samples strictly above the quantile. With
    ``groups`` (one label per value, e.g. the micro-batch that delivered
    an event) it counts the distinct groups with a sample above it
    instead: samples that share a group are not independent. The figure
    is ``reportable`` only when ``beyond >= MIN_BEYOND``.
    """
    value = quantile(values, q)
    if groups is None:
        beyond = sum(1 for v in values if v > value)
    else:
        beyond = len({g for v, g in zip(values, groups) if v > value})
    return {"value": value, "n": len(values), "beyond": beyond,
            "reportable": beyond >= MIN_BEYOND}


def geomean(values: Iterable[float]) -> float:
    xs = list(values)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def op_geomean_ms(latencies_by_key: Mapping[str, Sequence[float]]) -> float:
    """Geometric mean over keys of each key's median latency, so every key
    weighs the same whatever its absolute cost."""
    return geomean(quantile(v, 0.5) for v in latencies_by_key.values())


def freshness_join(
    created_ms: Mapping[object, float],
    visible: Mapping[object, tuple[float, object]],
    window: tuple[float, float],
) -> dict:
    """Join creation stamps with sink visibility.

    ``created_ms`` maps an event identity to its creation time (epoch ms);
    ``visible`` maps an identity to ``(visible_epoch_s, batch)``. Events
    created inside ``window`` (epoch seconds, half-open) and delivered give
    one freshness sample each, in ms, labelled with the batch that
    delivered them. Undelivered events are the correctness check's
    business.
    """
    lo, hi = window
    samples: list[float] = []
    batches: list[object] = []
    for ident, c_ms in created_ms.items():
        hit = visible.get(ident)
        if hit is not None and lo <= c_ms / 1000.0 < hi:
            samples.append(hit[0] * 1000.0 - c_ms)
            batches.append(hit[1])
    return {"freshness_ms": samples, "batches": batches}


def delivered_rate(completions: Iterable[tuple[float, int]],
                   window: tuple[float, float]) -> dict:
    """Rows per second delivered over whole batch cycles.

    ``completions`` holds one ``(visible_epoch_s, rows)`` per batch. The
    rate covers the batches that became visible inside ``window``, from
    the completion of the batch before them to the last one, so a batch
    boundary near a window edge cannot add or drop a whole batch.
    """
    done = sorted(completions)
    inside = [i for i, (t, _) in enumerate(done) if window[0] <= t < window[1]]
    if not inside or inside[0] == 0:
        raise ValueError("need a batch completed before the window and one inside it")
    first, last = inside[0], inside[-1]
    rows = sum(r for _, r in done[first:last + 1])
    return {"rate": rows / (done[last][0] - done[first - 1][0]), "batches": len(inside)}


def catch_up_end(batches: Iterable[tuple[float, float]], idle_s: float = 0.1) -> float | None:
    """When a streaming query first kept up with its input.

    ``batches`` holds one ``(start, end)`` per data batch. A batch that
    runs past its trigger interval, or that has a backlog behind it, is
    followed at once by the next one (after some tens of ms of
    bookkeeping); a query that keeps up waits for the next trigger.
    Returns the end of the first batch followed by an idle gap longer
    than ``idle_s``, or None if there was none.
    """
    done = sorted(batches)
    for (_, end), (nxt, _) in zip(done, done[1:]):
        if nxt - end > idle_s:
            return end
    return None


def union_length(intervals: Iterable[tuple[float, float]],
                 clip: tuple[float, float] | None = None) -> float:
    """Total length covered by the intervals, optionally clipped."""
    spans = []
    for s, e in intervals:
        if clip is not None:
            s, e = max(s, clip[0]), min(e, clip[1])
        if e > s:
            spans.append((s, e))
    spans.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: tuple[float, float],
              children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the union of its children's intervals
    (clipped to the span): the time spent in the span's own layer."""
    return (span[1] - span[0]) - union_length(children, clip=span)
