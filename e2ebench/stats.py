"""The benchmark's own rules, as pure functions so they can be self-tested:
percentiles and quartile spread, interval arithmetic for span self time,
the host CPU steal over a sample's own interval and which samples it
rules out, and the attribution of each emitted SMA window to the tick that closed it
and the batch that wrote it."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it. It is always a measured
    sample, never an interpolation between two."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    ordered = sorted(values)
    return float(ordered[max(0, math.ceil(q / 100 * len(ordered)) - 1)])


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)`` gives
    them (its default, exclusive method)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover.
    Overlapping children are counted once."""
    return (end - start) - covered(children, start, end)


def steal_share(readings: list[tuple[float, int, int]], t0: float, t1: float) -> float:
    """Share of CPU time the hypervisor stole over [t0, t1], from readings
    ``(wall time, steal jiffies, total jiffies)`` of ``/proc/stat`` in time
    order. The interval is widened to the last reading at or before ``t0``
    and the first at or after ``t1`` (the nearest ones where it runs past
    the readings)."""
    if len(readings) < 2:
        raise ValueError("steal needs at least two readings")
    before = [r for r in readings if r[0] <= t0] or readings[:1]
    after = [r for r in readings if r[0] >= t1] or readings[-1:]
    a, b = before[-1], after[0]
    if b[0] <= a[0]:
        raise ValueError("no reading after the interval starts")
    return (b[1] - a[1]) / max(1, b[2] - a[2])


def steal_free(steals: list[float], limit: float, keep: int) -> list[int]:
    """Indices, in order, of the samples taken with steal (a share of CPU
    time, one per sample) at or under ``limit``: a sample taken while the
    host stole more is not folded into a median. If fewer than ``keep``
    pass, the ``keep`` with the least steal are used instead, so a run on
    a host that steals throughout still reports a number."""
    passed = [i for i, s in enumerate(steals) if s <= limit]
    if len(passed) >= keep:
        return passed
    return sorted(sorted(range(len(steals)), key=steals.__getitem__)[:keep])


def attribute_windows(
    window_ends: list[int],
    batches: list[dict],
    due: dict[int, float],
    watermark_delay: int,
) -> list[dict]:
    """Attribute each emitted window to the tick that let it close and
    to the batch that emitted it, and give its latency.

    ``window_ends`` are window end times in tick seconds. ``batches`` are
    micro-batches in id order, each ``{"batch_id", "watermark",
    "sink_return"}`` with the watermark (tick seconds) the batch ran with
    and the wall time its sink write returned. ``due`` maps a tick second
    to the wall time it was due at the generator.

    A window ending at ``e`` closes once the watermark, the newest tick
    second minus ``watermark_delay``, reaches ``e``: the closing tick is
    ``e + watermark_delay``. Spark applies a watermark in the batch after
    the one that raised it, so the emitting batch is the first whose own
    watermark reaches ``e``. The latency runs from the closing tick's due
    time to that batch's sink return, so it counts the wait a slow batch
    imposes on the ticks queued behind it, and it excludes the window
    length and the configured watermark delay.
    """
    out = []
    for e in window_ends:
        tick = e + watermark_delay
        batch = next((b for b in batches if b["watermark"] >= e), None)
        if batch is None or tick not in due:
            continue
        out.append({
            "window_end": e,
            "closing_tick": tick,
            "batch_id": batch["batch_id"],
            "latency_s": batch["sink_return"] - due[tick],
        })
    return out
