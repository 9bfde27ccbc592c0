"""Pure helpers shared by the workloads: percentiles, latency
derivation, backlog tracking, interval unions and result
diffs. Nothing here touches Spark, files or the clock, so every
function is unit-tested in tests/test_core.py."""

from __future__ import annotations

import math
import statistics

# a tail percentile needs at least this many samples beyond it
MIN_TAIL_SAMPLES = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1) of ``values``.

    Refuses (ValueError) a tail percentile the sample cannot support:
    fewer than MIN_TAIL_SAMPLES values would lie beyond it. The median
    only needs one value."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    if q != 0.5:
        beyond = n * (1.0 - q) if q > 0.5 else n * q
        if beyond < MIN_TAIL_SAMPLES - 1e-9:  # n * (1 - q) rounds low
            raise ValueError(
                f"p{100 * q:g} needs {MIN_TAIL_SAMPLES} samples beyond it; "
                f"{n} samples leave {beyond:.1f}"
            )
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def min_samples(q: float) -> int:
    """Smallest sample ``percentile`` accepts for the ``q``-quantile."""
    if q == 0.5:
        return 1
    beyond = 1.0 - q if q > 0.5 else q
    return math.ceil(MIN_TAIL_SAMPLES / beyond - 1e-9)


def median(values) -> float:
    """Median, 0.0 for an empty sample (a layer a run does not use)."""
    vals = list(values)
    return float(statistics.median(vals)) if vals else 0.0


def trigger_chunk_seq(end_offset_ms: int, chunk_ms: int) -> int:
    """Index of the chunk whose arrival made the sessionizer emit a
    segment ending at ``end_offset_ms``: the emit happens right after
    that chunk's samples are appended, so the segment ends at the
    chunk's end, up to the core's millisecond flooring."""
    return max(0, round(end_offset_ms / chunk_ms) - 1)


def segment_latency_ms(due_s: float, expires_at: float, ttl_s: float) -> float:
    """Latency of one segment: from the due time of its last chunk to
    the sink's write, which the store stamps as ``expires_at - ttl``."""
    return ((expires_at - ttl_s) - due_s) * 1000.0


def offsets_total(offset) -> int:
    """Sum of a queue-source offset (per-priority line counts), given
    as the dict or as the JSON text a progress record carries."""
    if offset is None:
        return 0
    if isinstance(offset, str):
        import json

        offset = json.loads(offset)
    return sum(int(v) for v in offset.values())


def backlog(batches, sent_by) -> list[tuple[float, int]]:
    """(batch end time, chunks sent but not yet read) per micro-batch.

    ``batches`` are (start_s, duration_s, end_offset_total) and
    ``sent_by(t)`` counts the chunks the generator had written by wall
    time t."""
    return [(t + d, sent_by(t + d) - end) for t, d, end in batches]


def backlog_grows(lags: list[int], slack: int) -> bool:
    """True when the backlog's peak in the second half of the run is
    above its first-half peak by more than half again plus ``slack``:
    the generator outruns the stream."""
    if len(lags) < 4:
        return False
    half = len(lags) // 2
    first, second = max(lags[:half]), max(lags[half:])
    return second > 1.5 * max(first, 0) + slack


def union_seconds(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """Intervals cut to the window [lo, hi]; empty ones dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def diff_keyed(expected: dict, actual: dict) -> dict:
    """Compare two {key: value} result sets: counts of keys missing
    from ``actual``, extra in it, and present with a different value."""
    missing = [k for k in expected if k not in actual]
    extra = [k for k in actual if k not in expected]
    different = [k for k in expected if k in actual and actual[k] != expected[k]]
    return {
        "missing": len(missing),
        "extra": len(extra),
        "different": len(different),
        "examples": (missing[:3], extra[:3], different[:3]),
    }


def _cell(v):
    """Normalise one result cell for an exact, order-free comparison:
    a (type tag, value) pair, so integers never equal floats, NaN
    equals NaN, and rows sort without comparing unlike types."""
    if v is None:
        return ("null",)
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):
        try:
            v = v.item()  # numpy scalar
        except (ValueError, AttributeError):
            pass
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("float", v)
    if isinstance(v, str):
        return ("str", v)
    if isinstance(v, bytes):
        return ("bytes", v)
    if hasattr(v, "isoformat"):
        if getattr(v, "tzinfo", None) is not None:  # Spark stamps UTC
            from datetime import timezone

            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return ("time", v.isoformat())
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, _cell(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return ("list", tuple(_cell(x) for x in v))
    return ("other", str(v))


def frame_rows(columns, rows) -> list[tuple]:
    """Rows of a result as sorted tuples of normalised cells, with the
    columns taken in name order (both engines alias identically)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def diff_frames(exp_cols, exp_rows, act_cols, act_rows) -> list[str]:
    """Bit-exact, order-insensitive comparison of two query results.
    Returns the problems found (empty when identical). Integers meet
    only integers and floats only floats: 4 and 4.0 differ."""
    if sorted(exp_cols) != sorted(act_cols):
        return [f"columns differ: {sorted(exp_cols)} vs {sorted(act_cols)}"]
    if len(exp_rows) != len(act_rows):
        return [f"row count: expected {len(exp_rows)}, got {len(act_rows)}"]
    a = frame_rows(list(exp_cols), exp_rows)
    b = frame_rows(list(act_cols), act_rows)
    bad = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    if bad:
        return [f"{len(bad)} rows differ, e.g. {a[bad[0]]!r} vs {b[bad[0]]!r}"]
    return []
