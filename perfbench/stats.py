"""Percentiles and streaming-progress arithmetic (pure Python, no Spark).

Latency of an open-loop record is measured from the time it was due (the
generator stamps it into the record's ``timestamp``) to the commit of the
micro-batch that carried it. The commit time of a batch comes from its
progress event: trigger start (``timestamp``) plus ``batchDuration``.
"""

from __future__ import annotations

import ast
import json
import math
from datetime import datetime


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100] (numpy's default
    method, so results can be checked against it)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def weighted_percentile(pairs, p: float) -> float:
    """Percentile of values given as ``(value, count)`` pairs: the
    smallest value whose cumulative count reaches ``p`` percent."""
    items = sorted((v, c) for v, c in pairs if c > 0)
    total = sum(c for _, c in items)
    if not total:
        raise ValueError("percentile of no samples")
    need = total * p / 100.0
    run = 0
    for v, c in items:
        run += c
        if run >= need:
            return v
    return items[-1][0]


def top_percentile(n: int, beyond: int = 10) -> int:
    """The highest whole percentile that leaves at least ``beyond`` of
    ``n`` samples above it (0 when there are too few samples)."""
    if n <= beyond:
        return 0
    return max(0, min(99, math.floor(100.0 * (n - beyond) / n)))


def parse_offsets(raw) -> dict[str, int]:
    """A progress event's ``startOffset``/``endOffset``: a dict, a JSON
    string, or — for Python data sources on Spark 4.1 — the Python repr
    of a dict (``"{'0': 2625, ...}"``)."""
    if raw is None:
        return {}
    if isinstance(raw, dict):
        d = raw
    else:
        try:
            d = json.loads(raw)
        except ValueError:
            d = ast.literal_eval(raw)
    return {str(k): int(v) for k, v in d.items()}


def progress_dict(p) -> dict:
    """A StreamingQueryProgress object (Spark 4) or a JSON string/dict."""
    if isinstance(p, dict):
        return p
    return json.loads(getattr(p, "json", p))


def commit_ms(progress: dict) -> float:
    """Epoch millis at which the batch committed."""
    ts = progress["timestamp"].replace("Z", "+00:00")
    start = datetime.fromisoformat(ts).timestamp() * 1000.0
    return start + float(progress["batchDuration"])


def record_latencies(progresses, due_ranges) -> list[tuple[float, int]]:
    """Latency samples as ``(ms, record count)`` pairs.

    ``due_ranges`` lists what the generator wrote: ``(due_ms, partition,
    first_offset, end_offset)``. Each batch's offset window
    ``[startOffset, endOffset)`` per partition is matched against those
    ranges; records in both are charged ``commit - due``.
    """
    by_part: dict[str, list[tuple[int, int, float]]] = {}
    for due, part, lo, hi in due_ranges:
        by_part.setdefault(str(part), []).append((lo, hi, due))
    out: list[tuple[float, int]] = []
    for prog in progresses:
        if not prog.get("numInputRows"):
            continue
        src = prog["sources"][0]
        start = parse_offsets(src.get("startOffset"))
        end = parse_offsets(src.get("endOffset"))
        done = commit_ms(prog)
        for part, e in end.items():
            s = start.get(part, 0)
            for lo, hi, due in by_part.get(part, ()):
                n = min(hi, e) - max(lo, s)
                if n > 0:
                    out.append((done - due, n))
    return out


def sum_duration(progresses, key: str) -> float:
    return float(
        sum(p.get("durationMs", {}).get(key, 0) for p in progresses)
    )
