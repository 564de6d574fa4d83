"""Arithmetic the benchmark reports: medians, the tail percentile,
span self time and the DML rewrite ratio.  Pure functions, no Spark."""

from __future__ import annotations

import math
import statistics
from typing import Iterable, Mapping, Optional, Sequence


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(
    values: Sequence[float], beyond: int = 10
) -> Optional[tuple[int, float, int]]:
    """Highest whole percentile that has at least ``beyond`` samples
    above it, as ``(percentile, value, n_samples)``.

    The p-th percentile is the nearest-rank value ``sorted[ceil(p*n/100)-1]``;
    the samples beyond it are the ``n - ceil(p*n/100)`` that rank after it.
    Returns None when fewer than ``beyond + 1`` samples exist.
    """
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    p = (100 * (n - beyond)) // n
    while p > 0 and n - math.ceil(p * n / 100) < beyond:
        p -= 1
    rank = max(1, math.ceil(p * n / 100))
    return p, float(ordered[rank - 1]), n


def _covered(start: float, end: float, intervals: Iterable[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    clipped = sorted(
        (max(start, a), min(end, b)) for a, b in intervals if b > start and a < end
    )
    total = 0.0
    cur_a = cur_b = None
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


def self_times(spans: Sequence[Mapping]) -> list[float]:
    """Self time of each span: its duration minus the part of its interval
    covered by its direct children.  Children may overlap each other (spans
    opened from other threads), so the covered part is an interval union.
    Each span is a mapping with ``start``, ``end`` and ``parent`` (the index
    of the parent span in ``spans``, or None)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"]) - _covered(s["start"], s["end"], children.get(i, ()))
        for i, s in enumerate(spans)
    ]


# operationMetrics keys, as Delta Lake's DML commands write them.
_COPIED_KEYS = ("numTargetRowsCopied", "numCopiedRows")
_CHANGED_KEYS = (
    "numTargetRowsInserted", "numTargetRowsUpdated", "numTargetRowsDeleted",
    "numTargetRowsMatchedUpdated", "numTargetRowsMatchedDeleted",
    "numTargetRowsNotMatchedBySourceUpdated", "numTargetRowsNotMatchedBySourceDeleted",
    "numUpdatedRows", "numDeletedRows",
)
# Delta writes both the aggregate and the clause-split update/delete counts
# for MERGE; count only the aggregate when it is present.
_SPLIT_OF = {
    "numTargetRowsMatchedUpdated": "numTargetRowsUpdated",
    "numTargetRowsNotMatchedBySourceUpdated": "numTargetRowsUpdated",
    "numTargetRowsMatchedDeleted": "numTargetRowsDeleted",
    "numTargetRowsNotMatchedBySourceDeleted": "numTargetRowsDeleted",
}


def rewrite_ratio(operation_metrics: Iterable[Mapping]) -> Optional[float]:
    """Rows copied unchanged divided by rows changed, summed over the
    commits whose ``operationMetrics`` report row-level copy counts.
    None when no commit reports them or no row changed."""
    copied = changed = 0
    for m in operation_metrics:
        if not m or not any(k in m for k in _COPIED_KEYS):
            continue
        copied += sum(int(m[k]) for k in _COPIED_KEYS if k in m)
        changed += sum(
            int(m[k]) for k in _CHANGED_KEYS
            if k in m and _SPLIT_OF.get(k) not in m
        )
    return copied / changed if changed else None

