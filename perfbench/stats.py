"""Latency summaries and metric-name rules shared by every workload."""

from __future__ import annotations

import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

#: samples that must lie beyond the tail percentile
TAIL_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> "tuple[float, float] | None":
    """The highest percentile that still leaves ``TAIL_BEYOND`` samples
    beyond it, as ``(percentile, value)``; None when no percentile from
    the median up does (fewer than ``2 * TAIL_BEYOND`` samples). With
    ``n`` samples sorted ascending this is the sample at 1-based rank
    ``n - TAIL_BEYOND`` (nearest-rank percentile ``100 * rank / n``), so
    exactly ``TAIL_BEYOND`` samples rank above it.
    """
    n = len(values)
    rank = n - TAIL_BEYOND
    if rank < 1 or 2 * rank < n:
        return None
    return 100.0 * rank / n, float(sorted(values)[rank - 1])


def summarize(values) -> dict:
    """Median, tail (value and percentile) and sample count of one
    latency series; the tail falls back to the maximum, flagged by a
    ``None`` percentile, when the series is too short for one."""
    out = {"samples": len(values), "p50": median(values) if values else None}
    t = tail(values)
    if t is None:
        out["tail_pct"], out["tail"] = None, (max(values) if values else None)
    else:
        out["tail_pct"], out["tail"] = t
    return out


def by_round(records) -> "dict[str, list[float]]":
    """Per round of a run: the median read latency and the operations
    per second of op time. Every round holds the same mix, so the median
    over rounds is the run's figure, unmoved by a host slowdown that
    covers fewer than half of the rounds."""
    rounds: "dict[int, list[dict]]" = {}
    for r in records:
        rounds.setdefault(r["round"], []).append(r)
    out: "dict[str, list[float]]" = {"read_p50_s": [], "ops_per_s": []}
    for _, rs in sorted(rounds.items()):
        reads = [r["latency_s"] for r in rs if r["category"] == "read"]
        if reads:
            out["read_p50_s"].append(median(reads))
        out["ops_per_s"].append(len(rs) / sum(r["latency_s"] for r in rs))
    return out


def bad_metric_names(names) -> "list[str]":
    return [n for n in names if not METRIC_NAME.fullmatch(n)]
