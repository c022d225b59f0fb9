"""Pure helpers of the benchmark: percentiles, the exactly-once check and
self time. Nothing here touches Spark, so the self-tests run in seconds."""

from __future__ import annotations

import math
from typing import Iterable, Optional

MISSING = math.inf  # the latency of a file that was never committed


def _rank(n: int, q: float) -> int:
    """1-based nearest rank of the ``q``-th percentile among ``n`` samples
    (the tolerance keeps 99.9% of 10,000 at rank 9,990)."""
    return max(1, math.ceil(q * n / 100.0 - 1e-9))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in [0, 100]) of ``values``; a
    ``MISSING`` value sorts beyond every finite one."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(len(values), q) - 1]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q``-th
    percentile."""
    return n - _rank(n, q)


def highest_reportable_percentile(n: int, candidates=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)) -> Optional[float]:
    """The highest candidate percentile with at least ten samples beyond
    it, or None when even the median has fewer."""
    for q in candidates:
        if beyond(n, q) >= 10:
            return q
    return None


def latency_summary(latencies_ms: list[float]) -> dict:
    """p50 and p95 of per-file latencies plus the sample count and the
    highest percentile the count supports. Never-committed files are
    ``MISSING`` and so count beyond every percentile; a percentile that
    lands on one is reported as infinite."""
    return {
        "p50": percentile(latencies_ms, 50),
        "p95": percentile(latencies_ms, 95),
        "samples": len(latencies_ms),
        "highest_percentile": highest_reportable_percentile(len(latencies_ms)),
    }


def check_files(expected: dict[int, dict], batches: dict[int, dict]) -> dict:
    """The exactly-once check over a sink record.

    ``expected`` maps every unique announced file id to ``{"rows": n}`` (and
    optionally ``"qty": sum`` of its l_quantity). ``batches`` maps each
    committed batch id to ``{"files": {file_id: {"rows": n, "qty": s}}}``.
    A file fails when it is missing, lands in more than one batch, or has
    the wrong row count (or quantity sum). Rows of a file that was never
    announced are failures too."""
    seen: dict[int, list[dict]] = {}
    for rec in batches.values():
        for fid, got in rec["files"].items():
            seen.setdefault(int(fid), []).append(got)
    missing = duplicated = wrong = 0
    for fid, want in expected.items():
        got = seen.get(fid, [])
        if not got:
            missing += 1
        elif len(got) > 1:
            duplicated += 1
        elif got[0]["rows"] != want["rows"] or (
            "qty" in want and "qty" in got[0] and abs(got[0]["qty"] - want["qty"]) > 1e-6
        ):
            wrong += 1
    unexpected = len(set(seen) - set(expected))
    failed = missing + duplicated + wrong + unexpected
    return {
        "attempted": len(expected),
        "missing": missing,
        "duplicated": duplicated,
        "wrong_count": wrong,
        "unexpected": unexpected,
        "failed": failed,
        "failed_file_ratio": failed / max(1, len(expected)),
    }


def median(values: Iterable[float]) -> float:
    v = sorted(values)
    if not v:
        raise ValueError("median of no samples")
    mid = len(v) // 2
    return v[mid] if len(v) % 2 else (v[mid - 1] + v[mid]) / 2


def self_time(spans: list[tuple[float, float]], children: list[tuple[float, float]]) -> float:
    """Total span duration minus the part of each span that ``children``
    cover (children may overlap one another; each covered instant counts
    once)."""
    total = 0.0
    for s0, s1 in spans:
        covered = _union_length([(max(s0, c0), min(s1, c1)) for c0, c1 in children if c1 > s0 and c0 < s1])
        total += (s1 - s0) - covered
    return total


def _union_length(intervals: list[tuple[float, float]]) -> float:
    length = 0.0
    end = -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        length += b - max(a, end)
        end = b
    return length
