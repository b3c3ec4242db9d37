"""Statistics shared by the workloads: medians, the tail-percentile rule
and the stream latency map read back from a query checkpoint."""

from __future__ import annotations

import json
import math
import os
import statistics

TAIL_WANT = 0.90  # the tail percentile reported when the samples support it
TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def median(xs) -> float:
    return float(statistics.median(xs))


def mean(xs) -> float:
    return float(statistics.fmean(xs))


def tail_quantile(n: int) -> float | None:
    """Highest quantile ≤ TAIL_WANT that leaves at least TAIL_BEYOND of
    ``n`` samples strictly above its nearest-rank position; None if even
    the median does not."""
    for pct in range(round(TAIL_WANT * 100), 49, -1):
        if n - _rank(pct / 100, n) >= TAIL_BEYOND:
            return pct / 100
    return None


def _rank(q: float, n: int) -> int:
    """1-based nearest rank of quantile q among n samples."""
    return max(1, math.ceil(q * n - 1e-9))


def weighted_quantile(samples: list[tuple[float, int]], q: float) -> float:
    """Nearest-rank quantile (the value at rank ceil(q·n)) over (value,
    weight) samples — e.g. one latency per pass, weighted by the records
    the pass committed."""
    s = sorted(samples)
    rank = _rank(q, sum(w for _, w in s))
    seen = 0
    for v, w in s:
        seen += w
        if seen >= rank:
            return float(v)
    return float(s[-1][0])


def record_latency(samples: list[tuple[float, int]]) -> dict[str, float]:
    """p50 and the tail percentile (see tail_quantile) of per-record
    latency, from (latency, records) samples."""
    n = sum(w for _, w in samples)
    q = tail_quantile(n)
    if q is None:
        raise ValueError(f"{n} latency samples support no tail percentile")
    return {"p50": weighted_quantile(samples, 0.5), "tail": weighted_quantile(samples, q),
            "tail_q": q, "n": n}


def read_source_log(checkpoint: str) -> dict[str, int]:
    """file path → batchId from ``sources/0`` of a file-stream checkpoint
    (plain ``<batchId>`` files and ``<batchId>.compact`` files alike)."""
    out: dict[str, int] = {}
    d = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(d, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version ("v1")
            if line.strip():
                e = json.loads(line)
                out[e["path"]] = int(e["batchId"])
    return out


def read_commit_times(checkpoint: str) -> dict[int, float]:
    """batchId → commit time (mtime of ``commits/<batchId>``)."""
    d = os.path.join(checkpoint, "commits")
    out: dict[int, float] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime
    return out


def file_latencies(
    started: dict[str, float], checkpoint: str
) -> dict[str, tuple[int, float]]:
    """For every file whose batch committed: (batchId, commit time − start
    time). ``started`` maps file name → the time its latency starts (same
    wall clock as file mtimes)."""
    batch_of = {os.path.basename(p): b for p, b in read_source_log(checkpoint).items()}
    commits = read_commit_times(checkpoint)
    out = {}
    for name, t0 in started.items():
        b = batch_of.get(name)
        if b is not None and b in commits:
            out[name] = (b, commits[b] - t0)
    return out
