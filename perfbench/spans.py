"""Traced-run tooling: in-memory spans, self time, prefix-cut arithmetic
and Spark event-log counters.

Spans are kept in memory (name, start, end, parent, trace id — one
trace id per pass) and written out once at exit. Self time is a span's
duration minus the union of its children's intervals.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace: int = 0
    id: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _trace: int = 0

    def new_trace(self) -> int:
        self._trace += 1
        return self._trace

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                 trace=self._trace, id=len(self.spans))
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        return self_time(self.spans[sid], self.children(sid))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self": self.self_time(s.id)}) + "\n")


@contextlib.contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Run every call of each ``(owner, attribute, span name)`` target
    under a span while the block runs, then restore the originals. The
    program looks these functions up at call time (``run_job`` and the
    pipeline import them inside the function body), so the spans see
    the program's own calls."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]

    def wrapped(fn, name):
        def call(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)
        return call

    for (owner, attr, fn), (_, _, name) in zip(saved, targets):
        setattr(owner, attr, wrapped(fn, name))
    try:
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


def _union(intervals: list[tuple[float, float]]) -> float:
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


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part its children cover (clipped to the
    span, overlaps counted once)."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return span.dur - _union(clipped)


def prefix_self_times(cuts: list[tuple[str, float]]) -> dict[str, float]:
    """Cumulative prefix cuts → per-layer self time.

    ``cuts`` is an ordered list of (layer, wall of the pipeline cut right
    after that layer); each layer's self time is its cut minus the
    previous cut, floored at 0 (a later cut can measure faster than an
    earlier one by noise)."""
    out, prev = {}, 0.0
    for name, wall in cuts:
        out[name] = max(0.0, wall - prev)
        prev = max(prev, wall)
    return out


def noop_cut(tracer: Tracer, name: str, *dfs) -> float:
    """Run each DataFrame to Spark's noop sink under a span named ``cut:
    <name>``; the cut's wall is the fastest run (least disturbed). Pass
    the same plan more than once to repeat it."""
    walls = []
    for df in dfs:
        with tracer.span(f"cut:{name}") as s:
            df.write.format("noop").mode("overwrite").save()
        walls.append(s.dur)
    return min(walls)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (rolled, uncompressed) log file under log_dir."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not os.path.basename(path).startswith("appstatus"):
            with open(path) as f:
                for line in f:
                    if line.strip():
                        events.append(json.loads(line))
    return events


def event_log_metrics(events: list[dict], window: tuple[float, float], slots: int) -> dict:
    """Engine counters over tasks that finished inside ``window``
    (epoch seconds): shuffle/spill bytes, GC, failures, busy ratio and
    the task skew of the longest stage."""
    lo, hi = window
    tasks = []
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        info = e.get("Task Info", {})
        fin = info.get("Finish Time", 0) / 1000.0
        if not lo <= fin <= hi:
            continue
        tasks.append(e)
    shuffle_w = shuffle_r = spill = gc = run = 0.0
    failed = 0
    by_stage: dict[int, list[float]] = {}
    stage_span: dict[int, list[float]] = {}
    for e in tasks:
        m = e.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics", {})
        sr = m.get("Shuffle Read Metrics", {})
        shuffle_w += sw.get("Shuffle Bytes Written", 0)
        shuffle_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        gc += m.get("JVM GC Time", 0) / 1000.0
        info = e["Task Info"]
        dur = (info["Finish Time"] - info["Launch Time"]) / 1000.0
        run += dur
        if e.get("Task End Reason", {}).get("Reason") != "Success" or info.get("Failed"):
            failed += 1
        sid = e.get("Stage ID", -1)
        by_stage.setdefault(sid, []).append(dur)
        span = stage_span.setdefault(sid, [info["Launch Time"], info["Finish Time"]])
        span[0] = min(span[0], info["Launch Time"])
        span[1] = max(span[1], info["Finish Time"])
    skew = 0.0
    if stage_span:
        longest = max(stage_span, key=lambda s: stage_span[s][1] - stage_span[s][0])
        d = by_stage[longest]
        skew = max(d) / max(statistics.median(d), 1e-9)
    wall = max(hi - lo, 1e-9)
    return {
        "spark.shuffle_write_bytes": shuffle_w,
        "spark.shuffle_read_bytes": shuffle_r,
        "spark.spill_bytes": spill,
        "spark.gc_s": gc,
        "spark.failed_tasks": failed,
        "spark.busy_ratio": run / (wall * slots),
        "spark.task_skew": skew,
    }
