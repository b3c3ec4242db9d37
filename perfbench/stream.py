"""stream_openloop — ``run_stream`` with a processingTime trigger over a
directory that a separate generator process fills on a fixed schedule
(steady, then overload). The same parse and three severity-band sinks
run through ``fan_out`` per micro-batch; per-batch fixed cost dominates.

Latency: the time a file was due (generator schedule) → mtime of the
checkpoint's ``commits/<batchId>``, mapped file → batch through
``sources/0``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import gen
import lineage_job
import loadgen
import oracle
import spans
import stats
from metrics import END_TO_END, ROUTES

LOADGEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py")

LINES_PER_FILE = 40
MAX_FILES = 100  # maxFilesPerTrigger: a full batch is 4 000 lines
TRIGGER_MS = 200
# offered load in files/s. The steady phase lasts --seconds at about a
# quarter of the seed code's capacity (~45 files/s with 3 task slots on 4
# cores), so its latency is not a queueing blow-up when neighbours steal
# CPU; overload is a 0.5 s burst of ~3 full batches, far above any
# plausible capacity, so the drain after it runs on full batches.
STEADY_RATE = 11.0
OVERLOAD_RATE, OVERLOAD_SECONDS = 600.0, 0.5
TIMED_PHASES = ("steady", "overload")
WARMUP_FILES = 2 * MAX_FILES
RESTART_FILES = MAX_FILES
RESTARTS = 3  # resume_s is the median restart
POOL_FILES = 2000
MEASURES = set(END_TO_END) | lineage_job.MEASURES | {
    "parsers.plan_build_s", "plans.build_s", "sinks.fan_out_s",
    *(f"sinks.rows_written.{r}" for r in ROUTES),
    "streaming.add_batch_s", "streaming.query_planning_s", "streaming.wal_commit_s",
    "streaming.batches", "streaming.rows_per_batch", "streaming.backlog_files",
    "loadgen.lag_s", "trace.overhead_s",
}


def build_pool(seed: int):
    def build(path: str) -> dict:
        import duckdb
        import numpy as np
        import pyarrow.parquet as pq

        os.makedirs(path)
        pool = os.path.join(path, "pool.parquet")
        pq.write_table(gen.make_stream_lines(seed, POOL_FILES * LINES_PER_FILE), pool)
        con = duckdb.connect()
        bands = np.array(oracle.row_bands(con, f"SELECT * FROM read_parquet('{pool}')"))
        con.close()
        per_file = bands.reshape(POOL_FILES, LINES_PER_FILE)
        return {"per_file": {r: (per_file == r).sum(axis=1).tolist() for r in ROUTES}}

    return build


def tag_source(df):
    """User processor: the domain column routing expects, for lines that
    carry no page URL."""
    from pyspark.sql import functions as F

    return df.withColumn("domain", F.lit("stream.local"))


class Stream:
    """Directories, query lifecycle and publishing for one run."""

    def __init__(self, run, pool: str):
        base = os.path.join(run.out, "stream")
        self.run = run
        self.pool = pool
        self.watch = os.path.join(base, "in")
        self.staging = os.path.join(base, "staging")
        self.checkpoint = os.path.join(base, "checkpoint")
        self.sinks = {r: os.path.join(base, r) for r in ROUTES}
        self.manifest = os.path.join(base, "manifest.jsonl")
        self.go_file = os.path.join(base, "go")
        self.lines = loadgen.read_pool(pool)
        self.next_file = 0
        for d in (self.watch, self.staging):
            os.makedirs(d)

    def config(self) -> dict:
        return {
            "processors": [{"kind": "parse_auto"}, {"kind": "filter", "expr": "parse_ok"},
                           {"kind": "python", "fn": tag_source}, {"kind": "route"}],
            "sinks": [{"name": r, "predicate": f"route = '{r}'", "path": p}
                      for r, p in self.sinks.items()],
        }

    def start(self):
        from rotel_spark.streaming.stream import run_stream, stream_lines

        source = stream_lines(self.run.spark, self.watch, max_files_per_trigger=MAX_FILES)
        return run_stream(self.run.spark, source, self.config(), self.checkpoint,
                          trigger_ms=TRIGGER_MS)

    def start_generator(self, schedule: list[dict]) -> subprocess.Popen:
        """Launch the generator process; it publishes once ``go()`` is called."""
        plan = {
            "pool": self.pool, "watch": self.watch, "staging": self.staging,
            "manifest": self.manifest, "lines_per_file": LINES_PER_FILE,
            "first_file": self.next_file, "schedule": schedule, "go": self.go_file,
        }
        plan_path = os.path.join(os.path.dirname(self.watch), "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        self.next_file += len(schedule)
        return subprocess.Popen([sys.executable, LOADGEN, "--plan", plan_path])

    def go(self) -> float:
        with open(self.go_file, "w"):
            pass
        return time.time()

    def publish_now(self, n: int, phase: str) -> None:
        """A backlog of n files published at once from this process."""
        with open(self.manifest, "a") as manifest:
            for i in range(self.next_file, self.next_file + n):
                name, t = loadgen.publish(self.lines, i, LINES_PER_FILE, self.staging, self.watch)
                manifest.write(json.dumps({"name": name, "file": i, "t_sched": t,
                                           "t_pub": t, "phase": phase}) + "\n")
        self.next_file += n

    def published(self) -> list[dict]:
        with open(self.manifest) as f:
            return [json.loads(line) for line in f]


def main(run) -> None:
    seed = run.args.seed
    pool_dir, meta = run.inputs("stream", POOL_FILES, build_pool(seed))
    seconds = run.args.seconds
    schedule = gen.stream_schedule(seed, [
        {"name": "steady", "rate": STEADY_RATE, "seconds": seconds},
        {"name": "overload", "rate": OVERLOAD_RATE, "seconds": OVERLOAD_SECONDS},
    ])
    if WARMUP_FILES + len(schedule) + (RESTARTS + 1) * RESTART_FILES > POOL_FILES:
        raise ValueError(f"{len(schedule)} scheduled files overrun the {POOL_FILES}-file pool")
    run.start_spark()
    st = Stream(run, os.path.join(pool_dir, "pool.parquet"))

    # set-up: full batches through the query warm the JVM meanwhile the
    # generator process loads its pool
    generator = st.start_generator(schedule)
    st.publish_now(WARMUP_FILES, "warmup")
    q = st.start()
    q.processAllAvailable()
    warm_batches = len(q.recentProgress)

    start_at = st.go()
    run.t_first_pass = start_at
    if generator.wait(timeout=120) != 0:
        raise RuntimeError("load generator failed")
    t_gen_end = time.time()
    q.processAllAvailable()  # drain the overload backlog
    progress = [json.loads(p.json) for p in q.recentProgress[warm_batches:]]
    q.stop()

    # restarts on the same checkpoint, each with a backlog published while down
    restarts = []
    for _ in range(RESTARTS):
        st.publish_now(RESTART_FILES, "restart")
        t0 = time.perf_counter()
        q = st.start()
        q.processAllAvailable()
        restarts.append(time.perf_counter() - t0)
        q.stop()
    resume_s = stats.median(restarts)
    run.eventlog_windows["spark"] = (start_at, t_gen_end)

    files = st.published()
    # open loop: a file's latency runs from when it was due, so a stalled
    # generator counts against the system (loadgen.lag_s reports it)
    lat = stats.file_latencies({f["name"]: f["t_sched"] for f in files}, st.checkpoint)
    steady = [lat[f["name"]][1] for f in files if f["phase"] == "steady" and f["name"] in lat]
    tail = stats.record_latency([(x, 1) for x in steady])
    run.put("latency_p50_s", tail["p50"])
    run.put("latency_p90_s", tail["tail"])
    print(f"stream latency samples={tail['n']} tail_quantile={tail['tail_q']}")
    timed = {f["name"] for f in files if f["phase"] in TIMED_PHASES}
    run.put("records_per_s", sustained_rate(st.checkpoint, timed))
    run.put("resume_s", resume_s)
    run.save_reference({"resume_s": resume_s})

    if run.args.trace:
        traced_s = traced_restart(run, st)
        files = st.published()
    sink_rows = verify(run, st, files, meta["per_file"])
    if run.args.trace:
        run.trace_overhead(traced_s, "resume_s")
        stream_layers(run, st, files, progress, sink_rows)
        # the lineage job has no end-to-end workload of its own (time
        # budget); its layers are measured here
        lineage_job.traced_layers(run)


def sustained_rate(checkpoint: str, timed: set[str]) -> float:
    """Lines committed per second while saturated: a full batch (the
    backlog held at least maxFilesPerTrigger files) of the timed phases
    commits one batch of lines per interval since the previous commit;
    median over them. ``timed`` names the files of those phases."""
    per_batch: dict[int, int] = {}
    for path, b in stats.read_source_log(checkpoint).items():
        if os.path.basename(path) in timed:
            per_batch[b] = per_batch.get(b, 0) + 1
    commits = stats.read_commit_times(checkpoint)
    gaps = [commits[b] - commits[b - 1] for b, n in per_batch.items()
            if n == MAX_FILES and b in commits and b - 1 in commits]
    if len(gaps) < 2:
        raise RuntimeError(f"overload produced {len(gaps)} full batches")
    return MAX_FILES * LINES_PER_FILE / stats.median(gaps)


def verify(run, st: Stream, files: list[dict], per_file: dict) -> dict[str, int]:
    """Every published file committed; sink totals equal the oracle and
    a batch parse of the same files. Returns the sink totals."""
    from pyspark.sql import functions as F

    from rotel_spark.operators.filters import drop_unparsed
    from rotel_spark.parsers.auto import parse_auto
    from rotel_spark.plans.routing import with_route

    spark = run.spark
    batch_of = {os.path.basename(p): b for p, b in stats.read_source_log(st.checkpoint).items()}
    commits = stats.read_commit_times(st.checkpoint)
    for f in files:
        run.check(f"{f['name']} committed", batch_of.get(f["name"]) in commits, True)
    expected = {r: sum(per_file[r][f["file"]] for f in files) for r in ROUTES}
    got = {r: spark.read.parquet(p).count() for r, p in st.sinks.items()}
    run.check("stream sink totals vs oracle", got, expected)
    lines = spark.read.text(st.watch).withColumnRenamed("value", "raw_line")
    parsed = with_route(tag_source(drop_unparsed(parse_auto(lines))))
    batch = parsed.groupBy("route").agg(F.count("*").alias("n")).collect()
    run.check("stream sink totals vs batch parse", got, {r["route"]: r["n"] for r in batch})
    return got


def traced_restart(run, st: Stream) -> float:
    """A further restart with spans around the public calls each
    micro-batch makes (pipeline build, parse_auto, fan_out)."""
    import rotel_spark.parsers.auto as auto
    import rotel_spark.sinks.writer as writer
    from rotel_spark.plans.pipeline import Pipeline

    with spans.patched(run.tracer, [(auto, "parse_auto", "parsers.plan_build"),
                                    (writer, "fan_out", "sinks.fan_out"),
                                    (Pipeline, "run", "plans.build")]):
        st.publish_now(RESTART_FILES, "restart_traced")
        t0 = time.perf_counter()
        q = st.start()
        q.processAllAvailable()
        traced = time.perf_counter() - t0
        q.stop()
    return traced


def stream_layers(run, st: Stream, files, progress, sink_rows) -> None:
    """Per-batch spans of the traced restart, Spark's own progress
    counters of the timed phases, generator lag and peak backlog."""
    tracer = run.tracer
    for key, name in (("parsers.plan_build", "parsers.plan_build_s"),
                      ("plans.build", "plans.build_s"), ("sinks.fan_out", "sinks.fan_out_s")):
        durs = [s.dur for s in tracer.spans if s.name == key]
        run.put(name, stats.median(durs) if durs else 0.0)
    for r, n in sink_rows.items():
        run.put(f"sinks.rows_written.{r}", n)
    timed = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in timed]
    run.put("streaming.add_batch_s", stats.median([d.get("addBatch", 0) for d in dur]) / 1e3)
    run.put("streaming.query_planning_s",
            stats.median([d.get("queryPlanning", 0) for d in dur]) / 1e3)
    run.put("streaming.wal_commit_s", stats.median([d.get("walCommit", 0) for d in dur]) / 1e3)
    run.put("streaming.batches", len(timed))
    run.put("streaming.rows_per_batch", stats.median([p["numInputRows"] for p in timed]))
    timed_files = [f for f in files if f["phase"] in TIMED_PHASES]
    run.put("loadgen.lag_s", max(f["t_pub"] - f["t_sched"] for f in timed_files))
    # backlog at each commit: files published by then minus files committed
    batch_of = {os.path.basename(p): b for p, b in stats.read_source_log(st.checkpoint).items()}
    commits = stats.read_commit_times(st.checkpoint)
    backlog = 0
    for b, t in commits.items():
        published = sum(1 for f in timed_files if f["t_pub"] <= t)
        done = sum(1 for f in timed_files if batch_of.get(f["name"], 1 << 60) <= b)
        backlog = max(backlog, published - done)
    run.put("streaming.backlog_files", backlog)
