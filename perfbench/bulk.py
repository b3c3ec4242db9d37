"""bulk_routed — a large materialized pages table through extract →
parse_auto → drop_unparsed → with_route → broadcast TLD enrich →
write_routed (3 route partitions). Per-row parser and writer cost
dominates; no operators, lineage or streaming."""

from __future__ import annotations

import os
import time

import corpus
import gen
import oracle
import stats
from metrics import END_TO_END, ROUTES

ROWS = 100_000
# eleven passes: the per-record p90 is then the second-slowest pass, not
# the slowest
MIN_PASSES = 11
WARMUP_SLICE_PASSES = 2
TRACED_FULL_PASSES = 3  # the traced pass is the median of these
MEASURES = set(END_TO_END) | corpus.MEASURES | {
    "sources.scan_s", "sources.rows", "sources.html_bytes", "sources.tasks",
    "extract.self_s", "parsers.self_s", "parsers.plan_build_s", "parsers.rows_in",
    "parsers.rows_ok", "parsers.ok_ratio", "plans.route_enrich_self_s",
    "plans.write_task_skew", "sinks.write_routed_s", "sinks.files_written",
    "sinks.bytes_written", "trace.overhead_s",
}
COLUMNS = ("page_id", "url", "domain", "html")
SINK_COLUMNS = (
    "page_id", "url", "domain", "body", "log_source", "status", "severity_number",
    "severity_text", "time_unix_nano", "route", "domain_partition", "tld_type", "region",
    "html_bytes",
)


def build_pages(seed: int, rows: int):
    def build(path: str) -> dict:
        gen.make_pages(path, seed, rows)
        return {"expected": oracle.pages_expected(path)}

    return build


def stages(spark, tracer):
    """The pipeline as cumulative stages: each function extends the
    previous frame by one layer (scan → extract → parse+route → enrich)."""
    from pyspark.sql import functions as F

    from rotel_spark.fixtures import extract_log_line, tld_registry_sql
    from rotel_spark.functions.urls import tld_of
    from rotel_spark.operators.filters import drop_unparsed
    from rotel_spark.parsers.auto import parse_auto
    from rotel_spark.plans.routing import with_route

    tld_lookup = F.broadcast(
        spark.sql(tld_registry_sql()).withColumnRenamed("tld", "reg_tld")
    )

    def parse(df):
        with tracer.span("parsers.plan_build"):
            parsed = parse_auto(df)
        return with_route(drop_unparsed(parsed))

    # keeps every column: a prefix cut must not prune work an earlier cut did
    def enrich(df):
        return (
            df.withColumn("xtld", tld_of(F.col("url")))
            .join(tld_lookup, F.col("xtld") == F.col("reg_tld"), "left")
            .withColumn("html_bytes", F.length("html"))
        )

    return [
        ("sources.scan_s", lambda df: df.select(*COLUMNS)),
        ("extract.self_s", extract_log_line),
        ("parsers.self_s", parse),
        ("plans.route_enrich_self_s", enrich),
    ]


def pipeline(pages, stage_fns):
    df = pages
    for _, fn in stage_fns:
        df = fn(df)
    return df


def write_pass(pages, stage_fns, path):
    from rotel_spark.sinks.writer import write_routed

    out = pipeline(pages, stage_fns).select(*SINK_COLUMNS)
    return write_routed(out, path, max_records_per_file=65536)


def main(run) -> None:
    seed, seconds = run.args.seed, run.args.seconds
    pages_dir, meta = run.inputs("pages", ROWS, build_pages(seed, ROWS))
    expected_all = meta["expected"]["all"]
    expected = {r: expected_all[r] for r in ROUTES}

    spark = run.start_spark()
    pages = spark.read.parquet(os.path.join(pages_dir, "h0"), os.path.join(pages_dir, "h1"))
    stage_fns = stages(spark, run.tracer)
    routed = os.path.join(run.out, "routed")

    # warm-up: codegen and JIT on a one-file slice, then one full pass
    warm = spark.read.parquet(os.path.join(pages_dir, "h0", "part-00000.parquet"))
    warm_expected = {r: meta["expected"]["warm"][r] for r in ROUTES}
    for i in range(WARMUP_SLICE_PASSES):
        run.check(f"slice warm-up pass {i}", write_pass(warm, stage_fns, routed), warm_expected)
    run.check("full warm-up pass", write_pass(pages, stage_fns, routed), expected)
    run.timed_start()
    walls: list[float] = []
    t_stop = time.perf_counter() + seconds
    windows = []
    while len(walls) < MIN_PASSES or time.perf_counter() < t_stop:
        run.tracer.new_trace()
        t0, w0 = time.perf_counter(), time.time()
        counts = write_pass(pages, stage_fns, routed)
        walls.append(time.perf_counter() - t0)
        windows.append((w0, time.time()))
        run.check(f"pass {len(walls)} sink counts", counts, expected)
    back = {
        r["route"]: r["count"]
        for r in spark.read.parquet(routed).groupBy("route").count().collect()
    }
    run.check("routed sink files read back", back, expected)

    print("bulk pass walls", [round(w, 3) for w in walls])
    n = sum(expected.values())
    lat = stats.record_latency([(w, n) for w in walls])
    print(f"bulk latency samples={lat['n']} tail_quantile={lat['tail_q']}")
    run.put("records_per_s", n / stats.median(walls))
    run.put("latency_p50_s", lat["p50"])
    run.put("latency_p90_s", lat["tail"])
    # no lineage: resuming this job means re-driving the whole pass
    run.put("resume_s", stats.median(walls))
    run.save_reference({"pass_s": stats.median(walls)})
    if run.args.trace:
        run.eventlog_windows["spark"] = (windows[0][0], windows[-1][1])
        traced_layers(run, pages, stage_fns, routed, expected)
        # the dedup operators have no end-to-end workload of their own
        # (time budget); their layer is measured here
        corpus.traced_layers(run)


def traced_layers(run, pages, stage_fns, routed, expected) -> None:
    """Prefix cuts through a noop sink, then traced full passes."""
    from pyspark.sql import functions as F
    from pyspark.sql.observation import Observation

    import spans

    spark = run.spark
    tracer = run.tracer
    cuts = []
    for i, (name, _) in enumerate(stage_fns):
        tracer.new_trace()
        df = pipeline(pages, stage_fns[: i + 1])
        observed = df
        if i == 0:
            obs = Observation("scan")
            observed = df.observe(obs, F.count(F.lit(1)).alias("rows"),
                                  F.sum(F.length("html")).alias("html_bytes"))
        elif i == 2:
            obs = Observation("parse")
            observed = df.observe(obs, F.count(F.lit(1)).alias("rows_ok"))
        cuts.append((name, spans.noop_cut(tracer, name, observed, df)))
        if i == 0:
            run.put("sources.rows", obs.get["rows"])
            run.put("sources.html_bytes", obs.get["html_bytes"])
        elif i == 2:
            run.put("parsers.rows_ok", obs.get["rows_ok"])
    full = []
    for i in range(TRACED_FULL_PASSES):
        tracer.new_trace()
        with tracer.span("cut:sinks.write_routed_s") as span:
            counts = write_pass(pages, stage_fns, routed)
        run.check(f"traced pass {i} sink counts", counts, expected)
        full.append(span.dur)
    traced = stats.median(full)
    cuts.append(("sinks.write_routed_s", traced))
    layers = spans.prefix_self_times(cuts)
    for name, value in layers.items():
        run.put(name, value)
    rows = run.metrics["sources.rows"]
    run.put("parsers.rows_in", rows)
    run.put("parsers.ok_ratio", run.metrics["parsers.rows_ok"] / rows)
    run.put("sources.tasks", pages.select(*COLUMNS).rdd.getNumPartitions())
    plan = [sp.dur for sp in tracer.spans if sp.name == "parsers.plan_build"]
    run.put("parsers.plan_build_s", stats.median(plan))
    untraced = run.trace_overhead(traced, "pass_s")
    if untraced is not None:
        # the cuts telescope: their self times sum to the last cut, the
        # traced pass, unless a cut measured faster than the one before
        total = sum(layers.values())
        print(f"trace accounting: untraced pass {untraced:.3f} s; layer self times "
              f"{total:.3f} s = " + " + ".join(f"{v:.3f} {k}" for k, v in layers.items())
              + f"; untraced - layers = {untraced - total:+.3f} s against a tracing "
              f"overhead of {traced - untraced:+.3f} s")
    sink_files(run, routed)


def sink_files(run, routed: str) -> None:
    """Files/bytes written and rows per write task (from part numbers)."""
    from pyspark.sql import functions as F

    files = [os.path.join(d, f) for d, _, fs in os.walk(routed) for f in fs
             if f.endswith(".parquet")]
    run.put("sinks.files_written", len(files))
    run.put("sinks.bytes_written", sum(os.path.getsize(f) for f in files))
    per_task = (
        run.spark.read.parquet(routed)
        .select(F.regexp_extract(F.input_file_name(), r"part-(\d+)", 1).alias("task"))
        .groupBy("task").count().collect()
    )
    rows = sorted(r["count"] for r in per_task)
    run.put("plans.write_task_skew", rows[-1] / stats.median(rows))
