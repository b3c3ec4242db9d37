"""Lineage job — config-driven ``run_job`` with a processor chain, 3
predicate-routed sinks + 1 broadcast sink + quarantine, lineage and
transactional batches. A cycle commits the first half of the pages table
as batch b0, then re-drives over the whole table: ``resume_filter`` skips
b0's committed ranges and b1 commits the rest.

Measured in stream_openloop's traced run (it has no end-to-end workload
of its own: with one, the runs did not fit the benchmark's time budget).
"""

from __future__ import annotations

import os
import shutil

import spans
import stats
from bulk import build_pages
from metrics import ROUTES, SINKS
from oracle import sink_expected

ROWS = 24_000
MEASURES = {
    "operators.chain_self_s", "lineage.records_per_s", "lineage.resume_s",
    "lineage.plan_build_s", "lineage.fan_out_s", *(f"lineage.rows_written.{s}" for s in SINKS),
    "lineage.commit_s", "lineage.read_s", "lineage.resume_filter_s",
    "lineage.rows_skipped", "lineage.ranges", "lineage.trace_overhead_s",
}


def attrs_from_fields(df):
    """User processor: the log-attribute map built from parsed fields."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "log_attributes",
        F.create_map(
            F.lit("log.source"), F.col("log_source"),
            F.lit("severity.text"), F.col("severity_text"),
            F.lit("url.full"), F.col("url"),
            F.lit("server.address"), F.col("domain"),
            F.lit("client.address"), F.regexp_extract("body", r"^(\d+\.\d+\.\d+\.\d+)", 1),
            F.lit("http.target"), F.regexp_extract("body", r" (/api/\S+)", 1),
            F.lit("user.name"), F.lit("bench"),
        ),
    )


def extract(df):
    """User processor: pull the log line out of the page, drop the page."""
    from rotel_spark.fixtures import extract_log_line

    return extract_log_line(df).drop("html", "text")


def processors(quarantine_path: str) -> list[dict]:
    return [
        {"kind": "python", "fn": extract},
        {"kind": "parse_auto"},
        {"kind": "python", "fn": attrs_from_fields},
        {"kind": "quarantine", "expr": "parse_ok", "path": quarantine_path},
        {"kind": "resource_attrs", "attrs": {"service.name": "web", "host.name": "edge-1"}},
        {"kind": "attributes", "actions": [
            {"action": "insert", "key": "tier", "value": "edge"},
            {"action": "extract", "key": "http.target",
             "pattern": r"^/api/(?P<api_version>v\d)/"},
            {"action": "hash", "key": "client.address"},
            {"action": "delete", "key": "severity.text"},
        ]},
        {"kind": "redaction", "blocked_key_patterns": [r"^user\."],
         "blocked_value_patterns": [r"^\d+\.\d+\.\d+\.\d+$"]},
        {"kind": "route"},
    ]


def job_config(source: str, out: str) -> dict:
    sinks = [
        {"name": r, "predicate": f"route = '{r}'", "path": os.path.join(out, r)}
        for r in ROUTES
    ] + [{"name": "all", "predicate": None, "path": os.path.join(out, "all")}]
    cfg = {
        "source": {"kind": "parquet", "path": source},
        "processors": processors(os.path.join(out, "_quarantine")),
        "sinks": sinks,
        "batch": {"max_records_per_file": 65536},
        "lineage_path": os.path.join(out, "_lineage"),
    }
    return cfg


def sink_dirs(out: str) -> dict[str, str]:
    return {s: os.path.join(out, s) for s in SINKS}


def read_back(spark, out: str) -> dict[str, dict[str, int]]:
    """Rows per sink per batch partition, read from the sink files."""
    got = {}
    for name, path in sink_dirs(out).items():
        rows = spark.read.parquet(path).groupBy("batch").count().collect()
        got[name] = {r["batch"]: r["count"] for r in rows}
    return got


def cycle(run, name: str, h0: str, h_all: str, exp: dict, single: dict) -> tuple[list, dict]:
    """b0 commits the first half, then b1 re-drives over the whole table,
    each through ``run_job`` under a ``run_job`` span; both are checked
    against the oracle. Returns the two spans and the rows written per
    sink over the cycle."""
    from rotel_spark.plans.pipeline import run_job

    spark, tracer = run.spark, run.tracer
    out = os.path.join(run.out, name)
    tops, counts = [], []
    for batch, source, half in (("b0", h0, "h0"), ("b1", h_all, "h1")):
        tracer.new_trace()
        with tracer.span("run_job") as top:
            c = run_job(spark, job_config(source, out), run_id=name, transactional_batch=batch)
        run.check(f"{name} {batch} sink counts", c, exp[half])
        tops.append(top)
        counts.append(c)
    rows = {k: counts[0].get(k, 0) + counts[1].get(k, 0) for k in single}
    run.check(f"{name} b0+b1 equals single-shot", rows, single)
    want = {s: {"b0": exp["h0"][s], "b1": exp["h1"][s]} for s in SINKS}
    run.check(f"{name} sink files read back", read_back(spark, out), want)
    return tops, rows


def traced_layers(run) -> None:
    """The lineage job's layers: a single-shot ``run_job`` (warm-up and
    the reference), then b0/b1 cycles — untraced, with spans around the
    public calls ``run_job`` makes, untraced again — and noop prefix cuts
    for the resume filter and the operator chain."""
    import pyspark.sql.classic.dataframe as classic
    from pyspark.sql import functions as F

    import rotel_spark.lineage as lineage
    import rotel_spark.sinks.writer as writer
    from rotel_spark.plans.pipeline import Pipeline, run_job

    pages_dir, meta = run.inputs("pages", ROWS, build_pages(run.args.seed, ROWS))
    exp = {k: sink_expected(v) for k, v in meta["expected"].items()}
    h0, h_all = os.path.join(pages_dir, "h0"), os.path.join(pages_dir, "h*")
    spark, tracer = run.spark, run.tracer

    single_out = os.path.join(run.out, "single")
    single = run_job(spark, job_config(h_all, single_out), run_id="single",
                     transactional_batch="single")
    run.check("single-shot run sink counts", single, exp["all"])
    shutil.rmtree(single_out)

    def untraced(name: str) -> list:
        tops = cycle(run, name, h0, h_all, exp, single)[0]
        shutil.rmtree(os.path.join(run.out, name))
        return tops

    plain = [untraced("plain_before")]
    # DataFrame actions get spans too: those run_job makes itself (not
    # inside fan_out or write_lineage) are its lineage-table reads
    with spans.patched(tracer, [
        (lineage, "committed_ranges", "lineage.read"),
        (lineage, "resume_filter", "lineage.resume_filter"),
        (lineage, "write_lineage", "lineage.commit"),
        (writer, "fan_out", "sinks.fan_out"),
        (Pipeline, "run", "plans.build"),
        (classic.DataFrame, "collect", "action"),
        (classic.DataFrame, "count", "action"),
    ]):
        traced, rows = cycle(run, "traced", h0, h_all, exp, single)
    plain.append(untraced("plain_after"))
    top_ids = {t.id for t in traced}
    mine = [s for s in tracer.spans if s.trace in {t.trace for t in traced}]

    def total(name: str) -> float:
        return sum(s.dur for s in mine if s.name == name)

    own_reads = sum(s.dur for s in mine if s.name == "action" and s.parent in top_ids)
    run.put("lineage.read_s", total("lineage.read") + own_reads)
    run.put("lineage.plan_build_s", total("plans.build"))
    run.put("lineage.fan_out_s", total("sinks.fan_out"))
    run.put("lineage.commit_s", total("lineage.commit"))
    for k, v in rows.items():
        run.put(f"lineage.rows_written.{k}", v)
    # untraced cycles bracket the traced one, so warm-up drift cancels
    plain_s = stats.mean([sum(t.dur for t in c) for c in plain])
    run.put("lineage.records_per_s", exp["all"]["all"] / plain_s)
    run.put("lineage.resume_s", stats.mean([c[1].dur for c in plain]))
    run.put("lineage.trace_overhead_s", sum(t.dur for t in traced) - plain_s)
    lineage_path = os.path.join(run.out, "traced", "_lineage")
    b0_ranges = spark.read.parquet(lineage_path).filter(F.col("stage") == "export:b0")
    run.put("lineage.ranges", b0_ranges.count())
    resume_cuts(run, h_all, lineage_path, total("lineage.resume_filter"))
    chain_cuts(run, h_all)


def resume_cuts(run, source: str, lineage_path: str, plan_s: float) -> None:
    """The resume filter's cost — ``plan_s``, its planning in the traced
    cycle, plus the anti-join's execution — and rows skipped: noop cuts
    of the source with and without resume_filter over b0's committed
    ranges."""
    from pyspark.sql import functions as F

    from rotel_spark.lineage import committed_ranges, resume_filter

    from corpus import counted

    spark, tracer = run.spark, run.tracer
    cp = committed_ranges(spark, lineage_path, "traced").filter(F.col("stage") == "export:b0")
    tracer.new_trace()
    with tracer.span("cut:scan") as scan:
        rows = counted(spark.read.parquet(source), "resume_scan")
    with tracer.span("cut:resume") as resumed:
        kept = counted(resume_filter(spark.read.parquet(source), cp), "resume_kept")
    cuts = spans.prefix_self_times([("scan", scan.dur), ("resume", resumed.dur)])
    run.put("lineage.resume_filter_s", plan_s + cuts["resume"])
    run.put("lineage.rows_skipped", rows - kept)


def chain_cuts(run, source: str) -> None:
    """Noop prefix cuts: source → extract → parse_auto, then through the
    whole operator chain; the difference is the chain's self time."""
    from rotel_spark.plans.pipeline import build_pipeline

    spark, tracer = run.spark, run.tracer
    procs = processors(os.path.join(run.out, "cuts_q"))
    cuts = []
    for name, upto in (("parse", 2), ("operators.chain_self_s", len(procs))):
        tracer.new_trace()
        df = build_pipeline({"processors": procs[:upto]}).run(spark.read.parquet(source))
        cuts.append((name, spans.noop_cut(tracer, name, df, df)))
    run.put("operators.chain_self_s", spans.prefix_self_times(cuts)["operators.chain_self_s"])
