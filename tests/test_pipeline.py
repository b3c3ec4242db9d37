"""E2E pipeline tests: config → stages → fan-out sinks → lineage →
resume. Mirrors the reference's pipeline-level tests
(generic_pipeline.rs:457-666) and fanout ack semantics."""

from __future__ import annotations

import pathlib
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from rotel_spark.fixtures import extract_log_line, load_pages_full
from rotel_spark.lineage import committed_ranges, resume_filter, write_lineage
from rotel_spark.plans.pipeline import build_pipeline, run_job, sink_plan
from rotel_spark.sinks.writer import fan_out


def _config(tmp: pathlib.Path, sf_dir: str) -> dict:
    return {
        "source": {"kind": "pages_synthetic", "sf_dir": sf_dir, "reps": 4},
        "processors": [
            {"kind": "parse_auto"},
            {"kind": "filter", "expr": "parse_ok"},
            {"kind": "resource_attrs", "attrs": {"service.name": "web"}},
            {"kind": "route"},
        ],
        "sinks": [
            {"name": "errors", "predicate": "route = 'errors'",
             "path": str(tmp / "errors")},
            {"name": "ops", "predicate": "route = 'ops'",
             "path": str(tmp / "ops")},
            {"name": "archive", "predicate": "route = 'archive'",
             "path": str(tmp / "archive")},
            {"name": "all", "predicate": None, "path": str(tmp / "all")},
        ],
        "lineage_path": str(tmp / "_lineage"),
        "batch": {"max_records_per_file": 100},
    }


def test_run_job_per_sink_count_parity(spark, sf_unit, tmp_path):
    """Per-sink routed counts must equal an independently computed
    oracle on the same rows (north rule parity check)."""
    cfg = _config(tmp_path, sf_unit)
    counts = run_job(spark, cfg, run_id="r1")

    # oracle: recompute routing from the ground-truth columns
    pages = extract_log_line(load_pages_full(spark, sf_unit, reps=4))
    pdf = pages.select("page_id", "fmt", "status", "prio").toPandas()
    ok = pdf[pdf.fmt != 9]

    def sev(row):
        if row.fmt in (0, 2):
            return 17 if row.status >= 500 else 13 if row.status >= 400 else 9
        if row.fmt == 1:
            return {0: 17, 1: 13, 2: 10, 3: 17, 4: 21}[row.page_id % 5]
        if row.fmt == 3:
            return {0: 21, 1: 21, 2: 21, 3: 17, 4: 13, 5: 10, 6: 9, 7: 5}[
                row.prio % 8
            ]
        return 0

    sevs = ok.apply(sev, axis=1)
    exp = {
        "errors": int((sevs >= 17).sum()),
        "ops": int(((sevs >= 13) & (sevs < 17)).sum()),
        "archive": int((sevs < 13).sum()),
        "all": len(ok),
    }
    assert counts == exp

    # what was written is what was counted
    for name in ("errors", "ops", "archive", "all"):
        n = spark.read.parquet(str(tmp_path / name)).count()
        assert n == counts[name], name


def test_batch_max_records_per_file(spark, sf_unit, tmp_path):
    """batch.rs max-size semantic: no output file exceeds the cap."""
    cfg = _config(tmp_path, sf_unit)
    run_job(spark, cfg, run_id="r1")
    import pyarrow.parquet as pq

    for f in (tmp_path / "all").glob("*.parquet"):
        assert pq.ParquetFile(f).metadata.num_rows <= 100


def test_routed_row_equality(spark, sf_unit, tmp_path):
    """Routed-row equality per sink: the union of routed sinks equals
    the parsed set, and each sink holds exactly its route's rows."""
    cfg = _config(tmp_path, sf_unit)
    run_job(spark, cfg, run_id="r1")
    allr = spark.read.parquet(str(tmp_path / "all"))
    for name in ("errors", "ops", "archive"):
        sink = spark.read.parquet(str(tmp_path / name))
        assert sink.filter(F.col("route") != name).count() == 0
        exp = allr.filter(F.col("route") == name)
        assert (
            sink.select("page_id").exceptAll(exp.select("page_id")).count()
            == 0
        )
        assert sink.count() == exp.count()


def test_lineage_written_and_resume_skips_committed(spark, sf_unit, tmp_path):
    """Checkpoint semantics (offset_tracker.rs:50-63): committed ranges
    are never re-processed on resume."""
    pages = load_pages_full(spark, sf_unit, reps=4)
    lineage = str(tmp_path / "_lineage")

    first = pages.filter(F.col("page_id") < 1000)
    write_lineage(first, lineage, run_id="rX", sink_counts={"all": 0})
    cp = committed_ranges(spark, lineage, "rX")
    assert cp.count() > 0
    assert cp.agg(F.sum("rows_in")).collect()[0][0] == first.count()

    remaining = resume_filter(pages, cp)
    assert remaining.count() == pages.count() - first.count()
    assert remaining.filter(F.col("page_id") < 1000).count() == 0

    # idempotent second leg: process remaining, commit, nothing left
    write_lineage(remaining, lineage, run_id="rX", sink_counts={"all": 0})
    cp2 = committed_ranges(spark, lineage, "rX")
    assert resume_filter(pages, cp2).count() == 0


@pytest.mark.parametrize("mode", ["append", None], ids=["append", "default"])
def test_run_job_resume_processes_nothing_twice(
    spark, sf_unit, tmp_path, mode
):
    """Idempotent resume (offset_tracker.rs:50-63): re-running the same
    run_id after a full commit processes zero rows and sinks keep their
    original contents — also in the default mode, which is append for a
    job with a lineage_path."""
    cfg = _config(tmp_path, sf_unit)
    if mode:
        for s in cfg["sinks"]:
            s["mode"] = mode
    first = run_job(spark, cfg, run_id="rr")
    assert sum(first.values()) > 0
    second = run_job(spark, cfg, run_id="rr")
    assert all(v == 0 for v in second.values())
    # sink contents unchanged (no duplicates appended)
    n = spark.read.parquet(str(tmp_path / "all")).count()
    assert n == first["all"]


def test_pipeline_stage_order_preserved(spark):
    """processors.rs:561-573: stages chain in declared order."""
    import pyspark.sql.functions as F

    cfg = {
        "processors": [
            {"kind": "python", "fn": lambda df: df.withColumn("x", F.lit(1))},
            {
                "kind": "python",
                "fn": lambda df: df.withColumn("x", F.col("x") + 1),
            },
        ]
    }
    df = spark.range(3)
    out = build_pipeline(cfg).run(df)
    assert [r.x for r in out.collect()] == [2, 2, 2]


def test_fanout_broadcast_to_all(spark, tmp_path):
    """fanout.rs:17-20: no predicate → every sink gets every row."""
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    counts = fan_out(
        df,
        [
            {"name": "a", "path": str(tmp_path / "a")},
            {"name": "b", "path": str(tmp_path / "b")},
        ],
    )
    assert counts == {"a": 100, "b": 100}
    assert spark.read.parquet(str(tmp_path / "a")).count() == 100
    assert spark.read.parquet(str(tmp_path / "b")).count() == 100


def test_fanout_keeps_caller_cache(spark, tmp_path):
    """fan_out leaves the caller's storage level as it found it: a
    caller's cache outlives the call, an uncached frame stays uncached."""
    sinks = [
        {"name": "a", "path": str(tmp_path / "a")},
        {"name": "b", "path": str(tmp_path / "b")},
    ]
    cached = spark.range(100).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        assert fan_out(cached, sinks) == {"a": 100, "b": 100}
        assert cached.storageLevel == StorageLevel.MEMORY_AND_DISK
    finally:
        cached.unpersist()

    plain = spark.range(50)
    assert fan_out(plain, sinks) == {"a": 50, "b": 50}
    assert plain.storageLevel == StorageLevel.NONE


def test_fanout_empty_sink_reads_back_empty(spark, tmp_path):
    """A sink whose predicate matches nothing counts 0 and still gets a
    schema-only file, so it reads back as an empty table."""
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    counts = fan_out(
        df,
        [
            {"name": "some", "predicate": "id < 10",
             "path": str(tmp_path / "some")},
            {"name": "none", "predicate": "id < 0",
             "path": str(tmp_path / "none")},
        ],
    )
    assert counts == {"some": 10, "none": 0}
    none = spark.read.parquet(str(tmp_path / "none"))
    assert none.count() == 0
    assert none.columns == ["id", "v"]
    assert spark.read.parquet(str(tmp_path / "some")).count() == 10


def test_fanout_overwrite_and_append(spark, tmp_path):
    """overwrite replaces what a sink held, append adds to it; no hidden
    stage directory is left next to the sinks."""
    def sinks(mode):
        return [{"name": n, "path": str(tmp_path / n), "mode": mode}
                for n in ("a", "b")]

    fan_out(spark.range(30), sinks("overwrite"))
    fan_out(spark.range(20), sinks("append"))
    assert spark.read.parquet(str(tmp_path / "a")).count() == 50
    fan_out(spark.range(5), sinks("overwrite"))
    assert spark.read.parquet(str(tmp_path / "b")).count() == 5
    assert sorted(p.name for p in tmp_path.iterdir()) == ["a", "b"]


@pytest.mark.parametrize(
    "sink, message",
    [
        ({"name": "s", "path": "/x", "format": "json"}, "unknown keys"),
        ({"name": "s", "path": "/x", "partition_by": ["d"]}, "unknown keys"),
        ({"name": "s"}, "needs a name and a path"),
        ({"name": "s", "path": "/x", "mode": "ignore"}, "unknown mode"),
    ],
    ids=["format", "partition_by", "no-path", "mode"],
)
def test_sink_plan_rejects_bad_specs(sink, message):
    """A sink key fan_out does not honour is refused, not written as
    parquet regardless."""
    with pytest.raises(ValueError, match=message):
        sink_plan({"sinks": [sink]})


def test_committed_ranges_empty_until_a_commit(spark, tmp_path):
    """A missing lineage table, an empty directory and one holding only a
    ``_temporary`` left by a failed or killed first write all mean
    "nothing committed", so the job can be resumed."""
    lineage = tmp_path / "_lineage"
    assert committed_ranges(spark, str(lineage), "r").count() == 0
    lineage.mkdir()
    assert committed_ranges(spark, str(lineage), "r").count() == 0
    (lineage / "_temporary" / "0").mkdir(parents=True)
    (lineage / "_temporary" / "0" / "part-00000.parquet").write_bytes(b"x")
    assert committed_ranges(spark, str(lineage), "r").count() == 0


def test_committed_ranges_raises_on_unreadable_table(spark, tmp_path):
    """An unreadable lineage table must fail the job, not re-drive every
    committed range as if it were new."""
    lineage = tmp_path / "_lineage"
    lineage.mkdir()
    (lineage / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        committed_ranges(spark, str(lineage), "r").count()


def test_fanout_to_uri_paths(spark, tmp_path):
    """Sink paths given as URIs are written, listed and renamed on the
    file system the URI names, not read as local relative paths."""
    uri = tmp_path.as_uri()
    df = spark.range(40)
    counts = fan_out(
        df,
        [
            {"name": "all", "path": f"{uri}/all"},
            {"name": "low", "predicate": "id < 5", "path": f"{uri}/low"},
        ],
    )
    assert counts == {"all": 40, "low": 5}
    assert spark.read.parquet(f"{uri}/low").count() == 5
    assert sorted(p.name for p in tmp_path.iterdir()) == ["all", "low"]
    assert not pathlib.Path("file:").exists()


def test_fanout_keyed_batch_replaces_its_own_directory(spark, tmp_path):
    """A keyed write lands in <path>/batch=<key> and replaces that
    directory whole, whatever the sink's mode: writing a batch again
    leaves its rows once; other batches are kept."""
    sinks = [
        {"name": n, "path": str(tmp_path / n), "mode": "append"}
        for n in ("a", "b")
    ]
    fan_out(spark.range(30), sinks, batch="0")
    fan_out(spark.range(20), sinks, batch="1")
    fan_out(spark.range(20), sinks, batch="1")
    for n in ("a", "b"):
        got = spark.read.parquet(str(tmp_path / n))
        assert {r["batch"]: r["count"] for r in
                got.groupBy("batch").count().collect()} == {0: 30, 1: 20}
    kept = [p.name for p in (tmp_path / "a").iterdir()
            if not p.name.startswith((".", "_"))]
    assert sorted(kept) == ["batch=0", "batch=1"]


def test_transactional_run_job_on_uri_paths(spark, sf_unit, tmp_path):
    """A transactional run_job whose sink, quarantine and lineage paths
    are file: URIs commits b0 and then b1 through the file system the
    URIs name, and b1's re-drive replaces an orphan batch=b1 left in a
    sink and in the quarantine sink by an earlier attempt: every sink
    holds each row once, as a single-shot run does."""
    pages = extract_log_line(load_pages_full(spark, sf_unit, reps=4))
    full, half = str(tmp_path / "full"), str(tmp_path / "half")
    pages.write.parquet(full)
    median = pages.approxQuantile("page_id", [0.5], 0.0)[0]
    spark.read.parquet(full).filter(F.col("page_id") <= median).write.parquet(
        half
    )

    def cfg(out: str, source: str) -> dict:
        return {
            "source": {"kind": "parquet", "path": source},
            "processors": [
                {"kind": "parse_auto"},
                {"kind": "quarantine", "expr": "parse_ok",
                 "path": f"{out}/_quarantine"},
                {"kind": "filter", "expr": "parse_ok"},
                {"kind": "route"},
            ],
            "sinks": [
                {"name": r, "predicate": f"route = '{r}'",
                 "path": f"{out}/{r}"}
                for r in ("errors", "ops", "archive")
            ],
            "lineage_path": f"{out}/_lineage",
        }

    single = cfg(str(tmp_path / "single"), full)
    single["lineage_path"] = None
    want = run_job(spark, single, run_id="single")

    base = tmp_path / "tx"
    uri = base.as_uri()
    b0 = run_job(spark, cfg(uri, half), run_id="r", transactional_batch="b0")
    for sink in ("errors", "_quarantine"):
        orphan = base / sink / "batch=b1"
        orphan.mkdir()
        for f in (base / sink / "batch=b0").glob("*.parquet"):
            (orphan / f.name).write_bytes(f.read_bytes())
    b1 = run_job(spark, cfg(uri, full), run_id="r", transactional_batch="b1")

    assert {k: b0[k] + b1[k] for k in want} == want
    for name, n in want.items():
        got = spark.read.parquet(f"{uri}/{name}")
        assert got.count() == got.select("page_id").distinct().count() == n
        assert {r["batch"]: r["count"] for r in
                got.groupBy("batch").count().collect()} == {
                    "b0": b0[name], "b1": b1[name]}
    assert not pathlib.Path("file:").exists()


def _jobs_started(spark, fn) -> int:
    """Number of Spark jobs fn() starts."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_fanout_is_one_spark_job(spark, tmp_path):
    """Three predicate sinks are written by one Spark job, not one job
    per sink plus a persist."""
    df = spark.range(300).withColumn("band", F.col("id") % 3)
    sinks = [
        {"name": f"b{b}", "predicate": f"band = {b}",
         "path": str(tmp_path / f"b{b}")}
        for b in range(3)
    ]
    counts = {}
    assert _jobs_started(spark, lambda: counts.update(fan_out(df, sinks))) == 1
    assert counts == {"b0": 100, "b1": 100, "b2": 100}

    counts.clear()
    keyed = lambda: counts.update(fan_out(df, sinks, batch="k"))  # noqa: E731
    assert _jobs_started(spark, keyed) == 1
    assert counts == {"b0": 100, "b1": 100, "b2": 100}
    assert spark.read.parquet(str(tmp_path / "b0" / "batch=k")).count() == 100


def test_many_explicit_paths_list_on_driver(spark, tmp_path):
    """Reading 100 explicit files (a full stream micro-batch) lists them
    on the driver instead of starting a listing job."""
    paths = []
    for i in range(100):
        f = tmp_path / f"f{i:03d}.txt"
        f.write_text(f"line {i}\n")
        paths.append(str(f))
    assert _jobs_started(spark, lambda: spark.read.text(paths)) == 0
