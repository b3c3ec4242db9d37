"""Structured Streaming micro-batch mode: the same stage functions run
per micro-batch via foreachBatch; counts match the batch run."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F


def _write_log_files(spark, sf_dir: str, tmp: pathlib.Path, n_files: int = 4):
    from rotel_spark.fixtures import load_pages

    pages = load_pages(spark, sf_dir, reps=2).select("page_id", "log_line")
    src = tmp / "src"
    pages.withColumn("bucket", F.col("page_id") % n_files).repartition(
        n_files, "bucket"
    ).select("log_line").write.mode("overwrite").text(str(src))
    return src, pages.count()


def test_stream_matches_batch(spark, sf_unit, tmp_path):
    from rotel_spark.streaming.stream import run_stream, stream_lines

    src, total = _write_log_files(spark, sf_unit, tmp_path)
    cfg = {
        "processors": [
            {"kind": "parse_auto"},
            {"kind": "filter", "expr": "parse_ok"},
        ],
        "sinks": [
            {"name": "out", "path": str(tmp_path / "out"), "mode": "append"},
        ],
    }
    source = stream_lines(spark, str(src) + "/*.txt", max_files_per_trigger=2)
    q = run_stream(
        spark, source, cfg, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "out"))
    # batch oracle on the same files
    from rotel_spark.parsers.auto import parse_auto

    batch = parse_auto(
        spark.read.text(str(src) + "/*.txt").withColumnRenamed(
            "value", "raw_line"
        )
    ).filter("parse_ok")
    assert out.count() == batch.count()
    assert out.count() > 0


def test_stream_resume_is_exactly_once(spark, sf_unit, tmp_path):
    """Re-running with the same checkpoint ingests nothing new
    (file-source offsets committed — the offset_tracker analog)."""
    from rotel_spark.streaming.stream import run_stream, stream_lines

    src, _ = _write_log_files(spark, sf_unit, tmp_path)
    cfg = {
        "processors": [{"kind": "parse_auto"}],
        "sinks": [
            {"name": "out", "path": str(tmp_path / "out2"), "mode": "append"},
        ],
    }
    for _ in range(2):
        source = stream_lines(spark, str(src) + "/*.txt")
        q = run_stream(
            spark, source, cfg, str(tmp_path / "ckpt2"), available_now=True
        )
        q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out2"))
    batch_n = spark.read.text(str(src) + "/*.txt").count()
    assert out.count() == batch_n  # not 2×


def test_stream_uses_run_job_sink_plan(spark, sf_unit, tmp_path):
    """The stream writes run_job's sink plan: quarantined lines go only
    to the dead-letter sink, batch.max_records_per_file caps every file
    even when a micro-batch holds more rows, and the caller's config is
    left as it was."""
    import copy

    import pyarrow.parquet as pq

    from rotel_spark.parsers.auto import parse_auto
    from rotel_spark.streaming.stream import run_stream, stream_lines

    src, _ = _write_log_files(spark, sf_unit, tmp_path)
    cap = 100
    cfg = {
        "processors": [
            {"kind": "parse_auto"},
            {"kind": "quarantine", "expr": "parse_ok",
             "path": str(tmp_path / "dead")},
            {"kind": "filter", "expr": "parse_ok"},
        ],
        "sinks": [{"name": "out", "path": str(tmp_path / "out")}],
        "batch": {"max_records_per_file": cap},
    }
    before = copy.deepcopy(cfg)
    source = stream_lines(spark, str(src) + "/*.txt", max_files_per_trigger=2)
    q = run_stream(
        spark, source, cfg, str(tmp_path / "ckpt3"), available_now=True
    )
    q.awaitTermination(120)
    assert cfg == before
    batch_rows = [p.numInputRows for p in q.recentProgress if p.numInputRows]
    assert min(batch_rows) > cap

    batch = parse_auto(
        spark.read.text(str(src) + "/*.txt").withColumnRenamed(
            "value", "raw_line"
        )
    )
    out = spark.read.parquet(str(tmp_path / "out"))
    dead = spark.read.parquet(str(tmp_path / "dead"))
    assert out.filter("NOT parse_ok").count() == 0
    assert dead.filter("parse_ok").count() == 0
    assert dead.count() == batch.filter("NOT parse_ok").count() > 0
    assert out.count() == batch.filter("parse_ok").count()
    for sink in ("out", "dead"):
        files = list((tmp_path / sink).glob("*/*.parquet"))
        assert files
        for f in files:
            assert pq.ParquetFile(f).metadata.num_rows <= cap


def _quarantine_config(tmp: pathlib.Path) -> dict:
    return {
        "processors": [
            {"kind": "parse_auto"},
            {"kind": "quarantine", "expr": "parse_ok",
             "path": str(tmp / "dead")},
            {"kind": "filter", "expr": "parse_ok"},
        ],
        "sinks": [{"name": "out", "path": str(tmp / "out")}],
    }


def test_stream_replayed_batch_is_written_once(
    spark, sf_unit, tmp_path, monkeypatch
):
    """A micro-batch that fails after its sink writes and before its
    commit-log entry is re-run on restart; it replaces its own output
    instead of appending it again, so every sink holds each line once."""
    import rotel_spark.sinks.writer as writer
    from rotel_spark.parsers.auto import parse_auto
    from rotel_spark.streaming.stream import run_stream, stream_lines

    src, _ = _write_log_files(spark, sf_unit, tmp_path)
    cfg = _quarantine_config(tmp_path)
    real, calls = writer.fan_out, []

    def fail_once_after_writing(*args, **kwargs):
        counts = real(*args, **kwargs)
        calls.append(counts)
        if len(calls) == 2:
            raise RuntimeError("injected crash before the commit log")
        return counts

    monkeypatch.setattr(writer, "fan_out", fail_once_after_writing)
    for attempt in range(2):
        source = stream_lines(
            spark, str(src) + "/*.txt", max_files_per_trigger=2
        )
        q = run_stream(
            spark, source, cfg, str(tmp_path / "ckpt"), available_now=True
        )
        if attempt == 0:
            with pytest.raises(Exception, match="injected crash"):
                q.awaitTermination(120)
        else:
            q.awaitTermination(120)
    assert len(calls) > 2  # the failed batch ran again

    batch = parse_auto(
        spark.read.text(str(src) + "/*.txt").withColumnRenamed(
            "value", "raw_line"
        )
    )
    for sink, expr in (("out", "parse_ok"), ("dead", "NOT parse_ok")):
        want = batch.filter(expr).select("raw_line")
        got = spark.read.parquet(str(tmp_path / sink)).select("raw_line")
        assert got.count() == want.count() > 0, sink
        assert got.exceptAll(want).count() == 0, sink


def test_stream_refuses_sinks_of_another_checkpoint(spark, tmp_path):
    """Batch ids restart at 0 with a fresh checkpoint, so a query on one
    refuses a sink that already holds batches instead of overwriting
    them."""
    from rotel_spark.streaming.stream import run_stream, stream_lines

    src = tmp_path / "src"
    src.mkdir()
    (tmp_path / "dead" / "batch=0").mkdir(parents=True)
    source = stream_lines(spark, str(src) + "/*.txt")
    with pytest.raises(ValueError, match="belongs to one checkpoint"):
        run_stream(
            spark, source, _quarantine_config(tmp_path),
            str(tmp_path / "ckpt"), available_now=True,
        )
    assert not (tmp_path / "ckpt").exists()
