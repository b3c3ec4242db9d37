"""Micro-batch streaming mode — the same stages, driven by a stream.

The reference is a continuous pipeline with 200 ms batch-timeout
flushes (/root/reference/src/topology/batch.rs:15-23) and bounded
channels for backpressure. Structured Streaming mapping (SURVEY.md
§2.4, §2.8):

  * trigger(processingTime=...) subsumes the batch timeout
  * maxFilesPerTrigger bounds admission (backpressure analog)
  * foreachBatch reuses the *identical* batch stage functions and the
    same sink plan as run_job — one code path for batch and streaming
    (the whole point of the design)
  * a micro-batch is one Spark job: the batch's files are listed on the
    driver (session.build_spark) and fan_out writes every sink in one
    job, so the per-batch fixed cost is one job's scheduling and commit
  * sink writes are exactly-once, keyed by batch_id (Spark's
    foreachBatch idempotence idiom): micro-batch N replaces
    ``<sink>/batch=N`` whole, run_job's keyed fan_out commit. A batch
    that crashes before its commit-log entry is re-run on restart with
    the same id and files, and replaces its own output. This needs a
    file system with atomic rename (local, HDFS; not an object store).
  * batch ids are unique only within one checkpoint, so a sink belongs
    to one checkpoint: a fresh checkpoint refuses sinks that already
    hold batches, which it would silently overwrite.

No event-time windowing: the reference has none (SURVEY.md §2.8 —
parsed-or-observed timestamp is the only late-data policy), so no
watermarks are required for parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.pipeline import build_pipeline, sink_plan


def stream_lines(
    spark: SparkSession, glob: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Streaming file source — the tail-a-glob receiver analog
    (max_concurrent_files=4, reference file/config.rs:108)."""
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(glob)
        .withColumnRenamed("value", "raw_line")
    )


def run_stream(
    spark: SparkSession,
    source: DataFrame,
    config: dict,
    checkpoint_dir: str,
    trigger_ms: int = 200,
    available_now: bool = False,
):
    """Drive the config-declared pipeline per micro-batch via
    foreachBatch; returns the StreamingQuery. The sink plan is built
    once, at query start; micro-batch N writes ``<sink>/batch=N``.

    Raises ``ValueError`` when the checkpoint has no offsets yet but a
    sink already holds a ``batch=`` directory: that output belongs to
    another checkpoint, whose batch ids this query would reuse."""
    pipe = build_pipeline(config)
    sinks, max_records_per_file = sink_plan(config)
    _refuse_foreign_batches(spark, checkpoint_dir, sinks)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        from ..sinks.writer import fan_out

        out = pipe.run(batch_df)
        fan_out(out, sinks, max_records_per_file, batch=str(batch_id))

    writer = source.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_ms} milliseconds")
    return writer.start()


def _refuse_foreign_batches(
    spark: SparkSession, checkpoint_dir: str, sinks: list[dict]
) -> None:
    hadoop = spark._jvm.org.apache.hadoop  # noqa: SLF001
    conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001

    def holds(path: str, pattern: str) -> bool:
        glob = hadoop.fs.Path(path, pattern)
        return bool(glob.getFileSystem(conf).globStatus(glob))

    if holds(checkpoint_dir, "offsets/[0-9]*"):
        return
    for s in sinks:
        if holds(s["path"], "batch=*"):
            raise ValueError(
                f"sink {s['name']!r}: {s['path']} already holds batches but "
                f"checkpoint {checkpoint_dir} has no offsets; a sink belongs "
                "to one checkpoint"
            )
