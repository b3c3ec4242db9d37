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
  * checkpointLocation makes the source offsets resumable, but sink
    writes are at-least-once: a micro-batch that crashes after its sink
    writes and before its commit-log entry is re-run on restart and
    appends its rows again. run_job's transactional batches
    (staging dir + atomic rename + lineage commit) are the exactly-once
    path.

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
    once, at query start; every micro-batch appends to it."""
    pipe = build_pipeline(config)
    sinks, max_records_per_file = sink_plan(config, accumulate=True)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        from ..sinks.writer import fan_out

        fan_out(pipe.run(batch_df), sinks, max_records_per_file)

    writer = source.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_ms} milliseconds")
    return writer.start()
