"""Checkpoint / lineage table — resumability without per-row acks.

The reference acks rows back to their source and commits the *minimum
pending offset* per file/partition (/root/reference/src/receivers/
file/offset_tracker.rs:50-63; kafka offset_tracker.rs:36-57), persisted
as JSON state every 1 s (offset_committer.rs:27-44). Spark has no
per-row ack channel, so lineage becomes data (SURVEY.md §1.4): after
each successful sink commit we MERGE per-partition ranges + counters
into a checkpoint table; resume anti-joins the source against
committed ranges so only unprocessed ranges re-run.

Range key: page_id (monotone row id). A range is committed only after
ALL sinks for the run committed — the same "ack fires when the last
ref resolves" rule as payload.rs:426-439.

Delivery semantics: a transactional batch (``run_job``'s
``transactional_batch``) never writes a sink row twice: its keyed
fan_out replaces ``<sink>/batch=<batch>`` whole, so a re-drive after a
crash before the lineage commit replaces what the crashed attempt
moved, and once committed the batch is not run again. That includes
the dead-letter sink: the quarantine stage tags rows instead of
dropping them, so they ride the same fan-out. The rows a resumed batch
skips are those inside the committed ranges. Rows a filter DROPS
before the fan-out may fall outside all committed ranges (e.g. a
garbage line at a partition boundary) and be re-observed — and dropped
again — on resume. The sinks and this table must be on a file system
with atomic rename (local, HDFS), not an object store.
"""

from __future__ import annotations

import json
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHECKPOINT_SCHEMA = (
    "run_id string, stage string, partition_id int, src_min long, "
    "src_max long, rows_in long, rows_parsed long, rows_dropped long, "
    "sink_counts string, committed_at timestamp"
)

KEY = "page_id"


def write_lineage(
    df: DataFrame,
    path: str,
    run_id: str,
    stage: str = "export",
    sink_counts: dict[str, int] | None = None,
) -> None:
    """Append committed ranges + counters for this run; rows_parsed
    counts ``parse_ok`` rows when the frame has that column."""
    agg = [
        F.min(KEY).alias("src_min"),
        F.max(KEY).alias("src_max"),
        F.count(F.lit(1)).alias("rows_in"),
    ]
    if "parse_ok" in df.columns:
        agg.append(F.sum(F.col("parse_ok").cast("long")).alias("rows_parsed"))
    else:
        agg.append(F.count(F.lit(1)).alias("rows_parsed"))
    ranges = (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(*agg)
        .withColumnRenamed("_pid", "partition_id")
        .withColumn("run_id", F.lit(run_id))
        .withColumn("stage", F.lit(stage))
        .withColumn("rows_dropped", F.col("rows_in") - F.col("rows_parsed"))
        .withColumn("sink_counts", F.lit(json.dumps(sink_counts or {})))
        .withColumn(
            "committed_at", F.timestamp_seconds(F.lit(int(time.time())))
        )
    )
    ranges.select(
        "run_id",
        "stage",
        "partition_id",
        "src_min",
        "src_max",
        "rows_in",
        "rows_parsed",
        "rows_dropped",
        "sink_counts",
        "committed_at",
    ).write.mode("append").parquet(path)


def committed_ranges(spark: SparkSession, path: str, run_id: str) -> DataFrame:
    """Ranges committed for run_id; none when nothing was ever committed:
    the table is missing, or its directory holds no data file (a first
    write that failed or was killed leaves the directory, maybe with a
    ``_temporary`` inside). Any other read error raises: treating an
    unreadable table as empty would re-drive every committed range and
    duplicate its rows."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    if not hpath.getFileSystem(conf).exists(hpath):
        # answered without a Spark read, which would log the missing
        # path's stack trace
        return spark.createDataFrame([], CHECKPOINT_SCHEMA)
    try:
        cp = spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        return spark.createDataFrame([], CHECKPOINT_SCHEMA)
    return cp.filter(F.col("run_id") == run_id)


def resume_filter(source: DataFrame, checkpoint: DataFrame) -> DataFrame:
    """Drop rows whose range key falls inside any committed range.

    Range anti-join via broadcast (checkpoint is tiny: one row per
    partition per run) — at 100 TB the source never shuffles for this.
    """
    ranges = F.broadcast(
        checkpoint.select("src_min", "src_max").distinct()
    )
    joined = source.join(
        ranges,
        (source[KEY] >= ranges["src_min"]) & (source[KEY] <= ranges["src_max"]),
        "left",
    )
    return joined.filter(F.col("src_min").isNull()).drop("src_min", "src_max")
