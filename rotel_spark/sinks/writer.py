"""Fan-out sink writer — persist once, write per sink.

Reference semantics (/root/reference/src/topology/fanout.rs:17-20,
144-153): every batch goes to all configured exporters of its type,
cloned for all-but-the-last consumer. Spark mapping: persist the parsed
DataFrame once, then run one write action per sink — parse cost is paid
once, not once per sink (SURVEY.md §4 custom work #3).

Batch sizing: the reference flushes at max_size=8192 records
(src/topology/batch.rs:15-23); batch boundaries in Spark are output
files, so ``maxRecordsPerFile=8192`` reproduces the invariant "no
output unit exceeds max size". Count parity is on record totals per
sink, matching the leaf-count rule (batch_resources.rs:126-130).

Per-sink counters use ``df.observe`` — metrics ride the write job
itself instead of a second pass over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation
from pyspark.storagelevel import StorageLevel


def write_routed(
    df: DataFrame,
    path: str,
    route_col: str = "route",
    routes: list[str] | None = None,
    max_records_per_file: int = 8192,
    salt_partitions: int | None = None,
) -> dict[str, int]:
    """Single-pass routed fan-out: ONE write partitioned by route,
    per-sink dirs = partition subdirectories, per-sink counts ride the
    same job via observe. vs fan_out(): no persist, no N passes — at
    100 TB this is the difference between scanning the parse output
    once and N+1 times. (SURVEY.md §2.5 option (b).)

    salt_partitions: repartition on (route, salt) first so a hot route
    spreads across tasks instead of serializing into one writer
    (north-rule skew handling).

    File sizing (guide §6): each input task writes one file per route
    it sees, so task count × routes = file count. The bench scan
    arrives in ~8 waves of tasks (8×cores), which is right for compute
    tail-amortization but produces cores×8×routes tiny files — file
    open/commit overhead dominated the measured write (3.5 s for 768
    ~60 KB files vs 1.4 s for 192 files at 1M rows). Coalesce the
    write to defaultParallelism tasks (one wave of writers, 8× fewer
    files than the scan; interleaved A/B at BOTH 1M and 10M rows put
    1× ahead of 2× — 1.14 s vs 1.68 s and 5.82 s vs 6.14 s —
    commit/open overhead shrinks faster than the lost
    second wave costs). coalesce() only ever REDUCES partition count,
    so small inputs are untouched; at cluster scale total-cores write
    tasks is the same sizing rule (files ≈ bytes/(cores·routes),
    further split by maxRecordsPerFile), not a local[32] constant.
    """
    from ..plans.routing import salted_repartition

    if salt_partitions:
        df = salted_repartition(df, route_col, n_salt=salt_partitions)
    else:
        df = df.coalesce(df.sparkSession.sparkContext.defaultParallelism)
    routes = routes or ["errors", "ops", "archive"]
    obs = Observation("routed_write")
    metrics = [
        F.sum(F.when(F.col(route_col) == r, 1).otherwise(0)).alias(r)
        for r in routes
    ] + [
        # rows outside the declared routes still land in their own
        # partition dir; count them so Σcounts == rows written (no
        # silent leakage in the parity check)
        F.sum(
            F.when(~F.col(route_col).isin(routes), 1).otherwise(0)
        ).alias("_other")
    ]
    out = df.observe(obs, *metrics)
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        # log-record rows are dominated by ~unique strings (body, url):
        # the parquet dictionary build is pure CPU that almost always
        # falls back for them, and zstd already captures what little
        # repetition the narrow columns carry. Measured on the 9.5M-row
        # routed write: ~15.6s -> ~13.9s for +8% bytes (395 -> 426 MB).
        .option("parquet.enable.dictionary", "false")
        .partitionBy(route_col)
        .parquet(path)
    )
    got = obs.get
    counts = {r: got[r] or 0 for r in routes}
    if got["_other"]:
        counts["_other"] = got["_other"]
    return counts


def fan_out(
    df: DataFrame,
    sinks: list[dict],
    max_records_per_file: int = 8192,
) -> dict[str, int]:
    """Write df to every sink; returns {sink_name: rows_written}.

    sink spec: {"name": str, "path": str, "predicate": str | None,
                "format": "parquet" | "json" | "noop",
                "mode": "overwrite" | "append" | ...,
                "partition_by": [col, ...] | None}
    predicate=None → broadcast-to-all (rotel fanout); a predicate makes
    it a routed sink (north rule).

    With more than one sink, df is persisted for the writes and
    unpersisted after them — unless the caller already cached it, in
    which case the caller's cache is used and left in place.
    """
    persist = len(sinks) > 1 and df.storageLevel == StorageLevel.NONE
    if persist:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    counts: dict[str, int] = {}
    try:
        for spec in sinks:
            sink_df = df
            if spec.get("predicate"):
                sink_df = sink_df.filter(spec["predicate"])
            obs = Observation(f"sink:{spec['name']}")
            sink_df = sink_df.observe(obs, F.count(F.lit(1)).alias("rows"))
            fmt = spec.get("format", "parquet")
            w = sink_df.write.mode(spec.get("mode", "overwrite")).option(
                "maxRecordsPerFile", max_records_per_file
            )
            if spec.get("partition_by"):
                w = w.partitionBy(*spec["partition_by"])
            if fmt == "noop":
                w.format("noop").save()
            elif fmt == "json":
                w.json(spec["path"])
            else:
                w.parquet(spec["path"])
            counts[spec["name"]] = obs.get["rows"]
    finally:
        if persist:
            df.unpersist()
    return counts
