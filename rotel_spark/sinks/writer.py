"""Fan-out sink writer — one write job for all sinks.

Reference semantics (/root/reference/src/topology/fanout.rs:17-20,
144-153): every batch goes to all configured exporters of its type,
cloned for all-but-the-last consumer. Spark mapping: tag each row with
every sink it belongs to (a row in k sinks becomes k rows — the clone),
write the tagged frame ONCE partitioned by sink into a hidden stage
directory, then move each sink's partition directory into the sink's
path. Parse cost and the job's fixed cost (scheduling, writer start-up,
commit) are paid once, not once per sink (SURVEY.md §4 custom work #3).

Batch sizing: the reference flushes at max_size=8192 records
(src/topology/batch.rs:15-23); batch boundaries in Spark are output
files, so ``maxRecordsPerFile=8192`` reproduces the invariant "no
output unit exceeds max size". Count parity is on record totals per
sink, matching the leaf-count rule (batch_resources.rs:126-130).

Per-sink counters use ``df.observe`` — metrics ride the write job
itself instead of a second pass over the data.

Delivery: a keyed write (``fan_out(batch=...)``) replaces
``<sink>/batch=<key>`` whole, so a re-driven batch is written once; an
unkeyed ``append`` adds its rows again. The moves need a file system
with atomic rename (local, HDFS), not an object store.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation


def write_routed(
    df: DataFrame,
    path: str,
    route_col: str = "route",
    routes: list[str] | None = None,
    max_records_per_file: int = 8192,
) -> dict[str, int]:
    """Single-pass routed fan-out: ONE write partitioned by route,
    per-sink dirs = partition subdirectories, per-sink counts ride the
    same job via observe. One scan of the parse output however many
    routes — at 100 TB the difference between scanning it once and N
    times (SURVEY.md §2.5 option (b)); fan_out is built on it.

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
    batch: str | None = None,
) -> dict[str, int]:
    """Write df to every sink in one Spark job; returns
    {sink_name: rows_written}.

    sink spec: {"name": str, "path": str, "predicate": str | None,
                "mode": "overwrite" | "append"}
    predicate=None → broadcast-to-all (rotel fanout); a predicate makes
    it a routed sink (north rule). Sinks are parquet.

    Each row is tagged with the positions of the sinks it belongs to and
    exploded, so a row in k sinks is written k times — exactly what k
    separate writes produce. ``write_routed`` writes the tagged frame
    partitioned by that tag into a hidden ``_fanout_<uuid>`` stage next
    to the first sink's path (per-sink counts ride the job via observe),
    then each ``_sink=<i>`` directory's files are renamed into sink i's
    target. A sink that receives no rows still gets one schema-only
    file, so it reads back as an empty table.

    The target is the sink's path, where ``overwrite`` clears it first
    and ``append`` adds to it — or, with a ``batch`` key, the partition
    directory ``<path>/batch=<batch>``, which is replaced whole whatever
    the mode. Deleting it first rolls back what an earlier attempt of
    the same batch left there, so re-driving a batch writes its rows
    once (the batch commit of ``run_job`` and ``run_stream``).

    The listing, renames and deletes go through the Hadoop file system
    of the paths, so they act where Spark wrote; every sink must be on
    the stage's file system, or ``ValueError`` is raised before anything
    is written. The stage is removed whatever happens.
    """
    if not sinks:
        return {}
    spark = df.sparkSession
    hadoop = spark._jvm.org.apache.hadoop  # noqa: SLF001
    conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001

    def qualified(path: str):
        p = hadoop.fs.Path(path)
        return p.getFileSystem(conf).makeQualified(p)

    paths = [qualified(s["path"]) for s in sinks]
    fs = paths[0].getFileSystem(conf)
    for spec, p in zip(sinks, paths):
        if not p.getFileSystem(conf).getUri().equals(fs.getUri()):
            raise ValueError(
                f"sink {spec['name']!r}: {spec['path']} is not on the file "
                f"system of {sinks[0]['path']}; fan_out renames across one"
            )
    stage = hadoop.fs.Path(paths[0].getParent(), f"_fanout_{uuid.uuid4().hex}")
    tags = [
        F.when(F.expr(s["predicate"]), F.lit(str(i)))
        if s.get("predicate")
        else F.lit(str(i))
        for i, s in enumerate(sinks)
    ]
    tagged = df.withColumn("_sink", F.explode(F.array_compact(F.array(*tags))))
    try:
        got = write_routed(
            tagged,
            stage.toString(),
            route_col="_sink",
            routes=[str(i) for i in range(len(sinks))],
            max_records_per_file=max_records_per_file,
        )
        counts = {}
        empty = hadoop.fs.Path(stage, "_empty")
        for i, (spec, path) in enumerate(zip(sinks, paths)):
            counts[spec["name"]] = n = got[str(i)]
            if n:
                src = hadoop.fs.Path(stage, f"_sink={i}")
            else:
                # one schema-only file, copied into every empty sink
                src = empty
                if not fs.exists(empty):
                    df.limit(0).write.parquet(empty.toString())
            if batch is not None:
                path = hadoop.fs.Path(path, f"batch={batch}")
                fs.delete(path, True)
            elif spec.get("mode", "overwrite") == "overwrite":
                fs.delete(path, True)
            fs.mkdirs(path)
            # data files; not _SUCCESS. A checksummed (local) file system
            # lists no .crc files and renames each with its data file.
            for st in fs.listStatus(src):
                f = st.getPath()
                if f.getName().startswith(("_", ".")):
                    continue
                dst = hadoop.fs.Path(path, f.getName())
                if n:
                    ok = fs.rename(f, dst)
                else:
                    ok = hadoop.fs.FileUtil.copy(fs, f, fs, dst, False, conf)
                if not ok:
                    raise OSError(f"fan_out: could not place {f} in {path}")
            # the completion marker a Spark write leaves in its path
            fs.create(hadoop.fs.Path(path, "_SUCCESS"), True).close()
    finally:
        fs.delete(stage, True)
    return counts
