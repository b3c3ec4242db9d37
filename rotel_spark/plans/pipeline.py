"""Config-driven pipeline builder — the engine's `Agent::run` analog.

The reference fixes its topology at startup: receivers → processor
chain → batcher → fanout → exporters (/root/reference/src/init/
agent.rs:131-265). Here the topology is a declarative config dict and
every stage is a pure ``DataFrame -> DataFrame`` function, applied in
declared order (processor chaining semantics,
src/topology/processors.rs:561-573 — ordered, each sees the previous
output). Catalyst fuses the whole chain into one physical plan; there
is no per-stage materialization. The fan-out is one write job: each row
is exploded into one copy per sink it belongs to (fanout.rs
clone-per-consumer ≈ explode), not persisted and re-read per sink.

Example config::

    {
      "source": {"kind": "pages_synthetic", "sf_dir": ..., "reps": 20},
      "processors": [
        {"kind": "parse_auto"},
        {"kind": "filter", "expr": "parse_ok"},
        {"kind": "resource_attrs", "attrs": {"service.name": "web"}},
        {"kind": "attributes", "actions": [...]},
        {"kind": "sample", "numerator": 1, "denominator": 10},
      ],
      "sinks": [
        {"name": "errors", "predicate": "route = 'errors'", "path": ...},
        ...
      ],
      "batch": {"max_records_per_file": 8192},
    }
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

Stage = Callable[[DataFrame], DataFrame]


@dataclass
class Pipeline:
    """Ordered chain of named stages plus sink specs."""

    stages: list[tuple[str, Stage]] = field(default_factory=list)

    def add(self, name: str, fn: Stage) -> "Pipeline":
        self.stages.append((name, fn))
        return self

    def run(self, df: DataFrame) -> DataFrame:
        for _, fn in self.stages:
            df = fn(df)
        return df


def build_processor(spec: dict) -> Stage:
    """Translate one processor spec into a stage function."""
    kind = spec["kind"]
    if kind == "parse_auto":
        from ..parsers.auto import parse_auto

        return lambda df: parse_auto(df, spec.get("line_col", "raw_line"))
    if kind == "parse_nginx":
        from ..parsers.nginx import parse_combined

        return lambda df: parse_combined(df, spec.get("line_col", "raw_line"))
    if kind == "grok":
        from ..parsers.regex_parser import grok_flat

        return lambda df: grok_flat(
            df, spec["pattern"], spec.get("line_col", "raw_line")
        )
    if kind == "filter":
        # quarantined rows ride through later filters so they reach the
        # quarantine sink in the same single pass (dead-letter rows are
        # routed, not re-scanned)
        def _filter(df: DataFrame) -> DataFrame:
            if "_quarantine" in df.columns:
                return df.filter(f"({spec['expr']}) OR _quarantine")
            return df.filter(spec["expr"])

        return _filter
    if kind == "quarantine":
        # dead-letter policy (SURVEY.md §2.8 nack): rows failing `expr`
        # are TAGGED (not written inline — that would be a second scan
        # of the source) and land in a dedicated quarantine sink during
        # the same fan-out pass (run_job wires the sink). The
        # reference's options are panic or treat-as-ack
        # (file/config.rs:83-86) — a dead-letter table is the
        # documented batch equivalent.
        def _quarantine(df: DataFrame) -> DataFrame:
            prev = (
                F.col("_quarantine")
                if "_quarantine" in df.columns
                else F.lit(False)
            )
            return df.withColumn(
                "_quarantine", prev | ~F.expr(spec["expr"])
            )

        return _quarantine
    if kind == "sample":
        from ..operators.filters import mod_sample

        return lambda df: mod_sample(
            df, spec["key"], spec["numerator"], spec["denominator"]
        )
    if kind == "resource_attrs":
        from ..operators.resource import upsert_resource_attributes

        return lambda df: upsert_resource_attributes(df, spec["attrs"])
    if kind == "attributes":
        from ..operators.attributes import apply_actions

        return lambda df: apply_actions(
            df, spec["actions"], col=spec.get("col", "log_attributes")
        )
    if kind == "redaction":
        from ..operators.redaction import redact

        return lambda df: redact(
            df,
            col=spec.get("col", "log_attributes"),
            blocked_key_patterns=spec.get("blocked_key_patterns", []),
            blocked_value_patterns=spec.get("blocked_value_patterns", []),
        )
    if kind == "route":
        from .routing import with_route

        return lambda df: with_route(df, spec.get("buckets", 8))
    if kind == "python":  # escape hatch: user fn(df) -> df
        return spec["fn"]
    raise ValueError(f"unknown processor kind: {kind}")


def build_pipeline(config: dict) -> Pipeline:
    p = Pipeline()
    for i, spec in enumerate(config.get("processors", [])):
        p.add(f"{i}:{spec['kind']}", build_processor(spec))
    return p


SINK_KEYS = {"name", "path", "predicate", "mode"}


def sink_plan(config: dict) -> tuple[list[dict], int]:
    """The sinks a job or query writes and its per-file record cap —
    the one reader of ``config["sinks"]``, shared by ``run_job`` and
    ``run_stream``.

    * the configured sinks plus, when a ``quarantine`` processor is
      declared, its dead-letter sink ``_quarantine``; the configured
      sinks then exclude quarantined rows, so the dead-letter rows fan
      out in the same pass as the good ones;
    * ``max_records_per_file`` from ``config["batch"]`` (the
      reference's max batch size, batch.rs:15-23);
    * a default write mode: ``append`` when the config has a
      ``lineage_path`` (a resumable job adds to what earlier runs
      committed), ``overwrite`` otherwise. A mode set on a sink or on
      the quarantine processor wins. The mode applies to unkeyed
      writes only: a keyed batch (``fan_out(batch=...)``, every
      transactional batch and stream micro-batch) replaces its own
      ``batch=<key>`` directory.

    A sink spec holds ``name``, ``path``, an optional ``predicate`` and
    an optional ``mode`` (``append`` | ``overwrite``); anything else
    raises ``ValueError``, so a stale key is refused, not ignored.

    Returns new sink dicts; ``config`` is left untouched."""
    mode = "append" if config.get("lineage_path") else "overwrite"
    sinks = [{"mode": mode, **s} for s in config["sinks"]]
    q_specs = [
        s for s in config.get("processors", []) if s["kind"] == "quarantine"
    ]
    if q_specs:
        sinks = [
            {
                **s,
                "predicate": (
                    f"({s['predicate']}) AND NOT _quarantine"
                    if s.get("predicate")
                    else "NOT _quarantine"
                ),
            }
            for s in sinks
        ]
        sinks.append(
            {
                "name": "_quarantine",
                "path": q_specs[0]["path"],
                "predicate": "_quarantine",
                "mode": q_specs[0].get("mode", mode),
            }
        )
    for s in sinks:
        name = s.get("name")
        if set(s) - SINK_KEYS:
            raise ValueError(
                f"sink {name!r}: unknown keys {sorted(set(s) - SINK_KEYS)}"
            )
        if not name or not s.get("path"):
            raise ValueError(f"sink {name!r}: needs a name and a path")
        if s["mode"] not in ("append", "overwrite"):
            raise ValueError(f"sink {name!r}: unknown mode {s['mode']!r}")
    max_records_per_file = config.get("batch", {}).get(
        "max_records_per_file", 8192
    )
    return sinks, max_records_per_file


def run_job(
    spark: SparkSession,
    config: dict,
    run_id: str = "run0",
    transactional_batch: str | None = None,
) -> dict[str, int]:
    """Full job: source → stages → fan-out sinks → lineage. Returns
    per-sink row counts.

    With ``lineage_path`` set the job is resumable: rows inside ranges
    already committed for ``run_id`` are skipped, and sinks default to
    append so a resumed run adds to what earlier runs committed.

    transactional_batch: a crash-safe batch commit (requires
    lineage_path). The batch is one keyed ``fan_out``: every sink's rows
    land in ``<path>/batch=<batch>`` (partition-discovery compatible),
    replacing whatever an earlier attempt left there; then the lineage
    ranges are committed under stage ``export:<batch>``, and a batch
    whose stage is committed is not run again (its recorded counts are
    returned). Crash windows:
      * during the write — only fan_out's hidden ``_fanout_<uuid>``
        stage exists; no sink path has changed;
      * during the moves, or after them and before the lineage commit —
        a partly or wholly moved ``batch=<batch>`` is visible but
        uncommitted; the re-drive replaces it.
    Either way a re-driven batch produces exactly-once sink rows. The
    sinks must be on a file system with atomic rename (local, HDFS):
    on an object store a rename is a copy, so the moves are neither
    atomic nor cheap, and a table-format commit (Iceberg, Delta) is the
    answer there."""
    from ..fixtures import extract_log_line, load_pages_full
    from ..lineage import committed_ranges, resume_filter, write_lineage
    from ..sinks.writer import fan_out

    lineage_path = config.get("lineage_path")
    if transactional_batch is not None and not lineage_path:
        raise ValueError("transactional_batch requires lineage_path")
    sinks, max_records_per_file = sink_plan(config)

    # one read of the lineage table serves both the committed-batch
    # check and the resume filter
    committed: dict[str, str] = {}
    if lineage_path:
        cp = committed_ranges(spark, lineage_path, run_id)
        committed = {
            r["stage"]: r["sink_counts"]
            for r in cp.select("stage", "sink_counts").distinct().collect()
        }

    batch_stage = None
    if transactional_batch is not None:
        batch_stage = f"export:{transactional_batch}"
        if batch_stage in committed:
            # fully committed batch — idempotent re-drive is a no-op;
            # return the recorded counts
            return json.loads(committed[batch_stage])

    src = config["source"]
    if src["kind"] == "pages_synthetic":
        df = load_pages_full(spark, src["sf_dir"], src.get("reps", 20))
        df = extract_log_line(df)
    elif src["kind"] == "parquet":
        df = spark.read.parquet(src["path"])
    else:
        raise ValueError(f"unknown source kind: {src['kind']}")

    # resume: skip ranges already committed for this run_id
    # (min-pending-offset semantics, offset_tracker.rs:50-63)
    if committed:
        df = resume_filter(df, cp)

    out = build_pipeline(config).run(df)

    # persist through BOTH fan-out and lineage: the committed ranges
    # must come from the same materialized partitions that fed the sink
    # writes (a re-execution could lay out spark_partition_id
    # differently and commit ranges for rows never written — breaking
    # the exactly-once resume contract), and lineage must not re-run
    # the parse DAG.
    if lineage_path:
        out = out.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        counts = fan_out(
            out, sinks, max_records_per_file, batch=transactional_batch
        )
        if lineage_path:
            # the lineage commit marks the batch processed; a crash
            # before it is healed by the re-drive's keyed write
            write_lineage(
                out,
                lineage_path,
                run_id=run_id,
                stage=batch_stage or "export",
                sink_counts=counts,
            )
    finally:
        if lineage_path:
            out.unpersist()
    return counts
