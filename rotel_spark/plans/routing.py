"""Routing — the fan-out key expression and skew-aware repartitioning.

The reference fans every batch out to ALL exporters of its telemetry
type (/root/reference/src/topology/fanout.rs:17-20,92-95); named sinks
come from ``--exporters name:type,...`` (src/init/config.rs:55-98).
The north rule adds routing *by expression* (severity × domain) — our
engine supports both modes (route-filtered and broadcast-to-all).

Skew: hot domains (fixtures put ~39% of rows on one host) are salted
before routed writes/aggregates — ``repartition(route, salt)`` — so no
single task owns a hot route (SURVEY.md §4, north rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import salt_column

# default sink names by severity band
ROUTE_SQL = (
    "CASE WHEN severity_number >= 17 THEN 'errors' "
    "WHEN severity_number >= 13 THEN 'ops' ELSE 'archive' END"
)


def route_expr(severity_number: Column) -> Column:
    return (
        F.when(severity_number >= 17, F.lit("errors"))
        .when(severity_number >= 13, F.lit("ops"))
        .otherwise(F.lit("archive"))
    )


def domain_partition_sql(domain_col: str, buckets: int = 8) -> str:
    """Portable deterministic domain bucket: length+first-char arithmetic
    (NOT hash() — engine hashes differ across dialects; parity demands
    a dialect-portable bucket function)."""
    return (
        f"CAST((length({domain_col}) * 31 + ascii(substr({domain_col}, 1, 1)))"
        f" % {buckets} AS INT)"
    )


def domain_partition(domain: Column, buckets: int = 8) -> Column:
    return (
        (F.length(domain) * 31 + F.ascii(F.substring(domain, 1, 1)))
        % buckets
    ).cast("int")


def with_route(df: DataFrame, buckets: int = 8) -> DataFrame:
    """Add `route` (sink key) and `domain_partition` columns."""
    return df.withColumn(
        "route", route_expr(F.col("severity_number"))
    ).withColumn("domain_partition", domain_partition(F.col("domain"), buckets))


def salted_repartition(df: DataFrame, key: str, n_salt: int = 16) -> DataFrame:
    """Repartition by (key, salt) so a hot key spreads over n_salt tasks.

    Use before routed writes; for aggregates Catalyst's partial/final
    hash-agg already two-phases, so explicit salting there is only
    needed when a final-stage group is still too hot (SURVEY.md §2.7).
    """
    salted = df.withColumn("_salt", salt_column(F.col(key), n_salt))
    return salted.repartition(F.col(key), F.col("_salt")).drop("_salt")
