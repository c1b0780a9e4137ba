"""Incrementally-maintained daily revenue rollup (SURVEY §2-A
test-class), and ``merge_delta``, the one merge every maintained view
store in the engine calls (this module, ``matview_events.py`` and
``scorecard_ivm.py``).

This view's grain is one row per order ``day`` holding distributive
components (``revenue_cents``, ``n_orders``; AVG = sum/count at read
time); its merge is a per-key sum, and it is stored ``partitionBy(day)``
so a late batch touching two days rewrites two small directories.

Read path: ``matview_read`` passes the view's fixed schema, so Spark
infers nothing from parquet footers (no schema job), and the `day=`
directories are listed on the driver under the session's listing
threshold (session.py) rather than by a one-task-per-directory Spark
job. The only jobs a view read schedules are the ones that scan rows.

tests/test_matview.py proves merge-equals-recompute (the IVM
correctness property), late-row absorption, untouched-partition
byte-stability, and O(delta) input metrics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkify_datalake_spark.sources.sinks import (
    overwrite_partitions_dynamic,
    write_partitioned_parquet,
)

# The rollup schema: one row per (day) with distributive components.
# AVG intentionally stored as (sum, count) — the only merge-safe form.
_KEY = "day"
_COMPONENTS = ("revenue_cents", "n_orders")
# Written by matview_init; `day` is the partition directory.
_SCHEMA = "revenue_cents long, n_orders long, day date"


def _aggregate(batch: DataFrame) -> DataFrame:
    """Aggregate a batch of orders to the view grain.

    Money in exact integer cents (the repo-wide decimal discipline):
    merge-order independence of the maintenance algebra requires the
    component aggregates to be associative AND exact — float sums are
    only approximately associative, so a view maintained by float
    merges drifts from the recompute by batch-order-dependent ulps.
    """
    return batch.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias(_KEY)
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


def matview_init(spark: SparkSession, base: DataFrame, path: str) -> None:
    """Materialize the rollup from an initial base-table snapshot."""
    write_partitioned_parquet(_aggregate(base), path, [_KEY])


def matview_read(spark: SparkSession, path: str) -> DataFrame:
    # The fixed schema types the `day=` directories as dates and skips
    # footer inference; normalize column order.
    return spark.read.schema(_SCHEMA).parquet(path).select(_KEY, *_COMPONENTS)


def merge_delta(
    spark: SparkSession,
    path: str,
    d_agg: DataFrame,
    part: str,
    sums: tuple[str, ...] = (),
) -> list[str]:
    """Merge an aggregated delta into the view stored at ``path``,
    partitioned by ``part``; returns the sorted affected ``part`` values.

    Incremental view maintenance for a grain that absorbs appends: the
    view delta is the aggregated batch, merged group-wise,

        V' = V  ⊎  agg(ΔB)

    where ⊎ sums the ``sums`` columns per key (distributive aggregates;
    the key is every other column of ``d_agg``) or, with no ``sums``, is
    a set union (``distinct``, so a re-delivered row is absorbed).
    ``d_agg`` carries exactly the view's columns, ``part`` included.

    Only the touched partitions are read and rewritten: agg(ΔB) is
    collected once as an Arrow table (``d_agg.toArrow()``), whose
    ``part`` column gives the affected values and which re-enters Spark
    as the merge input through ``createDataFrame`` — a JVM local
    relation, so no job of the merge starts a Python worker to decode
    driver-held rows; the prior slice is read with ``d_agg.schema``
    (no footer-inference job) and filtered to those partitions; the
    merge is written by a per-write dynamic partition overwrite
    (``sinks.overwrite_partitions_dynamic``). A batch costs
    O(|ΔB| + rows of touched partitions), independent of |history|,
    where a recompute scans all history per batch: at 100 TB × daily
    batches, minutes against a day.

    Driver bound: the Arrow collect, and the local relation built from
    the same table, hold |agg(ΔB)| rows per batch, that is
    one per touched day for the revenue rollup, one per touched
    (day, user) pair for the DAU store and one per touched
    (source, token|gram) group for the scorecard (4,986 gram rows for a
    100-doc delta at sf0.001). A feed whose aggregated batch outgrows
    the driver must be cut into smaller batches before this merge.
    """
    delta = d_agg.toArrow()
    if not delta.num_rows:
        return []
    affected = sorted({str(v) for v in delta.column(part).to_pylist()})
    prior = (
        spark.read.schema(d_agg.schema)
        .parquet(path)
        .filter(F.col(part).isin(affected))
        .select(*d_agg.columns)
    )
    merged = prior.unionByName(spark.createDataFrame(delta, d_agg.schema))
    keys = [c for c in d_agg.columns if c not in sums]
    merged = (
        merged.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sums])
        if sums
        else merged.distinct()
    )
    overwrite_partitions_dynamic(merged, path, [part])
    return affected


def matview_apply(
    spark: SparkSession, path: str, delta: DataFrame
) -> list[str]:
    """Absorb a base-table delta batch into the view; returns the
    affected ISO days (the unit of rewrite)."""
    return merge_delta(spark, path, _aggregate(delta), _KEY, _COMPONENTS)


def partition_files(path: str) -> dict[str, list[tuple[str, int]]]:
    """{partition-dir-name: [(file, size)]} — lets tests assert that
    untouched partitions are byte-identical after maintenance."""
    out: dict[str, list[tuple[str, int]]] = {}
    for entry in sorted(os.listdir(path)):
        full = os.path.join(path, entry)
        if not (os.path.isdir(full) and "=" in entry):
            continue
        out[entry] = sorted(
            (f, os.path.getsize(os.path.join(full, f)))
            for f in os.listdir(full)
            if f.endswith(".parquet")
        )
    return out
