"""Incrementally-maintained materialized aggregate (SURVEY §2-A
test-class, round 4).

The production pattern behind every "daily revenue rollup" table at
100 TB: the base fact table only ever grows by deltas (a new ingest
batch, possibly containing LATE rows for old days), and the rollup must
absorb a delta WITHOUT recomputing history. The classic incremental
view-maintenance result for distributive aggregates (SUM/COUNT; AVG =
SUM/COUNT at read time) is that the view delta is just the aggregated
batch, merged group-wise:

    V' = V  ⊎  agg(ΔB)        (⊎ = per-key sum/count merge)

so maintenance cost is O(|ΔB| + |touched groups|), independent of
|history|. Implementation detail that makes it lake-safe: the merge
rewrites ONLY the partition directories whose group keys appear in the
aggregated delta (dynamic partition overwrite), so a 10-row late batch
touching 2 days rewrites 2 small files out of years of history — the
same selective-rewrite discipline as sinks.upsert_by_key.

Spark-first mapping: the delta aggregate is a plain groupBy collected
once to the driver — at most one row per touched day — and those rows
give both the affected keys and the merge input, so nothing is cached
and the delta is aggregated once. The merge is a groupBy over (the
partition-pruned slice of V) ∪ (those rows) — never a join against full
history — and the write is a per-write dynamic partition overwrite
(sinks.overwrite_partitions_dynamic).

Read path: ``matview_read`` passes the view's fixed schema, so Spark
infers nothing from parquet footers (no schema job), and the `day=`
directories are listed on the driver under the session's listing
threshold (session.py) rather than by a one-task-per-directory Spark
job. The only jobs a view read schedules are the ones that scan rows.

Counter-positioning: a naive "recompute the view" costs a full history
scan per batch; at 100 TB × daily batches that's the difference between
a 2-minute and a 20-hour maintenance job. tests/test_matview.py proves
merge-equals-recompute (the IVM correctness property), late-row
absorption, untouched-partition byte-stability, and O(delta) input
metrics.
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


def matview_apply(
    spark: SparkSession, path: str, delta: DataFrame
) -> list[str]:
    """Absorb a base-table delta batch into the materialized view.

    Returns the list of affected partition keys (ISO days) — the unit
    of rewrite. Plan shape: agg(Δ) is collected once (≤ distinct days in
    the batch) and re-enters as a local relation; the prior view is read
    WITH a partition-pruned filter (`day IN affected`) so history outside
    the touched days is never scanned; the merged slice overwrites only
    those directories via dynamic partition overwrite.
    """
    d_rows = _aggregate(delta).collect()
    if not d_rows:
        return []
    affected = sorted(str(r[_KEY]) for r in d_rows)

    prior = matview_read(spark, path).filter(F.col(_KEY).isin(affected))
    d_agg = spark.createDataFrame(d_rows, prior.schema)
    merged = (
        prior.unionByName(d_agg)
        .groupBy(_KEY)
        .agg(*[F.sum(c).alias(c) for c in _COMPONENTS])
    )
    overwrite_partitions_dynamic(merged, path, [_KEY])
    return affected


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
