"""Incrementally-maintained DAU/WAU engagement dashboard (VERDICT r10
#7 — the second consumer of the scorecard_ivm merge-equals-recompute
contract, proving the abstraction generalizes past one view).

`events_dau_wau` is the textbook rolling-DISTINCT problem: neither DAU
nor trailing-7-day WAU is distributive over raw event appends, so the
counts themselves can't be merged. What IS maintainable is the grain
the live query derives first anyway: the DISTINCT `user_days(d,
user_id)` frame — set-union-mergeable under appends (a distinct merge
per touched day), bounded by users × days rather than events, and every
engagement metric folds from it without touching raw history.

Store layout: parquet partitioned by `d_key` (yyyy-MM-dd). An append
batch of events touches only the day directories its events fall in —
including LATE days (an event arriving for an old day merges into that
day's partition; correctness needs no watermark, late data just makes
its day's directory rewrite). Maintenance cost is O(|Δ| + rows of
touched days), independent of history length.

The dashboard's fold is `_dau_wau_fold` — the SAME expression tree the
live query uses (operators/events_analytics.py), so incremental ==
recompute is a property of one set of expressions, bit-for-bit
(tests/test_matview_events.py).

100 TB shape: user_days at 1B users × 365 days is ~10^11 rows/year ——
big, but 100-1000× smaller than raw events, keyed and partitioned by
day, and the only full pass the dashboard ever makes is over this
grain (the 7× cover explode fans out of the bounded frame, never the
events table). The apply-side shuffle is one distinct over the delta's
(day, user) pairs plus a per-touched-day merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkify_datalake_spark.sources.sinks import (
    overwrite_partitions_dynamic,
    write_partitioned_parquet,
)


def _user_days(events: DataFrame) -> DataFrame:
    """DISTINCT (d_key, d, user_id) grain of an events frame."""
    return events.select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).distinct().select(
        F.date_format("d", "yyyy-MM-dd").alias("d_key"), "d", "user_id"
    )


def dau_store_init(spark: SparkSession, events: DataFrame, path: str) -> None:
    """Materialize the user_days store from an initial events history."""
    write_partitioned_parquet(_user_days(events), path, ["d_key"])


def dau_store_apply(
    spark: SparkSession, path: str, delta: DataFrame
) -> list[str]:
    """Absorb an APPEND batch of events; returns touched day keys.

    The delta's distinct (day, user) pairs are set-union-merged with
    the prior store rows of ONLY the affected day partitions
    (partition-pruned read — history outside the batch's days is never
    scanned), then those directories are dynamically overwritten.
    Late-arriving events need no special case: their day is simply one
    of the touched partitions. Re-delivered events are absorbed by the
    distinct (exactly-once not required of the feed).
    """
    du = _user_days(delta).localCheckpoint(eager=False)
    affected = [r["d_key"] for r in du.select("d_key").distinct().collect()]
    if not affected:
        return []
    prior = (
        spark.read.parquet(path)
        .filter(F.col("d_key").isin(affected))
        .select("d_key", "d", "user_id")
    )
    merged = prior.unionByName(du.select("d_key", "d", "user_id")).distinct()
    overwrite_partitions_dynamic(merged, path, ["d_key"])
    return sorted(affected)


def dau_store_dashboard(spark: SparkSession, path: str) -> DataFrame:
    """events_dau_wau's dashboard from the maintained grain — same
    columns, same fold, no events scan."""
    from sparkify_datalake_spark.operators.events_analytics import (
        _dau_wau_fold,
    )

    du = spark.read.parquet(path).select("d", "user_id")
    return _dau_wau_fold(du)
