"""Driver-side job budget guard (VERDICT r10 #5).

Round 10 rewrote nine queries around bounded collects / lazy
checkpoints specifically to cut their scheduled-job counts (each
driver-side job pays the ~0.16 s per-job scheduler floor regardless of
data size). This pins each one's BUILD-phase job count — jobs triggered
while the query callable constructs its plan — to the census sealed in
BENCH_FULL_r10.json, so a later edit can't silently re-add an eager
checkpoint, a broadcast-build collect, or a totals-join re-scan. The
bound is a ceiling: scheduling FEWER jobs is an improvement, not a
regression.

Build-phase jobs are structural (one per bounded collect / eager
checkpoint in the query's construction path), so the sf0.001 test
count matches the sf0.1 sealed count; the write-side AQE chain is NOT
asserted here because its job count varies with data volume.
"""

from __future__ import annotations

import pytest

from sparkify_datalake_spark.registry import queries

# name -> sealed build_jobs from BENCH_FULL_r10.json (the r10 census).
# mine_basket_triples is pinned at 10, one above its sealed sf0.1 count:
# one of its bounded collects schedules an extra AQE stage-materialize
# job at sf0.001 (measured min-of-3 on the sealed tree — size-dependent
# plan, not an eager-work regression; every other count is SF-invariant).
SEALED_BUILD_JOBS = {
    "agg_groupby": 0,
    "agg_weighted_avg": 0,
    "orders_backlog": 4,
    "orders_customer_migration": 3,
    "graph_clustering_coefficient": 8,
    "mine_basket_pairs": 8,
    "mine_basket_triples": 10,
    "corpus_quality_scorecard": 3,
    "stat_psi_drift": 6,
}


def _jobs(spark, fn) -> int:
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    fn()
    return len(set(tracker.getJobIdsForGroup(None) or []) - before)


@pytest.mark.parametrize("name", sorted(SEALED_BUILD_JOBS))
def test_build_jobs_within_sealed_budget(spark, sf_dir, name):
    q = queries()[name]
    # Warm pass: the first load() of a table pays a one-off schema-read
    # job on the relation-cache miss that is not part of the query's
    # action structure (bench.py takes min-across-repeats for the same
    # reason).
    q(spark, sf_dir)
    built = _jobs(spark, lambda: q(spark, sf_dir))
    assert built <= SEALED_BUILD_JOBS[name], (
        f"{name} schedules {built} driver-side jobs at plan build; the "
        f"sealed r10 census is {SEALED_BUILD_JOBS[name]} — an eager "
        "checkpoint/collect crept back in (each job costs the ~0.16 s "
        "scheduler floor at ANY data size)"
    )


# Jobs per call of the lake_ingest step's view and table reads, over a
# view with one partition per order day (1,094 at sf0.001). None of these
# calls needs a job that reads no rows: the view's schema is fixed, the
# table's schema is in its manifest, the aggregated delta is collected
# once, and a local session lists directories on the driver.
LAKE_STEP_JOBS = {"view_read": 2, "view_apply": 4, "read_version": 2}


def test_lake_step_jobs_within_ceiling(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from sparkify_datalake_spark.sources import matview, versioned
    from sparkify_datalake_spark.sources.load import load

    orders = load(spark, sf_dir, "orders")
    view, table = str(tmp_path / "view"), str(tmp_path / "table")
    matview.matview_init(spark, orders, view)
    versioned.commit(orders, table)
    late = spark.createDataFrame(
        [(10**9, 1, "O", 123.45, "1996-06-15", "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))

    got = {
        "view_read": _jobs(
            spark,
            lambda: matview.matview_read(spark, view)
            .agg(F.sum("n_orders"), F.sum("revenue_cents"))
            .collect(),
        ),
        "view_apply": _jobs(
            spark, lambda: matview.matview_apply(spark, view, late)
        ),
        "read_version": _jobs(
            spark, lambda: versioned.read_version(spark, table).count()
        ),
    }
    over = {k: v for k, v in got.items() if v > LAKE_STEP_JOBS[k]}
    assert not over, (
        f"lake step jobs {got} exceed the ceilings {LAKE_STEP_JOBS}: a "
        "listing, schema-inference or re-aggregation job crept back in"
    )
