"""Incremental near-dedup against a persisted MinHash signature store
(SURVEY §2-I round-3 addendum — the most common production dedup shape:
"dedup today's crawl against everything already ingested" without
re-signing the corpus).

Store layout (two Parquet tables under a store path):
  bucket_reps/  (bucket long, rep long) — the semantic value of the
                table is bucket → min(rep); one aggregated row per
                bucket per ingested batch, compacted by min-merge on
                read. Crucially this stores NO memberships: a
                pathological hot bucket (the mega-bucket hazard that
                forces a candidate cap in dedup_near_verified) costs
                one row here, and an ingest join against it emits at
                most bands × (1 + #batches) rows per new doc — bounded
                by construction, not by a tuning constant.
  reps/         (doc_id long, rep long) — every ingested document's
                cluster representative; append-only.
Build and vacuum publish the whole store dir through sinks.replace_dir,
so both tables always come from the same build; ingest appends in place.

Semantics: same single-linkage-over-shared-band-buckets as dedup_near
(operators/text.py), restricted to new→seen and new→new edges. An
incremental ingest assigns each new document to the minimum existing
representative reachable through its batch-internal cluster; it never
merges two pre-existing clusters through a new bridge document — that
(rare) repair is what periodic full rebuilds (dedup_store_build) are
for, the standard freshness/cost trade of production dedup services.

Scale notes (100 TB): signing is map-side over the NEW batch only
(O(batch), the whole point); the candidate lookup is one join of the
batch's ~8 buckets/doc against the bucket→min-rep table — at scale that
table is bucketed/partitioned by bucket hash so the join co-locates,
and batches compact it (groupBy bucket min) on a maintenance cadence
exactly like compact_parquet.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkify_datalake_spark.operators.graph import _propagate_min_labels
from sparkify_datalake_spark.operators.text import minhash_band_buckets
from sparkify_datalake_spark.registry import query
from sparkify_datalake_spark.sources.load import load, snapshot_dir
from sparkify_datalake_spark.sources.sinks import recover_dir, replace_dir

_STORE_ROOT = (
    Path(__file__).resolve().parents[2] / "spark-warehouse" / "dedup_store"
)


# bump when the signature/banding/propagation semantics or the store
# layout change — a store dir built by older code must never be reused
# (v2 dirs were marker-checked, so a half-built one may exist on disk)
_DEMO_STORE_VERSION = 3


def dedup_store_build(
    spark: SparkSession, docs: DataFrame, store_path: str
) -> DataFrame:
    """Full build: sign + cluster `docs`, persist the signature store.

    Returns the (doc_id, rep) assignment that was written. Replaces any
    existing store at the path (this IS the periodic full rebuild): both
    tables are written into one staging dir and published together by
    ``sinks.replace_dir``, so a rebuild that crashes halfway never pairs
    new ``bucket_reps`` with old ``reps``.
    """
    buckets = minhash_band_buckets(docs).localCheckpoint()
    reps = _propagate_min_labels(buckets)
    bucket_reps = (
        buckets.join(reps, "doc_id")
        .groupBy("bucket")
        .agg(F.min("rep").alias("rep"))
    )

    def write(staging: str) -> None:
        bucket_reps.write.parquet(f"{staging}/bucket_reps")
        reps.write.parquet(f"{staging}/reps")

    replace_dir(store_path, write)
    return reps


def dedup_store_ingest(
    spark: SparkSession,
    new_docs: DataFrame,
    store_path: str,
    update_store: bool = True,
) -> DataFrame:
    """Dedup a new batch against the store; returns (doc_id, rep_id).

    rep_id < any batch doc_id ⇒ the document near-duplicates something
    already ingested; rep_id inside the batch ⇒ it is novel (possibly
    representing a batch-internal duplicate cluster). The store is
    updated in place: new band buckets (aggregated to bucket→min-rep
    rows) and the new assignments are appended — old rows are never
    rewritten, so prior survivors are stable by construction.
    update_store=False is the dry-run/probe mode: classify the batch
    against the store without committing it (dedup-preview, retries).
    """
    new_buckets = minhash_band_buckets(new_docs).localCheckpoint()
    # batch-internal clustering first (small: the batch, not the corpus)
    batch = _propagate_min_labels(new_buckets)
    # candidate lookup: ≤ bands × (1 + #batches) store rows per new doc
    store = spark.read.parquet(f"{store_path}/bucket_reps")
    hits = (
        new_buckets.join(
            store.withColumnRenamed("rep", "seen_rep"), "bucket"
        )
        .groupBy("doc_id")
        .agg(F.min("seen_rep").alias("hit_rep"))
    )
    # single-linkage within the batch: the whole batch cluster adopts
    # the minimum existing rep any member hit
    cluster_hit = (
        batch.join(hits, "doc_id", "left")
        .groupBy("rep")
        .agg(F.min("hit_rep").alias("cluster_hit"))
    )
    assigned = (
        batch.join(cluster_hit, "rep")
        .select(
            "doc_id",
            # least, not coalesce: doc ids need not be globally
            # monotonic (backfill batches), so a store hit can carry a
            # LARGER id than the batch-internal rep — min-linkage takes
            # the smaller; least skips the null of a hitless cluster
            F.least("cluster_hit", "rep").alias("rep_id"),
        )
        .localCheckpoint()  # materialize BEFORE appending to the store
    )
    if update_store:
        new_bucket_reps = (
            new_buckets.join(
                assigned.withColumnRenamed("doc_id", "d"),
                new_buckets["doc_id"] == F.col("d"),
            )
            .groupBy("bucket")
            .agg(F.min("rep_id").alias("rep"))
        )
        new_bucket_reps.write.mode("append").parquet(
            f"{store_path}/bucket_reps"
        )
        assigned.select(
            "doc_id", F.col("rep_id").alias("rep")
        ).write.mode("append").parquet(f"{store_path}/reps")
    return assigned


@query("dedup_incremental")
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demo of the incremental path on the fixture corpus: build the
    store from the first ~70% of documents, then ingest the rest as a
    delta batch — only the delta is signed. Returns the delta batch's
    (doc_id, rep_id) assignments. Rows-only (iterative propagation has
    no single-statement SQL twin); tests/test_dedup_incremental.py
    checks survivor stability, store growth, and agreement with batch
    dedup_near on new→seen containment.

    Build-once / probe-many, like the ANN indexes: the base store is
    keyed by the corpus path and documents fingerprint, built when its
    dir does not exist (replace_dir publishes only complete stores) and
    reused after; the delta runs in dry-run mode, so repeated calls
    never append — deterministic output, steady-state cost = one delta
    ingest.
    """
    store = snapshot_dir(
        _STORE_ROOT, sf_dir, "documents", f"v{_DEMO_STORE_VERSION}"
    )
    docs = load(spark, sf_dir, "documents")
    cut = int(
        docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"] * 0.7
    )
    if not recover_dir(store):
        dedup_store_build(
            spark, docs.filter(F.col("doc_id") <= cut), store
        )
    return dedup_store_ingest(
        spark,
        docs.filter(F.col("doc_id") > cut),
        store,
        update_store=False,
    )


def dedup_store_vacuum(
    spark: SparkSession, store_path: str, n_files: int = 8
) -> dict:
    """Compact the store to its semantic minimum (VERDICT r7 #7: the
    map grows one row per touched bucket per batch, monotonically).

    ``bucket_reps`` holds bucket → min(rep) *by min-merge on read*;
    vacuum materializes that merge — one row per bucket, superseded
    (bucket, rep) rows dropped — and ``reps`` likewise dedupes to one
    row per doc_id. Ingest results are invariant under vacuum because
    every reader already reduces by min(rep); what changes is the
    store's size and the candidate join's input row count, which
    otherwise grow with batch COUNT rather than corpus size.

    Both tables are rewritten into one staging dir and published
    together by ``sinks.replace_dir``, which also recovers from a
    vacuum or build that crashed mid-swap. At 100 TB the rewrite is one
    partial-aggregatable groupBy keyed on the bucket hash — the same
    partitioning the candidate join wants, so vacuum doubles as the
    co-location maintenance pass.

    Returns {table: {"rows_before": n, "rows_after": m}} for both
    store tables.
    """
    stats: dict[str, dict[str, int]] = {}

    def write(staging: str) -> None:
        for sub, key in (("bucket_reps", "bucket"), ("reps", "doc_id")):
            df = spark.read.parquet(f"{store_path}/{sub}")
            before = df.count()
            (
                df.groupBy(key)
                .agg(F.min("rep").alias("rep"))
                .repartition(n_files, key)
                .sortWithinPartitions(key)
                .write.parquet(f"{staging}/{sub}")
            )
            after = spark.read.parquet(f"{staging}/{sub}").count()
            stats[sub] = {"rows_before": before, "rows_after": after}

    replace_dir(store_path, write)
    return stats
