"""Sinks (SURVEY.md §2-A `test` rows): partitioned Parquet, CSV/JSON.

The reference family's signature op `[RECONSTRUCTED]` is
``df.write.partitionBy(...).parquet(out)`` (star-schema tables partitioned
by e.g. (year, artist_id)); these helpers are the engine's equivalents,
exercised by tests/test_sinks.py.

Scale notes (100 TB): partition columns must be low-cardinality (status,
date buckets) — a high-cardinality partitionBy creates millions of tiny
files. Pair with ``df.repartition(cols)`` before the write so each
partition directory is produced by one task (one file), and let AQE
coalesce small post-shuffle partitions. Readers get partition pruning for
free on the directory layout.
"""

from __future__ import annotations

import functools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Partitioned Parquet sink; one file per partition directory."""
    (
        df.repartition(*partition_cols)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def read_partitioned_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", "true").csv(path)


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    return spark.read.schema(schema).option("header", "true").csv(path)


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def read_json(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    return spark.read.schema(schema).json(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row") -> None:
    """Spark 4 built-in XML sink (SPARK-44265 — no spark-xml package
    needed): the interchange format regulated/B2B feeds still speak.
    Same overwrite-directory contract as the CSV/JSON sinks."""
    (
        df.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "rows")
        .option("rowTag", row_tag)
        .save(path)
    )


def read_xml(
    spark: SparkSession, path: str, schema: StructType, row_tag: str = "row"
) -> DataFrame:
    return (
        spark.read.schema(schema)
        .format("xml")
        .option("rowTag", row_tag)
        .load(path)
    )


def write_bucketed_table(
    df: DataFrame, table: str, key: str, n_buckets: int, path: str
) -> None:
    """Bucketed (hash-clustered) + sorted table sink.

    THE 100 TB fact-⋈-fact join technique: two tables bucketed on the
    join key with the same bucket count join with NO exchange — each
    task reads bucket i of both sides and merge-joins presorted files
    (tests/test_sinks.py asserts the Exchange-free plan). At 100 TB,
    bucketing lineitem+orders on orderkey turns the biggest shuffle in
    the workload into a metadata lookup; the write-side shuffle is paid
    once, amortized over every subsequent join.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(table)
    )


def overwrite_partitions_dynamic(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """INSERT OVERWRITE, dynamic mode: replace ONLY the partitions the
    incoming frame touches, leave every other partition directory alone.

    The day-2 lakehouse operation: a daily re-run replaces yesterday's
    date partition without rewriting (or deleting!) the other 3 years of
    partitions, which is exactly what static overwrite mode would do.
    Set per-write via the partitionOverwriteMode option, not globally —
    a global conf flip silently changes unrelated writes' semantics.
    """
    (
        df.repartition(*partition_cols)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def upsert_by_key(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    partition_cols: list[str],
    validate_partition_stability: bool = False,
) -> None:
    """MERGE/upsert into a partitioned Parquet table via partition rewrite.

    Parquet files are immutable, so upsert = rewrite the affected
    partitions: (1) the updates' distinct partition values prune the
    base read to just those directories, (2) base rows whose key appears
    in the updates are anti-joined away, (3) survivors + updates are
    written back with dynamic partition overwrite — untouched partitions
    never move. At 100 TB the rewrite cost is proportional to the
    touched partitions, not the table, which is why partition design
    (date, tenant) matters more than anything else for mutation-heavy
    tables.

    PRECONDITIONS (unlike a table-wide Delta/Iceberg MERGE):
    - A key's partition value must be stable — if an update moves key K
      from partition A to B, the pruned read never sees K's old row in
      A and it survives as a stale duplicate. That is the inherent
      contract of partition-pruned upserts (date-keyed facts satisfy it
      naturally); pass validate_partition_stability=True to pay one
      column-pruned scan of the base (key + partition columns only) and
      fail fast on a violation instead.
    - `updates` carries ONE row per key: the anti-join removes the base
      row, then the whole updates frame is unioned in verbatim, so two
      update rows for the same key both survive. Dedupe upstream
      (e.g. keep the latest by timestamp) before calling.

    The merged frame is materialized (localCheckpoint) before the write
    because the write overwrites the very directories being read; on a
    cluster this is a staging-directory write + metastore location swap.
    """
    # distinct partition values stay a (tiny, materialized) DataFrame:
    # exact touched-combination membership comes from a broadcast
    # semi-join on it — never a thousands-of-clauses OR-of-ANDs literal
    # predicate tree (slow to analyze, and codegen chokes on very large
    # expressions)
    touched = updates.select(*partition_cols).distinct().localCheckpoint()
    if touched.isEmpty():
        return  # empty micro-batch (CDC replay/recovery) → no-op
    if validate_partition_stability:
        moved = (
            spark.read.parquet(path)
            .select(key, *partition_cols)
            .join(
                updates.select(key, *partition_cols).withColumnsRenamed(
                    {c: f"u_{c}" for c in partition_cols}
                ),
                key,
            )
            .filter(
                functools.reduce(
                    lambda a, b: a | b,
                    [
                        F.col(c) != F.col(f"u_{c}")
                        for c in partition_cols
                    ],
                )
            )
        )
        if not moved.isEmpty():
            bad = [r[key] for r in moved.select(key).limit(5).collect()]
            raise ValueError(
                f"upsert_by_key: keys changed partition value "
                f"(e.g. {bad}) — partition-pruned upsert would leave "
                "stale duplicates; rewrite those keys' old partitions "
                "explicitly instead"
            )
    # STATIC pruning is a separate concern from exact membership: a join
    # condition never reaches the FileIndex, and DPP won't fire against a
    # bare materialized frame, so the directory-level skip comes from
    # per-column IN-lists (one flat predicate per partition column — a
    # conservative superset of the touched combinations, still
    # O(distinct values), never an OR-of-ANDs tree). The semi-join then
    # keeps exactly the touched combinations within that superset.
    in_lists = functools.reduce(
        lambda a, b: a & b,
        [
            F.col(c).isin(
                [r[c] for r in touched.select(c).distinct().collect()]
            )
            for c in partition_cols
        ],
    )
    base = (
        spark.read.parquet(path)
        .filter(in_lists)
        .join(F.broadcast(touched), partition_cols, "left_semi")
    )
    merged = (
        base.join(updates.select(key).distinct(), key, "left_anti")
        .unionByName(updates)
        .localCheckpoint()
    )
    overwrite_partitions_dynamic(merged, path, partition_cols)


def recover_dir(path: str) -> bool:
    """Undo or finish what an interrupted ``replace_dir`` left beside
    ``path``; returns whether a complete ``path`` exists afterwards.

    The states its steps can leave, and their repair:
    ``.old`` without ``path`` (crash between the two renames) — restore
    ``.old``; ``.old`` beside ``path`` (crash before ``.old`` was
    deleted, the new copy already in place) — delete ``.old``; a
    ``.staging`` dir (crash before the publishing rename) — discard it.
    One writer per path: a second writer's live staging dir would be
    discarded as a leftover.
    """
    path = path.rstrip("/")
    old = path + ".old"
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)
    shutil.rmtree(path + ".staging", ignore_errors=True)
    return os.path.isdir(path)


def replace_dir(path: str, write) -> None:
    """Publish a derived directory: ``write(staging)`` fills the sibling
    ``path + ".staging"``, then renames publish it.

    A new ``path`` is published by ONE ``os.rename`` — that rename is
    the commit. An existing ``path`` is swapped by two renames (``path``
    to ``path + ".old"``, staging into ``path``), then ``.old`` is
    deleted. The swap is not atomic: between the two renames ``path``
    does not exist, but a complete copy always does, and
    ``recover_dir`` (run first, on entry) restores it. So a directory
    at its final path is always complete, and no marker file is needed.
    os.rename needs a local, same-filesystem path — on an object store
    the swap becomes a manifest pointer commit (Delta/Iceberg
    ``OPTIMIZE`` rewrites, docs/DELTA_INTEROP.md).
    """
    path = path.rstrip("/")
    staging, old = path + ".staging", path + ".old"
    existed = recover_dir(path)
    write(staging)
    if existed:
        os.rename(path, old)
    os.rename(staging, path)
    if existed:
        shutil.rmtree(old)


def compact_parquet(
    spark: SparkSession,
    path: str,
    n_files: int = 1,
    partition_cols: list[str] | None = None,
) -> None:
    """Small-file compaction: rewrite a Parquet dataset into few files.

    Streaming/incremental ingest leaves thousands of KB-sized files;
    scan throughput dies on open/seek overhead long before bytes matter.
    The rewrite repartitions to the target file count — or by partition
    column, so each directory compacts to one file per writing task —
    and publishes through ``replace_dir``, which also recovers from a
    compaction that crashed mid-swap before this one reads the table.
    """

    def write(staging: str) -> None:
        df = spark.read.parquet(path)
        staged = (
            df.repartition(*partition_cols)
            if partition_cols
            else df.repartition(n_files)
        )
        writer = staged.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(staging)

    replace_dir(path, write)


def read_json_permissive(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """JSON source that quarantines malformed rows instead of failing.

    PERMISSIVE mode: parseable rows populate the schema columns;
    malformed lines land whole in ``_corrupt_record`` with NULLs
    elsewhere. At 100 TB ingest this is the only sane default — one bad
    row in a billion must not kill the job; the corrupt column is
    filtered into a quarantine sink for inspection.
    """
    full = schema.add("_corrupt_record", "string")
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def write_sorted_parquet(
    df: DataFrame, path: str, sort_cols: list[str], n_files: int = 4
) -> None:
    """Range-partition + sort-within-partitions Parquet sink: the
    file-skipping layout.

    Parquet footers carry per-row-group min/max; engines (Spark, DuckDB,
    Trino) skip row groups whose range misses the predicate. An
    unsorted write scatters every key across every row group, so no
    filter ever skips anything; repartitionByRange + sortWithinPartitions
    makes key ranges per file/row-group disjoint, turning selective
    scans into near-index lookups — the poor man's clustered index, and
    at 100 TB the difference between reading 1 row group and reading
    the table (tests/test_sinks.py measures the stats tightening).
    Z-ordering generalizes this to multi-column predicates; one sort
    column is the common case.
    """
    (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def diff_tables(
    base: DataFrame, other: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Row-level reconciliation of two snapshots keyed by ``key_cols``:
    returns (keys…, change_type ∈ {added, removed, changed}) — rows
    identical in both snapshots are not returned.

    The CDC/repair primitive: diffing yesterday's and today's table
    yields the minimal change set to replicate/repair. Shape: ONE full
    outer join on the keys after each side collapses its non-key
    columns to a single xxhash64 fingerprint (computed map-side, so the
    shuffle carries keys + 8 bytes instead of whole rows — at 100 TB
    the join cost is the key width, not the table width). NULL-safe in
    VALUES: the fingerprint hashes a struct, where NULL ≠ 'NULL-string'
    and column order is pinned by the shared schema. Keys themselves
    must be non-null (standard equi-join semantics: a null key never
    matches, so such a row would read as removed+added).
    """
    value_cols = sorted(set(base.columns) - set(key_cols))
    if set(other.columns) != set(base.columns):
        raise ValueError(
            f"schemas differ: {sorted(base.columns)} vs "
            f"{sorted(other.columns)}"
        )
    fp = F.xxhash64(F.struct(*[F.col(c) for c in value_cols]))
    b = base.select(*key_cols, fp.alias("_fp_b"))
    o = other.select(*key_cols, fp.alias("_fp_o"))
    joined = b.join(o, key_cols, "full_outer")
    return joined.select(
        *key_cols,
        F.when(F.col("_fp_b").isNull(), F.lit("added"))
        .when(F.col("_fp_o").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change_type"),
    ).filter(
        F.col("_fp_b").isNull()
        | F.col("_fp_o").isNull()
        | (F.col("_fp_b") != F.col("_fp_o"))
    )


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (Spark-bundled columnar alternative to Parquet — same
    predicate-pushdown/column-pruning reader story, zlib by default)."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)
