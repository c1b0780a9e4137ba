"""Lakehouse table-maintenance ops (SURVEY §2-A addendum): dynamic
partition overwrite, upsert-by-key via partition rewrite, small-file
compaction. The 100 TB property each test pins: work (and risk) scale
with the partitions touched, never with the whole table.
"""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from sparkify_datalake_spark.sources.sinks import (
    compact_parquet,
    overwrite_partitions_dynamic,
    upsert_by_key,
)


def _base_df(spark):
    rows = [(k, "A" if k <= 5 else "B", k * 10.0) for k in range(1, 11)]
    return spark.createDataFrame(rows, "id long, part string, val double")


def _collect(spark, path):
    return {
        (r["id"], r["part"], r["val"])
        for r in spark.read.parquet(path).collect()
    }


def _files(path, pattern="**/*.parquet"):
    return sorted(glob.glob(f"{path}/{pattern}", recursive=True))


def test_dynamic_overwrite_replaces_only_touched_partition(spark, tmp_path):
    path = str(tmp_path / "tbl")
    overwrite_partitions_dynamic(_base_df(spark), path, ["part"])
    a_files_before = _files(path + "/part=A")
    redo_b = spark.createDataFrame(
        [(99, "B", 999.0)], "id long, part string, val double"
    )
    overwrite_partitions_dynamic(redo_b, path, ["part"])
    got = _collect(spark, path)
    # partition A intact (same rows AND same untouched files), B replaced
    assert {(k, "A", k * 10.0) for k in range(1, 6)} <= got
    assert (99, "B", 999.0) in got
    assert not any(r[1] == "B" and r[0] != 99 for r in got)
    assert _files(path + "/part=A") == a_files_before


def test_upsert_by_key_merges_and_prunes(spark, tmp_path):
    path = str(tmp_path / "tbl")
    overwrite_partitions_dynamic(_base_df(spark), path, ["part"])
    a_files_before = _files(path + "/part=A")
    updates = spark.createDataFrame(
        [(7, "B", -7.0), (11, "B", 111.0)], "id long, part string, val double"
    )
    upsert_by_key(spark, path, updates, "id", ["part"])
    got = _collect(spark, path)
    expect = {(k, "A", k * 10.0) for k in range(1, 6)}
    expect |= {(k, "B", k * 10.0) for k in (6, 8, 9, 10)}
    expect |= {(7, "B", -7.0), (11, "B", 111.0)}
    assert got == expect
    # partition A was never touched: pruning proof at the file level
    assert _files(path + "/part=A") == a_files_before


def test_compact_parquet_reduces_files_keeps_content(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(16).write.parquet(path)
    before = {(r["id"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert len(_files(path)) == 16
    compact_parquet(spark, path, n_files=2)
    assert len(_files(path)) == 2
    assert {
        (r["id"], r["v"]) for r in spark.read.parquet(path).collect()
    } == before


def test_compact_partitioned_one_file_per_partition(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = _base_df(spark).repartition(8)
    df.write.partitionBy("part").parquet(path)
    assert len(_files(path)) > 2
    before = _collect(spark, path)
    compact_parquet(spark, path, partition_cols=["part"])
    assert len(_files(path + "/part=A")) == 1
    assert len(_files(path + "/part=B")) == 1
    assert _collect(spark, path) == before


def test_streaming_foreachbatch_upsert_ingest(spark, tmp_path):
    """Incremental ingest end-to-end: a file-source stream drives
    foreachBatch(upsert_by_key) into a partitioned Parquet table — the
    micro-batch CDC topology (at scale: Kafka source, same sink logic)."""
    table = str(tmp_path / "tbl")
    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    schema = "id long, part string, val double"

    overwrite_partitions_dynamic(_base_df(spark), table, ["part"])

    import os

    os.makedirs(src, exist_ok=True)
    updates = spark.createDataFrame(
        [(3, "A", -3.0), (12, "B", 120.0)], schema
    )
    updates.coalesce(1).write.mode("append").parquet(src)

    def apply_batch(batch_df, _batch_id):
        upsert_by_key(
            batch_df.sparkSession, table, batch_df, "id", ["part"]
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = _collect(spark, table)
    expect = {(k, "A", k * 10.0) for k in (1, 2, 4, 5)}
    expect |= {(3, "A", -3.0)}
    expect |= {(k, "B", k * 10.0) for k in range(6, 11)}
    expect |= {(12, "B", 120.0)}
    assert got == expect


def test_upsert_empty_updates_is_noop(spark, tmp_path):
    """An empty micro-batch (CDC replay/recovery) must not crash or
    rewrite anything."""
    path = str(tmp_path / "tbl")
    overwrite_partitions_dynamic(_base_df(spark), path, ["part"])
    before_rows = _collect(spark, path)
    before_files = _files(path)
    empty = spark.createDataFrame([], "id long, part string, val double")
    upsert_by_key(spark, path, empty, "id", ["part"])
    assert _collect(spark, path) == before_rows
    assert _files(path) == before_files


def test_upsert_detects_partition_moving_key(spark, tmp_path):
    """A key changing partition value violates the pruned-upsert
    contract; strict mode must fail fast instead of leaving a stale
    duplicate."""
    import pytest

    path = str(tmp_path / "tbl")
    overwrite_partitions_dynamic(_base_df(spark), path, ["part"])
    moving = spark.createDataFrame(
        [(3, "B", 999.0)], "id long, part string, val double"  # 3 lives in A
    )
    with pytest.raises(ValueError, match="changed partition value"):
        upsert_by_key(
            spark, path, moving, "id", ["part"],
            validate_partition_stability=True,
        )


def test_diff_tables_classifies_changes(spark):
    from pyspark.sql import functions as F

    from sparkify_datalake_spark.sources.sinks import diff_tables

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k long, name string, v double",
    )
    other = spark.createDataFrame(
        [
            (1, "a", 10.0),      # identical → absent from diff
            (2, "b", 21.0),      # changed value
            (3, "c", 30.0),      # NULL → value counts as changed
            (5, "e", 50.0),      # added
        ],                        # 4 removed
        "k long, name string, v double",
    )
    got = {
        r["k"]: r["change_type"]
        for r in diff_tables(base, other, ["k"]).collect()
    }
    assert got == {2: "changed", 3: "changed", 4: "removed", 5: "added"}


def test_diff_tables_shuffles_fingerprints_not_rows(spark):
    from sparkify_datalake_spark.sources.sinks import diff_tables

    base = spark.range(100).selectExpr(
        "id AS k", "CAST(id AS STRING) AS payload"
    )
    other = base.filter("k < 90")
    df = diff_tables(base, other, ["k"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    # each side collapses to (key, xxhash64 fingerprint) BEFORE the
    # join, so the shuffle carries 8-byte hashes, not payload columns
    assert "xxhash64" in plan
    assert sorted(r["k"] for r in df.collect()) == list(range(90, 100))
