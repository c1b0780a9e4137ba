"""Versioned table format (sources/versioned.py): time travel, atomic
commit claim, restore-as-roll-forward, vacuum."""

from __future__ import annotations

import os

import pytest

from sparkify_datalake_spark.sources import versioned as V


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "k")


def _ids(spark, path, version=None):
    return sorted(
        r["k"] for r in V.read_version(spark, path, version).collect()
    )


def test_append_overwrite_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert V.commit(_df(spark, 0, 5), t) == 0
    assert V.commit(_df(spark, 5, 8), t) == 1          # append
    assert V.commit(_df(spark, 100, 103), t, mode="overwrite") == 2
    # each version reads exactly its manifest's files
    assert _ids(spark, t, 0) == list(range(5))
    assert _ids(spark, t, 1) == list(range(8))
    assert _ids(spark, t, 2) == [100, 101, 102]
    assert _ids(spark, t) == [100, 101, 102]           # latest = v2
    assert [h["op"] for h in V.history(t)] == [
        "append", "append", "overwrite"
    ]


def test_uncommitted_data_dir_is_invisible(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.commit(_df(spark, 0, 3), t)
    # a crashed writer left data files but no manifest: readers of any
    # committed version must not see them
    _df(spark, 900, 903).write.parquet(os.path.join(t, "data/v00001"))
    assert _ids(spark, t) == [0, 1, 2]
    assert V.latest_version(t) == 0
    # and the next commit claims version 1 anyway (overwrites the orphan)
    V.commit(_df(spark, 3, 5), t)
    assert _ids(spark, t) == [0, 1, 2, 3, 4]


def test_version_claim_is_atomic(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.commit(_df(spark, 0, 3), t)
    # simulate a racing writer that claimed version 1 first
    racer = {"version": 1, "op": "append", "files": [], "n_new_files": 0}
    V._commit(t, 1, racer)
    with pytest.raises(V.VersionConflict):
        V._commit(t, 1, racer)


def test_restore_rolls_forward(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.commit(_df(spark, 0, 3), t)
    V.commit(_df(spark, 0, 99).filter("k >= 90"), t, mode="overwrite")
    new_v = V.restore(t, 0)
    assert new_v == 2
    assert _ids(spark, t) == [0, 1, 2]            # back to v0's content
    assert _ids(spark, t, 1) == list(range(90, 99))  # history intact
    assert V.history(t)[-1]["op"] == "restore(0)"


def test_vacuum_deletes_only_unreferenced(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.commit(_df(spark, 0, 3), t)                      # v0 → data/v00000
    V.commit(_df(spark, 3, 6), t)                      # v1 appends v00001
    V.commit(_df(spark, 50, 53), t, mode="overwrite")  # v2 → only v00002
    deleted = V.vacuum(t, keep_versions=1)
    # v2 references only data/v00002; the first two dirs go
    assert deleted == ["data/v00000", "data/v00001"]
    assert _ids(spark, t) == [50, 51, 52]
    # appends after vacuum keep working
    V.commit(_df(spark, 53, 55), t)
    assert _ids(spark, t) == [50, 51, 52, 53, 54]


def test_read_missing_version_raises(spark, tmp_path):
    t = str(tmp_path / "tbl")
    with pytest.raises(FileNotFoundError):
        V.read_version(spark, t)
    V.commit(_df(spark, 0, 2), t)
    with pytest.raises(FileNotFoundError):
        V.read_version(spark, t, 7)


def test_append_evolves_schema_additively(spark, tmp_path):
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    V.commit(_df(spark, 0, 3), t)
    V.commit(
        _df(spark, 3, 5).withColumn("tag", F.lit("new")), t
    )
    latest = V.read_version(spark, t)
    # union schema: old files surface the added column as NULL
    assert set(latest.columns) == {"k", "tag"}
    rows = {r["k"]: r["tag"] for r in latest.collect()}
    assert rows[0] is None and rows[4] == "new"
    # time travel to v0 yields the ORIGINAL schema, not the union
    assert V.read_version(spark, t, 0).columns == ["k"]

    # the new column FIRST: readers take the manifest's column order,
    # not the order the data files' footers happen to merge in
    t2 = str(tmp_path / "tbl2")
    V.commit(_df(spark, 0, 3), t2)
    V.commit(_df(spark, 3, 5).select(F.lit("new").alias("tag"), "k"), t2)
    latest = V.read_version(spark, t2)
    manifest_cols = [
        f.split(" ", 1)[0]
        for f in V._read_manifest(t2, 1)["schema"].split(", ")
    ]
    assert latest.columns == manifest_cols == ["tag", "k"]
    rows = {r["k"]: r["tag"] for r in latest.collect()}
    assert rows == {0: None, 1: None, 2: None, 3: "new", 4: "new"}
    assert V.read_version(spark, t2, 0).columns == ["k"]
    pruned = V.read_version_pruned(spark, t2, "k", 1, 3)
    assert pruned.columns == latest.columns
    assert set(pruned.collect()) == set(
        latest.where("k BETWEEN 1 AND 3").collect()
    ) == {("new", 3), (None, 1), (None, 2)}


def test_append_rejects_drops_and_type_changes(spark, tmp_path):
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    V.commit(_df(spark, 0, 3), t)
    with pytest.raises(ValueError, match="only ADD"):
        V.commit(_df(spark, 0, 1).select(F.lit("x").alias("other")), t)
    with pytest.raises(ValueError, match="type-changed"):
        V.commit(
            _df(spark, 0, 1).select(F.col("k").cast("string").alias("k")),
            t,
        )
    # overwrite legitimately rewrites the schema
    V.commit(
        _df(spark, 0, 2).select(F.col("k").cast("string").alias("k")),
        t,
        mode="overwrite",
    )
    assert V.read_version(spark, t).schema["k"].dataType.simpleString() \
        == "string"


def test_streaming_commits_one_version_per_batch(spark, tmp_path):
    """foreachBatch → versioned commit: each micro-batch is an atomic
    table version; readers can time-travel per batch, and a replayed
    batch_id is skipped (idempotent sink)."""
    import os

    t = str(tmp_path / "tbl")
    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    os.makedirs(src, exist_ok=True)
    schema = "k long"
    spark.createDataFrame([(0,), (1,)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = V.commit_stream(stream, t, chk)
    try:
        q.processAllAvailable()
        assert _ids(spark, t) == [0, 1]
        spark.createDataFrame([(2,)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        assert _ids(spark, t) == [0, 1, 2]
        v = V.latest_version(t)
        assert v == 1
        # per-batch time travel
        assert _ids(spark, t, 0) == [0, 1]
        # manifests record which micro-batch produced each version —
        # the idempotence key the sink's replay-skip consults
        assert V._read_manifest(t, 0)["batch_id"] == 0
        assert V._read_manifest(t, 1)["batch_id"] == 1
    finally:
        q.stop()


def test_streaming_replayed_batch_is_skipped(spark, tmp_path):
    """At-least-once delivery → exactly-once commits: re-delivering the
    batch_id the latest manifest already records must be a no-op."""
    import os

    t = str(tmp_path / "tbl")
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    schema = "k long"
    spark.createDataFrame([(0,)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = V.commit_stream(stream, t, str(tmp_path / "chk1"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert V.latest_version(t) == 0
    # a NEW query with a FRESH checkpoint re-delivers batch 0 (the
    # crash-and-lose-the-checkpoint scenario); the sink must skip it
    q2 = V.commit_stream(stream, t, str(tmp_path / "chk2"))
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert V.latest_version(t) == 0
    assert _ids(spark, t) == [0]


def test_vacuum_after_restore_keeps_restored_files(spark, tmp_path):
    """restore lists OLD data files in a NEW manifest — vacuum's kept
    horizon must therefore protect them while dropping the overwritten
    middle version's files."""
    t = str(tmp_path / "tbl")
    V.commit(_df(spark, 0, 3), t)                       # v0 → data/v00000
    V.commit(_df(spark, 50, 53), t, mode="overwrite")   # v1 → data/v00001
    V.restore(t, 0)                                     # v2 lists v00000
    deleted = V.vacuum(t, keep_versions=1)
    assert deleted == ["data/v00001"]
    assert _ids(spark, t) == [0, 1, 2]


def test_commit_records_file_stats_and_prunes_time_travel(spark, tmp_path):
    """File-skipping stats (VERDICT r4 #5 / r6 #5): commit records
    per-file column min/max in the manifest; a selective predicate on an
    OLD version reads strictly fewer files than the manifest lists, with
    results byte-identical to the unpruned read + filter."""
    t = str(tmp_path / "tbl")
    # v0: 4 range-disjoint files over k = 0..99 (repartitionByRange
    # gives each file a tight, non-overlapping [min, max] footer).
    V.commit(_df(spark, 0, 100).repartitionByRange(4, "k"), t)
    # v1: overwrite with entirely different data — the old version's
    # stats must keep serving time travel after the table moved on.
    V.commit(_df(spark, 1000, 1100).repartitionByRange(4, "k"), t,
             mode="overwrite")

    m0 = V._read_manifest(t, 0)
    assert len(m0["files"]) == 4
    assert set(m0["file_stats"]) == set(m0["files"])
    for f in m0["files"]:
        lo, hi = m0["file_stats"][f]["k"]
        assert 0 <= lo <= hi <= 99

    keep, all_files = V.prune_files(t, "k", 10, 15, version=0)
    assert len(all_files) == 4
    assert len(keep) < len(all_files), (
        f"selective predicate should skip files: kept {keep}"
    )
    pruned = sorted(
        r["k"]
        for r in V.read_version_pruned(spark, t, "k", 10, 15, 0).collect()
    )
    full = sorted(
        r["k"]
        for r in V.read_version(spark, t, 0)
        .where("k BETWEEN 10 AND 15").collect()
    )
    assert pruned == full == list(range(10, 16))


def test_pruning_is_conservative_without_stats(spark, tmp_path):
    """A manifest written before stats existed (or a column with no
    encodable bounds) must fall back to reading every file — never an
    empty result."""
    t = str(tmp_path / "tbl")
    V.commit(_df(spark, 0, 50).repartitionByRange(2, "k"), t)
    # simulate a pre-stats manifest
    m = V._read_manifest(t, 0)
    m.pop("file_stats")
    import json

    with open(V._manifest_path(t, 0), "w") as fh:
        json.dump(m, fh)
    keep, all_files = V.prune_files(t, "k", 0, 1, version=0)
    assert keep == all_files
    got = sorted(
        r["k"]
        for r in V.read_version_pruned(spark, t, "k", 0, 1, 0).collect()
    )
    assert got == [0, 1]


def test_stats_survive_append_restore_and_schema_evolution(spark, tmp_path):
    """Append carries the previous version's stats forward; files written
    BEFORE a column existed have no stats for it and are conservatively
    read; restore re-publishes the restored version's stats."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    V.commit(_df(spark, 0, 50).repartitionByRange(2, "k"), t)
    V.commit(
        _df(spark, 50, 100)
        .withColumn("extra", F.col("k") * 2)
        .repartitionByRange(2, "k"),
        t,
    )
    m1 = V._read_manifest(t, 1)
    assert set(m1["file_stats"]) == set(m1["files"])  # carried + new
    # pruning on `extra`: v0's files lack the column → must be read
    keep, all_files = V.prune_files(t, "extra", 100, 110, version=1)
    v0_files = set(V._read_manifest(t, 0)["files"])
    assert v0_files <= set(keep)
    got = sorted(
        r["k"]
        for r in V.read_version_pruned(spark, t, "extra", 100, 110, 1)
        .collect()
    )
    assert got == list(range(50, 56))
    # restore v0 → new version answers pruned reads from v0's stats
    v2 = V.restore(t, 0)
    keep2, all2 = V.prune_files(t, "k", 0, 5, version=v2)
    assert len(keep2) < len(all2)


def test_timestamp_stats_prune(spark, tmp_path):
    """Timestamp columns get usable stats (commit pins INT64
    TIMESTAMP_MICROS — INT96 carries no footer min/max) and the ISO
    encoding preserves order for the pruning comparison."""
    import datetime as dt

    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.timestamp_micros(
            (F.lit(1_700_000_000_000_000) + F.col("id") * 86_400_000_000)
            .cast("long")
        ).alias("ts"),
    ).repartitionByRange(4, "ts")
    V.commit(df, t)
    lo, hi = dt.datetime(2023, 11, 20), dt.datetime(2023, 11, 25)
    keep, all_files = V.prune_files(t, "ts", lo, hi, version=0)
    assert len(keep) < len(all_files) == 4
    n = V.read_version_pruned(spark, t, "ts", lo, hi, 0).count()
    full = (
        V.read_version(spark, t, 0)
        .where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
        .count()
    )
    assert n == full > 0


def test_read_schema_quotes_column_names(spark, tmp_path):
    """Readers scan with the manifest's schema, so a column name that is
    not a plain identifier (an unaliased aggregate's ``sum(k)``) must
    still read back."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    V.commit(_df(spark, 0, 4).groupBy(F.col("k") % 2).agg(F.sum("k")), t)
    got = V.read_version(spark, t)
    assert got.columns == ["(k % 2)", "sum(k)"]
    assert sorted(map(tuple, got.collect())) == [(0, 2), (1, 4)]
