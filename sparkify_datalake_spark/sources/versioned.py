"""Versioned table format: manifest-tracked Parquet with time travel
(SURVEY §2-A lakehouse addendum; the design follows the public
Delta/Iceberg model — a table IS its log of manifests, data files are
immutable, commits are atomic manifest swaps).

Layout under the table root::

    data/v00000/<token>/part-*.parquet  immutable, one dir per attempt
    _manifests/v00000.json              ordered file list + metadata

A reader resolves a *version* to its manifest and scans exactly the
files it lists — uncommitted/orphaned data directories are invisible,
which is what makes writes atomic: readers never see a half-written
commit because the manifest only appears after its data files are fully
on disk.

Commit protocol (single filesystem): write data files → write manifest
to a temp name → ``os.link`` to the final version path. The hard link
FAILS if the version already exists, which makes the claim atomic —
two concurrent writers racing to commit version N cannot both succeed
(optimistic concurrency, the loser retries on the next version). Each
attempt writes into its own ``data/vNNNNN/<token>`` dir, so a loser
never touches the files of the writer that won its version. On an
object store the link step becomes a conditional put (if-none-match) —
same protocol, different primitive.

Rollback is roll-FORWARD: restoring version V writes a new manifest
N+1 listing V's files (like Delta RESTORE) — history is never rewritten
and data files are never deleted by restore. ``vacuum`` deletes data
dirs unreferenced by any manifest ≥ the given horizon.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from sparkify_datalake_spark.sources.load import local_frame


class VersionConflict(Exception):
    """Another writer committed this version first; retry at latest+1."""


def _enc_bound(v):
    """JSON-encodable, ORDER-PRESERVING encoding of a footer bound.

    ints/floats/strs/bools pass through; datetimes/dates become ISO
    strings with a fixed timespec (so lexicographic order == temporal
    order); anything else (bytes, nested) returns None → no stat
    recorded → the file is conservatively always read.
    """
    import datetime as dt

    if isinstance(v, bool) or isinstance(v, (int, float, str)):
        return v
    if isinstance(v, dt.datetime):
        return v.isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    return None


def _write_data_files(df: DataFrame, data_dir: str) -> None:
    """Write a commit's data files with INT64 TIMESTAMP_MICROS pinned:
    the INT96 legacy type (still Spark's default output) carries no
    usable parquet min/max statistics, which would silently void file
    skipping for every timestamp column. Session conf is restored."""
    conf = df.sparkSession.conf
    key = "spark.sql.parquet.outputTimestampType"
    old = conf.get(key, None)
    conf.set(key, "TIMESTAMP_MICROS")
    try:
        df.write.parquet(data_dir)
    finally:
        if old is None:
            conf.unset(key)
        else:
            conf.set(key, old)


def _collect_file_stats(
    data_dir: str, data_rel: str, cols: list[str]
) -> dict[str, dict[str, list]]:
    """Per-file {col: [min, max]} for the files just written to
    `data_dir`, keyed by manifest-relative path. Reuses the z-order
    footer-stats reader (sources/zorder.py) — pure pyarrow metadata
    reads, no Spark job, no data pages — which is exactly the cost
    model Delta/Iceberg pay to fill their stats manifests at commit."""
    from sparkify_datalake_spark.sources.zorder import file_column_bounds

    stats: dict[str, dict[str, list]] = {}
    for b in file_column_bounds(data_dir, cols):
        enc = {}
        for col, bound in b.items():
            if col == "file":
                continue
            elo, ehi = _enc_bound(bound[0]), _enc_bound(bound[1])
            if elo is not None and ehi is not None:
                enc[col] = [elo, ehi]
        if enc:
            stats[f"{data_rel}/{b['file']}"] = enc
    return stats


def _schema_fields(manifest: dict) -> list[tuple[str, str]]:
    """(name, type) pairs of the manifest's ``name type, ...`` schema.
    The type is the last word: a column name may hold spaces
    (``(k % 2)``), a parquet-writable type's simple string holds none
    unless a nested field's name does."""
    return [
        tuple(f.rsplit(" ", 1)) for f in manifest["schema"].split(", ")
    ]


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_manifest_dir(path), f"v{version:05d}.json")


def latest_version(path: str) -> int | None:
    """Highest committed version, or None for an empty/new table."""
    mdir = _manifest_dir(path)
    if not os.path.isdir(mdir):
        return None
    versions = [
        int(f[1:6])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions) if versions else None


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as fh:
        return json.load(fh)


def _list_parquet_files(data_dir: str) -> list[str]:
    return sorted(
        f for f in os.listdir(data_dir)
        if f.endswith(".parquet") and not f.startswith(".")
    )


def _commit(path: str, version: int, manifest: dict) -> None:
    """Atomically claim `version` with `manifest` (link-as-CAS)."""
    mdir = _manifest_dir(path)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".tmp-v{version:05d}-{os.getpid()}")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, _manifest_path(path, version))  # fails iff exists
    except FileExistsError as exc:
        raise VersionConflict(
            f"version {version} already committed at {path}"
        ) from exc
    finally:
        os.unlink(tmp)


def commit(df: DataFrame, path: str, mode: str = "append") -> int:
    """Commit a DataFrame as the table's next version; returns it.

    ``mode="append"`` carries the previous version's files forward plus
    the new ones; ``mode="overwrite"`` lists only the new files (old
    data files remain on disk — earlier versions still read them).

    Schema evolution: an append whose DataFrame carries NEW columns is
    legal — the manifest records each version's schema (DDL string) and
    readers scan with it, so old files surface the new columns as NULL.
    Dropping or type-changing an existing column in append mode raises
    (that is an overwrite/rewrite, as in Delta/Iceberg).
    """
    return _commit_frame(df, path, mode, {})


def _commit_frame(df: DataFrame, path: str, mode: str, meta: dict) -> int:
    """The one write path of ``commit`` and ``commit_stream``: check
    the schema, write the data files, collect their stats and claim the
    next version with a manifest that also carries ``meta``."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    prev = latest_version(path)
    version = 0 if prev is None else prev + 1
    carried = (
        _read_manifest(path, prev)
        if mode == "append" and prev is not None
        else None
    )
    if carried is not None:
        prev_fields = dict(_schema_fields(carried))
        new_fields = {f.name: f.dataType.simpleString() for f in df.schema}
        missing = set(prev_fields) - set(new_fields)
        changed = {
            k for k in set(prev_fields) & set(new_fields)
            if prev_fields[k] != new_fields[k]
        }
        if missing or changed:
            raise ValueError(
                "append may only ADD columns; dropped="
                f"{sorted(missing)} type-changed={sorted(changed)} — "
                "use mode='overwrite' to rewrite the schema"
            )
    data_rel = f"data/v{version:05d}/{os.urandom(4).hex()}"
    data_dir = os.path.join(path, data_rel)
    _write_data_files(df, data_dir)
    new_files = [f"{data_rel}/{f}" for f in _list_parquet_files(data_dir)]
    new_stats = _collect_file_stats(
        data_dir, data_rel, [f.name for f in df.schema]
    )
    files, file_stats = new_files, new_stats
    if carried is not None:
        files = carried["files"] + new_files
        file_stats = {**carried.get("file_stats", {}), **new_stats}
    schema_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema
    )
    _commit(
        path,
        version,
        {"version": version, "op": mode, "files": files,
         "n_new_files": len(new_files), "schema": schema_ddl,
         "file_stats": file_stats, **meta},
    )
    return version


def _manifest_at(path: str, version: int | None) -> dict:
    """The manifest of `version` (default: latest)."""
    v = latest_version(path) if version is None else version
    if v is None or not os.path.exists(_manifest_path(path, v)):
        raise FileNotFoundError(f"no committed version {version} at {path}")
    return _read_manifest(path, v)


def _read_schema(manifest: dict) -> str:
    """The manifest's schema as a reader DDL, every name back-quoted so
    that names like ``sum(x)`` or ``(k % 2)`` parse."""
    return ", ".join(
        "`{}` {}".format(name.replace("`", "``"), dtype)
        for name, dtype in _schema_fields(manifest)
    )


def _scan(
    spark: SparkSession, path: str, manifest: dict, files: list[str]
) -> DataFrame:
    """Scan `files` with the schema the manifest records, as Delta
    readers take theirs from ``metaData``: no footer-inference job runs,
    columns come in the manifest's order, and files written before an
    additive schema change surface the newer columns as NULL. An OLD
    version reads its own, older schema."""
    return spark.read.schema(_read_schema(manifest)).parquet(
        *[os.path.join(path, f) for f in files]
    )


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the table at a version (default: latest) — time travel.

    Scans exactly the manifest's file list; files from later commits
    (or uncommitted data dirs) are invisible at this version.
    """
    m = _manifest_at(path, version)
    if not m["files"]:
        raise FileNotFoundError(
            f"version {m['version']} at {path} lists no files"
        )
    return _scan(spark, path, m, m["files"])


def prune_files(
    path: str, col: str, lo, hi, version: int | None = None
) -> tuple[list[str], list[str]]:
    """The manifest-stats skipping decision for a [lo, hi] filter on
    `col` at a version: returns (files_to_read, all_files). A file with
    no recorded stats for `col` (pre-stats manifest, unencodable type,
    or a schema-evolution file written before the column existed) is
    conservatively read. Pure manifest read — no footer I/O, no Spark
    job: the whole point of recording stats AT COMMIT time is that
    time-travel reads skip files from the manifest alone, exactly as
    Delta/Iceberg serve pruned reads from their stats manifests."""
    m = _manifest_at(path, version)
    stats = m.get("file_stats", {})
    elo, ehi = _enc_bound(lo), _enc_bound(hi)
    keep = []
    for f in m["files"]:
        b = stats.get(f, {}).get(col)
        if b is None or elo is None or ehi is None:
            keep.append(f)  # no stats → must read
        elif not (b[1] < elo or b[0] > ehi):
            keep.append(f)
    return keep, m["files"]


def read_version_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Time-travel read serving only the files whose committed [min,max]
    stats for `col` intersect [lo, hi], with the filter re-applied for
    exactness — byte-identical to read_version().filter(...), minus the
    skipped files' I/O."""
    from pyspark.sql import functions as F

    m = _manifest_at(path, version)
    keep, _all = prune_files(path, col, lo, hi, m["version"])
    if not keep:
        return local_frame(spark, [], _read_schema(m))
    pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    return _scan(spark, path, m, keep).filter(pred)


def restore(path: str, version: int) -> int:
    """Roll the table back to `version` by committing a new manifest
    with that version's file list (history preserved); returns the new
    version number."""
    target = _read_manifest(path, version)
    new_version = latest_version(path) + 1
    _commit(
        path,
        new_version,
        {"version": new_version, "op": f"restore({version})",
         "files": target["files"], "n_new_files": 0,
         "schema": target["schema"],
         "file_stats": target.get("file_stats", {})},
    )
    return new_version


def history(path: str) -> list[dict]:
    """Commit log, oldest first: version, op, file count."""
    last = latest_version(path)
    if last is None:
        return []
    return [
        {
            "version": m["version"],
            "op": m["op"],
            "n_files": len(m["files"]),
        }
        for m in (_read_manifest(path, v) for v in range(last + 1))
    ]


def vacuum(path: str, keep_versions: int = 1) -> list[str]:
    """Delete data dirs referenced by NO manifest in the kept horizon
    (the newest `keep_versions` manifests plus nothing else — older
    manifests become unreadable, as after Delta VACUUM). Returns the
    deleted ``data/vNNNNN`` dirs. A lost race's attempt dir inside a
    live version dir goes with that dir. Never touches the manifest log
    itself."""
    import shutil

    last = latest_version(path)
    if last is None:
        return []
    keep = range(max(0, last - keep_versions + 1), last + 1)
    live = {
        "/".join(f.split("/")[:2])  # data/vNNNNN
        for v in keep
        for f in _read_manifest(path, v)["files"]
    }
    deleted = []
    data_root = os.path.join(path, "data")
    for d in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
        rel = f"data/{d}"
        if rel not in live:
            shutil.rmtree(os.path.join(data_root, d))
            deleted.append(rel)
    return deleted


def commit_stream(
    df: "DataFrame", path: str, checkpoint: str, mode: str = "append"
):
    """Sink a streaming DataFrame into a versioned table: every
    micro-batch becomes one atomic table version via foreachBatch.

    Exactly-once composition: Structured Streaming's checkpoint
    guarantees each batch_id is DELIVERED at least once; the manifest
    records which batch_id produced each version, and a replayed batch
    (same batch_id as the table's last commit) is skipped — together
    that upgrades at-least-once delivery to exactly-once table commits,
    the same idempotent-sink contract Delta's streaming writer
    implements. Readers meanwhile time-travel per micro-batch. A batch
    commits through ``commit``'s own write path, so appends keep the
    additive-only schema rule.

    One writer per table: the replay check consults only the LATEST
    manifest, which is sound for a single streaming query (batch ids
    are monotone, so a replay is always of the last commit). Two
    streams interleaving commits on one table would defeat it — run
    one writer, as with any streaming table sink.
    """

    def commit_batch(batch_df, batch_id: int) -> None:
        last = latest_version(path)
        if last is not None and (
            _read_manifest(path, last).get("batch_id") == batch_id
        ):
            return  # replayed batch after a crash — already committed
        _commit_frame(batch_df, path, mode, {"batch_id": batch_id})

    return (
        df.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )
