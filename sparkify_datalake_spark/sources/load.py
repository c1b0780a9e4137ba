"""Table loader — the single entry point for reading fixture tables.

Every query goes through ``load(spark, sf_dir, name)``; this is the one
place that knows about the events nanosecond-timestamp workaround
(SURVEY.md §7.3-R1) and keeps session confs pinned.

Scale notes (100 TB): at cluster scale each ``name`` maps to a partitioned
directory (e.g. ``s3://lake/lineitem/l_shipdate_month=*/``) instead of one
file; ``spark.read.parquet`` handles both shapes unchanged, and partition
pruning + predicate pushdown reach the scan because queries filter on the
partition columns declaratively. Nothing in this module assumes
single-file inputs.
"""

from __future__ import annotations

import functools
from pathlib import Path
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkify_datalake_spark.session import configure_session

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _events_from_nanos(df: DataFrame) -> DataFrame:
    # With spark.sql.legacy.parquet.nanosAsLong=true the ns-precision `ts`
    # arrives as int64 epoch-nanos; truncate to microseconds (exactly what
    # DuckDB does when it reads the same file) and rebuild a timestamp.
    # Cast to TIMESTAMP_NTZ (identity under the pinned UTC session tz) so
    # events.ts has the same type family as the parquet ms-timestamps and
    # collects as naive datetimes like DuckDB's. Integer `div` is load-
    # bearing: epoch-nanos (~1.7e18) overflow a double's 53-bit mantissa,
    # so `/ 1000` + cast drifts the microseconds by ±1.
    return df.withColumn(
        "ts",
        F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
    )


def corpus_fingerprint(sf_dir: str, name: str) -> str:
    """Cheap identity of one fixture table: resolved path + file size +
    mtime, hashed. Derived artifacts (ANN indexes, dedup signature
    stores) fold this into their on-disk keys so regenerating the data
    at the same path invalidates them instead of silently serving stale
    answers. At cluster scale the analog is the table snapshot/commit id.
    """
    import hashlib

    p = Path(sf_dir.rstrip("/")).resolve() / f"{name}.parquet"
    try:
        st = p.stat()
        raw = f"{p}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        raw = str(p)
    return hashlib.md5(raw.encode()).hexdigest()[:10]


def snapshot_dir(root, sf_dir: str, name: str, version: str) -> str:
    """Directory of an artifact derived from one fixture table, keyed
    ``{dir}-{md5(resolved dir)[:10]}-{corpus_fingerprint}-{version}``
    under ``root``: regenerating the table at the same path, or bumping
    the artifact's ``version``, gives a new key instead of serving a
    stale artifact.

    Sibling dirs with the same ``{dir}-{md5}-`` prefix and another
    suffix are superseded (an older snapshot or layout of the same
    corpus path) and are deleted here, before a build can publish the
    new key, so the root keeps one artifact per corpus path. The key's
    own ``.staging``/``.old`` dirs are left for ``sinks.recover_dir``.
    """
    import hashlib
    import shutil

    resolved = Path(sf_dir).resolve()
    prefix = (
        f"{resolved.name}-"
        f"{hashlib.md5(str(resolved).encode()).hexdigest()[:10]}-"
    )
    key = f"{prefix}{corpus_fingerprint(sf_dir, name)}-{version}"
    root = Path(root)
    if root.is_dir():
        for old in root.iterdir():
            own = old.name == key or old.name.startswith(key + ".")
            if old.name.startswith(prefix) and not own:
                shutil.rmtree(old, ignore_errors=True)
    return str(root / key)


# The snapshot rule for everything cached from a fixture table: a hit
# needs the table's current ``corpus_fingerprint`` (path + size +
# mtime), so a table regenerated at the same path is rebuilt, never
# served stale. Spark frames (relations, the shared token grain) live
# per session in ``_RELATION_CACHE``, session -> {(dir, name, what):
# (fingerprint, frame)}, where a new snapshot replaces its entry; the
# relation alone saves ``spark.read.parquet``'s ~0.1 s of listing and
# footer-schema read per call, a metastore's job at lake scale. Footer
# metadata is driver data, kept per process by ``_footers`` (keyed by
# the fingerprint; stale entries age out of the bounded LRU).
_RELATION_CACHE: "WeakKeyDictionary[SparkSession, dict]" = (
    WeakKeyDictionary()
)


def session_frame(
    spark: SparkSession, sf_dir: str, name: str, what: str, build
) -> DataFrame:
    """The frame ``build()`` derives from fixture table ``name``,
    cached in ``spark``'s session under the snapshot rule above: one
    entry per (table, ``what``), rebuilt when the table changes."""
    per_session = _RELATION_CACHE.setdefault(spark, {})
    key = (sf_dir.rstrip("/"), name, what)
    fingerprint = corpus_fingerprint(sf_dir, name)
    hit = per_session.get(key)
    if hit is not None and hit[0] == fingerprint:
        return hit[1]
    frame = build()
    per_session[key] = (fingerprint, frame)
    return frame


# Footer-metadata failures: no pyarrow, a missing or corrupt file
# (ArrowInvalid is a ValueError), an absent or nested column.
_METADATA_ERRORS = (ImportError, OSError, ValueError, KeyError)


@functools.lru_cache(maxsize=256)
def _footers(path: str, fingerprint: str) -> tuple:
    """``FileMetaData`` of every parquet file of the table at ``path``
    (one file or a directory of part files). ``fingerprint`` only keys
    the cache; a failed read raises, so it is never cached."""
    import pyarrow.parquet as pq

    p = Path(path)
    files = sorted(p.glob("*.parquet")) if p.is_dir() else [p]
    return tuple(pq.ParquetFile(str(f)).metadata for f in files)


def _table_footers(sf_dir: str, name: str) -> tuple:
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    return _footers(path, corpus_fingerprint(sf_dir, name))


def table_rows(sf_dir: str, name: str) -> int:
    """Row count of one fixture table straight from the parquet footer
    — zero Spark jobs (the catalog-statistics read a warehouse serves
    from its metastore). Returns 0 = "unknown" on any metadata failure,
    mirroring scan_width's contract: callers gate SHAPE choices on it
    and must treat 0 as "assume small" so a failure never forces the
    scale path at test scale.
    """
    try:
        return sum(md.num_rows for md in _table_footers(sf_dir, name))
    except _METADATA_ERRORS as exc:
        # 0 = "assume small" keeps correctness but silently routes
        # scale-gated queries to the single-task plans; make the miss
        # observable (ADVICE r11) without changing the contract.
        import warnings

        warnings.warn(
            f"table_rows({name}): parquet metadata read failed ({exc!r});"
            " returning 0 = 'assume small' — scale-gated plans will take"
            " their small-input shape",
            RuntimeWarning,
            stacklevel=2,
        )
        return 0


def scan_width(sf_dir: str, name: str) -> int:
    """Effective scan parallelism of a fixture table: its total parquet
    row-group count. Parquet scan parallelism is capped by row groups,
    not planned splits (SURVEY §7.3) — Spark happily PLANS 32 splits
    over a 10-row-group file and leaves 22 of them empty, which is why
    a planned-partition count is a lying signal for the starvation
    gate below (hit round 9: the 64× orders file plans 32, delivers
    10, and the md5 ladder ran ~3× slow). Metadata-only.

    A metadata failure returns 0 = "unknown" rather than a pessimistic
    1: a fake width-1 would silently turn the starvation gate into an
    unconditional repartition(cores) shuffle. widen_if_starved treats 0
    as unknown and falls back to the planned-partition signal."""
    try:
        n = sum(md.num_row_groups for md in _table_footers(sf_dir, name))
    except _METADATA_ERRORS:
        return 0
    return max(n, 1)


def column_minmax(sf_dir: str, name: str, col: str):
    """(min, max) of one column straight from the parquet row-group
    statistics — the same footer metadata predicate pushdown evaluates,
    so a driver-held bound derived here costs ZERO Spark jobs (the
    catalog/statistics path a warehouse would use). Returns None when
    any row group lacks min/max stats (or any metadata failure), and
    callers must then fall back to a Spark aggregate; values arrive as
    pyarrow's Python scalars (datetime for timestamp columns — fixture
    timestamps are naive/UTC, matching the pinned session timezone).

    Correct at any scale: folds min-of-mins / max-of-maxes across every
    row group of every file, no data read.
    """
    lo = hi = None
    try:
        for md in _table_footers(sf_dir, name):
            i = [c.path for c in md.schema].index(col)
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(i).statistics
                if st is None or not st.has_min_max:
                    return None
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
    except _METADATA_ERRORS:
        return None
    return None if lo is None else (lo, hi)


def widen_if_starved(
    spark: SparkSession,
    df: DataFrame,
    width: int | None = None,
    want: int | None = None,
) -> DataFrame:
    """Round-robin repartition a frame whose SCAN parallelism is
    starved by the physical file layout.

    Parquet scan parallelism is capped by row-group count, not split
    count (SURVEY §7.3): a small fixture written as one 128 MB row
    group runs every downstream per-row expression single-threaded, a
    pathology AQE cannot fix because it only replans shuffles. For
    per-row-CPU-heavy aggregates (decimal money sums, md5 ladders) the
    established in-repo remedy is an explicit spread before the work
    (stat_bootstrap_ci, agg_bloom_runtime_filter); this helper gates
    that spread on the frame actually being starved, so at production
    layouts (128 MB groups × thousands of files — always ≥ cores-wide)
    it is a metadata check and a no-op: no shuffle is added at 100 TB.

    ``width``: the caller's best estimate of true scan parallelism —
    pass ``scan_width(sf_dir, table)`` (row-group count); the planned-
    partition fallback OVERCOUNTS when splits exceed row groups.
    ``want``: the parallelism worth shuffling for — defaults to
    cores//4 (a scan at a quarter of the machine amortizes cheap
    per-row work; widening a 12-partition 38M-row scan regressed
    agg_weighted_avg 3.2 → 4.4 s at the 64× probe). Callers whose
    per-row cost dwarfs a 2-column shuffle write (the md5 weight
    ladder: measured 24.6 s vs 37.3 s at 64× when left 10-wide) pass
    ``want=cores`` for the full spread.
    """
    cores = spark.sparkContext.defaultParallelism
    if want is None:
        want = max(cores // 4, 2)
    if not width:
        # None (caller has no estimate) or 0 (scan_width metadata
        # failure): use the planned-partition count. It OVERCOUNTS
        # when splits exceed row groups, so this fallback can only
        # under-widen — never adds a shuffle the metadata would skip.
        width = df.rdd.getNumPartitions()
    if width < want:
        return df.repartition(cores)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame with normalized types.

    ``events.ts`` comes back as a proper microsecond TIMESTAMP_NTZ; all
    other tables are returned exactly as stored.
    """

    def build() -> DataFrame:
        configure_session(spark)
        df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = _events_from_nanos(df)
        return df

    return session_frame(spark, sf_dir, name, "relation", build)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over rows the driver already holds, planned as a JVM
    ``LocalTableScan``.

    ``rows`` is a sequence of tuples (or Rows) in ``schema`` order;
    ``schema`` is a StructType or a DDL string. The rows become one
    pyarrow table (``to_arrow_schema(schema)``) that
    ``spark.createDataFrame`` ships to the JVM as a local relation.
    ``spark.createDataFrame(<python list>, schema)`` would instead plan
    a pickled Python RDD (``Scan ExistingRDD``), whose every job starts
    Python worker tasks only to decode rows (their cost: ``session.py``
    notes). ``tests/test_plans.py`` checks long, int, double, string,
    date, ``array<double>``, NULLs and an empty row list.

    Not for naive ``TimestampType`` values: the list path converts them
    in the Python process's local time zone, while Arrow reads them as
    UTC wall time, so the two differ under e.g. ``TZ=America/New_York``.
    ``streaming/runtime.write_replay_batch`` keeps the list path for
    that reason.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
