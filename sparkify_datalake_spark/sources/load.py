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
    from pathlib import Path

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
    from pathlib import Path

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


def table_rows(sf_dir: str, name: str) -> int:
    """Row count of one fixture table straight from the parquet footer
    — zero Spark jobs (the catalog-statistics read a warehouse serves
    from its metastore). Returns 0 = "unknown" on any metadata failure,
    mirroring scan_width's contract: callers gate SHAPE choices on it
    and must treat 0 as "assume small" so a failure never forces the
    scale path at test scale.
    """
    from pathlib import Path

    try:
        import pyarrow.parquet as pq

        path = Path(sf_dir.rstrip("/")) / f"{name}.parquet"
        files = (
            sorted(path.glob("*.parquet")) if path.is_dir() else [path]
        )
        return sum(pq.ParquetFile(str(f)).metadata.num_rows for f in files)
    except (ImportError, OSError, ValueError, KeyError) as exc:
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


# Per-session relation cache: spark.read.parquet costs ~0.1 s per call
# (file listing + footer schema read through py4j), and a composite
# query loads 2-7 tables — that metadata tax dominated the low end of
# the per-query latency distribution. The cache plays the role a real
# lakehouse catalog/metastore plays at 100 TB: resolve the table's
# schema once, serve the immutable logical relation afterwards. Keyed
# by the live SparkSession (WeakKeyDictionary: a stopped/collected
# session drops its entries) and the corpus fingerprint (path + size +
# mtime), so regenerated fixtures invalidate instead of serving stale.
from weakref import WeakKeyDictionary

_RELATION_CACHE: "WeakKeyDictionary[SparkSession, dict]" = (
    WeakKeyDictionary()
)


def scan_width(sf_dir: str, name: str) -> int:
    """Effective scan parallelism of a fixture table: its total parquet
    row-group count. Parquet scan parallelism is capped by row groups,
    not planned splits (SURVEY §7.3) — Spark happily PLANS 32 splits
    over a 10-row-group file and leaves 22 of them empty, which is why
    a planned-partition count is a lying signal for the starvation
    gate below (hit round 9: the 64× orders file plans 32, delivers
    10, and the md5 ladder ran ~3× slow). Metadata-only; cached per
    corpus fingerprint."""
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    return _row_groups(path, corpus_fingerprint(sf_dir, name))


# One entry per (table file, snapshot): a table regenerated at the same
# path adds an entry, so the cache is bounded by least-recent use.
@functools.lru_cache(maxsize=256)
def _row_groups(path: str, fingerprint: str) -> int:
    """Row groups of the parquet file or directory at ``path``;
    ``fingerprint`` only keys the cache."""
    from pathlib import Path

    p = Path(path)
    # Metadata failures (missing pyarrow, unreadable footer, odd
    # layout) return 0 = "unknown" rather than a pessimistic 1: a
    # fake width-1 would silently turn the starvation gate into an
    # unconditional repartition(cores) shuffle. widen_if_starved
    # treats 0 as unknown and falls back to the planned-partition
    # signal. ArrowInvalid subclasses ValueError, so (OSError,
    # ValueError) covers corrupt/truncated footers.
    try:
        import pyarrow.parquet as pq

        files = p.glob("*.parquet") if p.is_dir() else [p]
        n = sum(pq.ParquetFile(str(f)).metadata.num_row_groups for f in files)
        return max(n, 1)
    except (ImportError, OSError, ValueError):
        return 0


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
    from pathlib import Path

    try:
        import pyarrow.parquet as pq

        path = Path(sf_dir.rstrip("/")) / f"{name}.parquet"
        files = (
            sorted(path.glob("*.parquet")) if path.is_dir() else [path]
        )
        lo = hi = None
        for f in files:
            pf = pq.ParquetFile(str(f))
            i = pf.schema_arrow.get_field_index(col)
            md = pf.metadata
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(i).statistics
                if st is None or not st.has_min_max:
                    return None
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        return None if lo is None else (lo, hi)
    except (ImportError, OSError, ValueError, KeyError):
        return None


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
    per_session = _RELATION_CACHE.setdefault(spark, {})
    key = (sf_dir.rstrip("/"), name, corpus_fingerprint(sf_dir, name))
    hit = per_session.get(key)
    if hit is not None:
        return hit
    configure_session(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = _events_from_nanos(df)
    per_session[key] = df
    return df


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
