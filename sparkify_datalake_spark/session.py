"""SparkSession factory + session configuration (SURVEY.md §4).

Two entry points:

- ``get_spark()`` builds a session for local runs (tests, bench) with the
  pinned configs below.
- ``configure_session(spark)`` applies the runtime-settable subset to an
  *externally provided* session (the correctness driver builds its own
  SparkSession and passes it in) — verified runtime-settable on PySpark
  4.1.2: ``spark.sql.legacy.parquet.nanosAsLong``,
  ``spark.sql.session.timeZone``.

Scale notes (100 TB): the configs below are correctness-pinning, not
cluster sizing. On a real cluster the same code runs with
``spark.sql.shuffle.partitions`` sized to ~128 MB-per-task post-shuffle,
AQE left on (runtime coalescing + skew-join splitting), and
``spark.sql.files.maxPartitionBytes`` at the default 128 MB so a 100 TB
scan fans out to ~800k input splits across executors.

File listing: above ``spark.sql.sources.parallelPartitionDiscovery.threshold``
paths (default 32), Spark lists a read's directories in a Spark job with
one task per directory. On a local master those tasks run on the
driver's own cores, so the job buys no parallelism and costs the
per-job floor on every read of a partitioned table (about 0.55 s for a
98-day view on 4 CPUs). ``get_spark()`` therefore pins the threshold high
for local masters, so listing happens in the driver. A cluster session —
a non-local master, or a session passed in from outside — keeps Spark's
default, where distributed listing of many directories pays off.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Applied at build time AND re-applied (best effort) to foreign sessions.
RUNTIME_CONFS: dict[str, str] = {
    # Determinism: DuckDB naive TIMESTAMP == Spark timestamp_ntz under UTC.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS) which Spark cannot read
    # natively (PARQUET_TYPE_ILLEGAL); read as epoch-nano int64 instead and
    # convert in the loader (sources/load.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow exchange for pandas UDFs / applyInPandas / mapInPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "*")


def _shuffle_partitions() -> str:
    # local[32] default: 32 partitions keeps every core busy without the
    # 200-partition default's pure scheduling overhead at test scale.
    return os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")


# Paths a read lists in the driver before Spark lists them in a job;
# pinned for local masters only (see the module notes).
_LOCAL_LISTING_THRESHOLD = "1000000"


def get_spark(app_name: str = "sparkify-datalake-spark") -> SparkSession:
    """Build (or reuse) the engine's local SparkSession."""
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{_cpus()}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", _shuffle_partitions())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            _LOCAL_LISTING_THRESHOLD,
        )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    configure_session(spark)
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to any session (driver-provided or ours).

    Idempotent and cheap; every loader call routes through this so queries
    behave identically regardless of who built the session.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf on this build — get_spark() sessions already have
            # it; a foreign session without it will fail loudly at read time.
            pass
    return spark
