"""Deterministic scale-probe fixture generator (VERDICT r3 item #3).

The driver fixtures stop at sf0.1; the 100 TB claims need measured
scaling curves beyond that. This module synthesizes sf0.1-shaped
`documents` / `embeddings` / `events` / `lineitem` tables at arbitrary
row counts under /tmp — seed-pinned pure column expressions (xxhash64
of the row id), so the same (dir, sizes) request always produces
byte-identical data and a generated dir is reusable across runs.

NOT a replacement for /root/testdata (which is read-only driver truth):
value domains mirror FIXTURES.md closely enough that every registry
query's assumptions hold (2dp money doubles, 20 sources, 5 langs,
vocab'd word-salad text with planted near-duplicate groups, ~4 lines
per order, user co-presence graph density), but values are NOT the
driver's.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_VOCAB = [
    "spark", "table", "query", "hash", "line", "slow", "fast", "scan",
    "order", "window", "join", "part", "vector", "small", "data", "row",
    "key", "group", "value", "filter", "stream", "merge", "sort", "agg",
    "batch", "column", "customer", "big", "the", "a",
]
_LANGS = ["en", "de", "fr", "zh", "es"]
_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = [
    "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY",
]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]
_ADJ = ["cold", "hot", "blue", "old", "large", "red", "dim", "new"]
_NOUN = ["widget", "ring", "bolt", "plate", "gear", "cap", "rod", "pin"]

_MARKER = "_PROBE_OK"


def _h(col, salt: int):
    return F.xxhash64(col, F.lit(salt))


def _pm(col, salt: int, mod: int):
    return F.pmod(_h(col, salt), F.lit(mod))


def gen_documents(spark: SparkSession, n: int) -> DataFrame:
    """Word-salad docs, ~300 chars, with planted near-dup groups: ids
    with id%20∈{0,1,2} share a group text (seeded by the group head);
    members 1 and 2 append a small per-id suffix → near- not exact-dups.
    """
    base = spark.range(n).select(F.col("id").alias("doc_id"))
    in_group = F.pmod("doc_id", 20) < 3
    seed = F.when(
        in_group, F.col("doc_id") - F.pmod("doc_id", 20)
    ).otherwise(F.col("doc_id"))
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    n_words = (F.pmod(_h(seed, 1), F.lit(80)) + 10).cast("int")
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.element_at(
            vocab, (F.pmod(F.xxhash64(seed, i, F.lit(2)), F.lit(30)) + 1).cast("int")
        ),
    )
    suffix = F.when(
        in_group & (F.pmod("doc_id", 20) > 0),
        F.concat(F.lit(" extra"), F.pmod("doc_id", 7).cast("string")),
    ).otherwise(F.lit(""))
    text = F.concat(F.array_join(words, " "), suffix)
    return base.select(
        "doc_id",
        text.alias("text"),
        F.element_at(
            F.array(*[F.lit(x) for x in _LANGS]),
            (_pm(F.col("doc_id"), 3, 5) + 1).cast("int"),
        ).alias("lang"),
        F.concat(F.lit("src"), F.pmod("doc_id", 20).cast("string")).alias(
            "source"
        ),
        F.length(text).alias("n_chars"),
    )


def gen_embeddings(spark: SparkSession, n: int) -> DataFrame:
    """64-dim float vectors, uniform-ish in [-2, 2], 10 labels."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: (
                (F.pmod(F.xxhash64("id", i), F.lit(4000)) - 2000) / 1000.0
            ).cast("float"),
        ).alias("embedding"),
        _pm(F.col("id"), 5, 10).cast("int").alias("label"),
    )


def gen_events(spark: SparkSession, n: int, n_users: int) -> DataFrame:
    """30 days of events, µs timestamps (load() handles both µs and the
    driver's ns-as-long), JSON props."""
    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC
    us = F.lit(base_us) + _pm(F.col("id"), 7, 30 * 86400) * 1_000_000 + _pm(
        F.col("id"), 8, 1_000_000
    )
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(us).cast("timestamp_ntz").alias("ts"),
        _pm(F.col("id"), 9, n_users).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(x) for x in _TYPES]),
            (_pm(F.col("id"), 10, 5) + 1).cast("int"),
        ).alias("event_type"),
        (_pm(F.col("id"), 11, 100000) / 100.0).alias("value"),
        F.concat(
            F.lit('{"k": '), _pm(F.col("id"), 12, 100).cast("string"), F.lit("}")
        ).alias("props"),
    )


def gen_lineitem(spark: SparkSession, n: int, n_parts: int) -> DataFrame:
    """~4 lines/order, 2dp money doubles, TPC-H-ish domains."""
    day_us = 86_400_000_000
    base_us = 788_918_400_000_000  # 1995-01-02 UTC
    return spark.range(n).select(
        (F.col("id") / 4).cast("long").alias("l_orderkey"),
        _pm(F.col("id"), 13, n_parts).alias("l_partkey"),
        _pm(F.col("id"), 14, max(n_parts // 20, 1)).alias("l_suppkey"),
        (F.pmod("id", 4) + 1).cast("int").alias("l_linenumber"),
        (_pm(F.col("id"), 15, 50) + 1).cast("double").alias("l_quantity"),
        (_pm(F.col("id"), 16, 9_000_000) / 100.0 + 900.0).alias(
            "l_extendedprice"
        ),
        (_pm(F.col("id"), 17, 11) / 100.0).alias("l_discount"),
        (_pm(F.col("id"), 18, 9) / 100.0).alias("l_tax"),
        F.element_at(
            F.array(F.lit("A"), F.lit("N"), F.lit("R")),
            (_pm(F.col("id"), 19, 3) + 1).cast("int"),
        ).alias("l_returnflag"),
        F.element_at(
            F.array(F.lit("F"), F.lit("O")),
            (_pm(F.col("id"), 20, 2) + 1).cast("int"),
        ).alias("l_linestatus"),
        F.timestamp_micros(
            F.lit(base_us) + _pm(F.col("id"), 21, 2500) * day_us
        ).cast("timestamp_ntz").alias("l_shipdate"),
    )


def gen_region(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(i, n) for i, n in enumerate(_REGIONS)],
        "r_regionkey int, r_name string",
    )


def gen_nation(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(i, f"NATION_{i}", i % 5) for i in range(25)],
        "n_nationkey int, n_name string, n_regionkey int",
    )


def gen_customer(spark: SparkSession, n: int) -> DataFrame:
    return spark.range(n).select(
        F.col("id").alias("c_custkey"),
        F.format_string("Customer#%09d", F.col("id")).alias("c_name"),
        _pm(F.col("id"), 30, 25).cast("int").alias("c_nationkey"),
        (_pm(F.col("id"), 31, 1_100_000) / 100.0 - 1000.0).alias(
            "c_acctbal"
        ),
        F.element_at(
            F.array(*[F.lit(s) for s in _SEGMENTS]),
            (_pm(F.col("id"), 32, 5) + 1).cast("int"),
        ).alias("c_mktsegment"),
    )


def gen_supplier(spark: SparkSession, n: int) -> DataFrame:
    return spark.range(n).select(
        F.col("id").alias("s_suppkey"),
        F.format_string("Supplier#%09d", F.col("id")).alias("s_name"),
        _pm(F.col("id"), 33, 25).cast("int").alias("s_nationkey"),
        (_pm(F.col("id"), 34, 1_100_000) / 100.0 - 1000.0).alias(
            "s_acctbal"
        ),
    )


def gen_part(spark: SparkSession, n: int) -> DataFrame:
    adj = F.array(*[F.lit(w) for w in _ADJ])
    noun = F.array(*[F.lit(w) for w in _NOUN])
    return spark.range(n).select(
        F.col("id").alias("p_partkey"),
        F.concat_ws(
            " ",
            F.element_at(adj, (_pm(F.col("id"), 35, 8) + 1).cast("int")),
            F.element_at(noun, (_pm(F.col("id"), 36, 8) + 1).cast("int")),
        ).alias("p_name"),
        F.concat(
            F.lit("Brand#"), (_pm(F.col("id"), 37, 25) + 1).cast("string")
        ).alias("p_brand"),
        F.element_at(
            F.array(*[F.lit(t) for t in _PTYPES]),
            (_pm(F.col("id"), 38, 6) + 1).cast("int"),
        ).alias("p_type"),
        (_pm(F.col("id"), 39, 50) + 1).cast("int").alias("p_size"),
        (_pm(F.col("id"), 40, 10_000) / 100.0 + 900.0).alias(
            "p_retailprice"
        ),
    )


def gen_orders(spark: SparkSession, n: int, n_cust: int) -> DataFrame:
    """One order per lineitem group (lineitem keys are id/4 → orders
    row count must be lineitem/4 for referential integrity)."""
    day_us = 86_400_000_000
    base_us = 788_918_400_000_000  # 1995-01-01 UTC
    return spark.range(n).select(
        F.col("id").alias("o_orderkey"),
        _pm(F.col("id"), 41, n_cust).alias("o_custkey"),
        F.element_at(
            F.array(F.lit("F"), F.lit("O"), F.lit("P")),
            (_pm(F.col("id"), 42, 3) + 1).cast("int"),
        ).alias("o_orderstatus"),
        (_pm(F.col("id"), 43, 49_900_000) / 100.0 + 1000.0).alias(
            "o_totalprice"
        ),
        F.timestamp_micros(
            F.lit(base_us) + _pm(F.col("id"), 44, 2400) * day_us
        ).cast("timestamp_ntz").alias("o_orderdate"),
        F.element_at(
            F.array(*[F.lit(p) for p in _PRIORITIES]),
            (_pm(F.col("id"), 45, 5) + 1).cast("int"),
        ).alias("o_orderpriority"),
    )


def write_table(df: DataFrame, out_dir: str, name: str) -> None:
    """Write ``df`` as the single file ``out_dir/{name}.parquet``.

    Single file per table, mirroring the driver fixture layout;
    repartition(1) keeps the expression evaluation parallel and funnels
    only the write through one task (matters at 64×). parquet.block.size
    16 MB: scan parallelism in BOTH engines is bounded by row-group
    count, and the default 128 MB groups gave orders-at-64× only 2 row
    groups — a 2-way scan on a 32-core box, which benchmarks the file
    layout, not the engine. ~16 MB groups give the big tables 10–50
    groups so splits land work. The tmp-write + os.replace makes the
    table's appearance atomic.
    """
    import shutil

    tmp = os.path.join(out_dir, f"_tmp_{name}")
    df.repartition(1).write.mode("overwrite").option(
        "parquet.block.size", 16 * 1024 * 1024
    ).parquet(tmp)
    part = next(
        f for f in os.listdir(tmp)
        if f.endswith(".parquet") and not f.startswith(".")
    )
    os.replace(os.path.join(tmp, part), os.path.join(out_dir, f"{name}.parquet"))
    shutil.rmtree(tmp)


def generate(spark: SparkSession, out_dir: str, scale: float) -> str:
    """Write a probe fixture dir at `scale`×(sf0.1 row counts); returns
    out_dir. Idempotent PER TABLE: `{name}.parquet` is only generated
    if absent (content is deterministic in `scale`, and the tmp-write +
    os.replace makes each table's appearance atomic), so a dir created
    before the star tables existed gains them on the next call without
    touching the original files. Covers the full driver layout: the 4
    original probe tables plus region/nation/customer/supplier/part/
    orders with driver-matching domains (FIXTURES.md) and referential
    integrity (orders = lineitem/4 keys, custkeys/partkeys/suppkeys
    consistent), so the TPC-H composite queries run at any scale."""
    sizes = {
        "documents": int(5_000 * scale),
        "embeddings": int(2_000 * scale),
        "events": int(100_000 * scale),
        "lineitem": int(600_000 * scale),
        "orders": int(150_000 * scale),
        "customer": int(15_000 * scale),
        "supplier": int(1_000 * scale),
        "part": int(20_000 * scale),
    }
    gens = {
        "documents": lambda: gen_documents(spark, sizes["documents"]),
        "embeddings": lambda: gen_embeddings(spark, sizes["embeddings"]),
        "events": lambda: gen_events(
            spark, sizes["events"], n_users=int(1_500 * scale)
        ),
        "lineitem": lambda: gen_lineitem(
            spark, sizes["lineitem"], n_parts=int(20_000 * scale)
        ),
        "orders": lambda: gen_orders(
            spark, sizes["orders"], n_cust=int(15_000 * scale)
        ),
        "customer": lambda: gen_customer(spark, sizes["customer"]),
        "supplier": lambda: gen_supplier(spark, sizes["supplier"]),
        "part": lambda: gen_part(spark, sizes["part"]),
        "region": lambda: gen_region(spark),
        "nation": lambda: gen_nation(spark),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, gen in gens.items():
        if not os.path.exists(os.path.join(out_dir, f"{name}.parquet")):
            write_table(gen(), out_dir, name)
    marker = os.path.join(out_dir, _MARKER)
    if not os.path.exists(marker):
        open(marker, "w").close()
    return out_dir
