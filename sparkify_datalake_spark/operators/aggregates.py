"""Aggregation operators (SURVEY.md §2-D).

All Spark-side plans are plain ``groupBy().agg()`` / ``rollup`` / ``cube``
so Catalyst produces hash aggregation with map-side partial aggregation
automatically (partial → shuffle on group keys → final).

Scale notes (100 TB): partial aggregation means the shuffle carries one row
per (task × group), not per input row — for low-cardinality keys like
(l_returnflag, l_linestatus) the shuffle is KB-sized regardless of input
size. High-cardinality group-bys (per-customer) shuffle O(groups) rows;
AQE coalesces post-shuffle partitions. Skewed keys are handled by AQE
skew-join/agg splitting, no manual salting needed for these shapes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkify_datalake_spark.functions.determinism import (
    cents_long,
    dec2,
    dec_avg,
    dec_sum,
    dec_sum_exact,
    sql_dec2,
    sql_dec_avg,
    sql_dec_sum,
    sql_dec_sum_exact,
    unit_avg,
    unit_sum,
)
from sparkify_datalake_spark.operators.percentiles import (
    exact_percentiles,
    exact_percentiles_multi,
)
from sparkify_datalake_spark.registry import query
from sparkify_datalake_spark.sources.load import load, local_frame


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary by (returnflag, linestatus).

    Two-level integer-unit aggregation (r10 rewrite, bit-identical to
    the r9 shape, measured 0.95 → 0.56 s at sf0.1 and 3.8 → 1.4 s at
    the 64× probe):

    LEVEL 1 keys (returnflag, linestatus, spark_partition_id) and sums
    pure LONGS — every money/rate column is a 2dp decimal stored as
    double (FIXTURES.md invariant), so round(x·100) is an exact long
    and the per-row products codegen to imuls (Spark's Decimal multiply
    always routes through java.math.BigDecimal, ~0.9 s/2-products at
    sf0.1 measured). The partition-id key bounds every long
    accumulator by ONE scan task (≤ maxPartitionBytes ≈ 1M rows ×
    ≤1e11 charge-units/row ≈ 1e17 ≪ 2⁶³ — overflow needs a >18 GB
    single row group), and makes the map-side combine emit exactly
    4 rows per task: the exchange carries n_tasks×4 tiny rows instead
    of every raw row, at ANY scale. This also retires the r8/r9
    widen_if_starved exchange: the starved-scan problem was the
    per-row decimal work, which is now cheap enough to run at scan
    width.

    LEVEL 2 re-keys to (returnflag, linestatus) and accumulates the
    partial longs in decimal(28,0) (order-independent, exact at any
    scale — a pure BIGINT grand total would overflow within a 100 TB
    year of charges), rescaling ÷10²/10⁴/10⁶ once per GROUP on the
    4-row result. Averages divide the exact decimal totals as doubles
    (see unit_avg) so every emitted double is bit-identical to the
    oracle's sum(decimal)-based shape.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp_ntz")
    )
    qty = cents_long("l_quantity")
    price = cents_long("l_extendedprice")
    disc = cents_long("l_discount")
    disc4 = price * (F.lit(100) - disc)
    charge6 = disc4 * (F.lit(100) + cents_long("l_tax"))

    part = li.groupBy(
        "l_returnflag",
        "l_linestatus",
        F.spark_partition_id().alias("_pid"),
    ).agg(
        F.sum(qty).alias("s_qty"),
        F.sum(price).alias("s_price"),
        F.sum(disc4).alias("s_d4"),
        F.sum(charge6).alias("s_c6"),
        F.sum(disc).alias("s_disc"),
        F.count(F.lit(1)).alias("n"),
    )
    return part.groupBy("l_returnflag", "l_linestatus").agg(
        unit_sum(F.col("s_qty"), 2, "sum_qty"),
        unit_sum(F.col("s_price"), 2, "sum_base_price"),
        unit_sum(F.col("s_d4"), 4, "sum_disc_price"),
        unit_sum(F.col("s_c6"), 6, "sum_charge"),
        unit_avg("s_qty", "n", "avg_qty"),
        unit_avg("s_price", "n", "avg_price"),
        unit_avg("s_disc", "n", "avg_disc"),
        F.sum("n").alias("count_order"),
    )


Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dec_sum("l_quantity", "sum_qty")},
  {sql_dec_sum("l_extendedprice", "sum_base_price")},
  {sql_dec_sum_exact(f"{sql_dec2('l_extendedprice')} * (CAST(1 AS DECIMAL(3,2)) - {sql_dec2('l_discount', 4)})", "sum_disc_price")},
  {sql_dec_sum_exact(f"{sql_dec2('l_extendedprice')} * (CAST(1 AS DECIMAL(3,2)) - {sql_dec2('l_discount', 4)}) * (CAST(1 AS DECIMAL(3,2)) + {sql_dec2('l_tax', 4)})", "sum_charge")},
  {sql_dec_avg("l_quantity", "avg_qty")},
  {sql_dec_avg("l_extendedprice", "avg_price")},
  {sql_dec_avg("l_discount", "avg_disc")},
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""

query("agg_groupby", Q1_ORACLE)(q1_pricing_summary)


@query(
    "agg_global",
    f"""
SELECT
  count(*) AS n_rows,
  {sql_dec_sum("l_quantity", "sum_qty")},
  {sql_dec_avg("l_quantity", "avg_qty")},
  min(l_quantity) AS min_qty,
  max(l_quantity) AS max_qty,
  min(l_shipdate) AS min_shipdate,
  max(l_shipdate) AS max_shipdate
FROM lineitem
""",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-group aggregate over lineitem (no GROUP BY → 1 row)."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dec_sum("l_quantity", "sum_qty"),
        dec_avg("l_quantity", "avg_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
    )


@query(
    "agg_having",
    f"""
SELECT o_custkey, count(*) AS n_orders,
  {sql_dec_sum("o_totalprice", "total_spend")}
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 12
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Groups filtered on an aggregate value (HAVING)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice", "total_spend"),
        )
        .filter(F.col("n_orders") >= 12)
    )


@query(
    "agg_count_distinct",
    """
SELECT o_orderstatus,
  count(DISTINCT o_custkey) AS n_customers,
  count(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
""",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group (expand + two-phase agg in Spark)."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# HLL sketches differ across engines by design → rows-only check.
@query("agg_approx_distinct")
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per order status.

    Scale note: the whole point at 100 TB — one pass, fixed-size sketch per
    group, mergeable across partitions; exact distinct would shuffle every
    distinct key.
    """
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_customers")
    )


_ROLLUP_AGGS = """
  count(*) AS n_orders,
  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
"""


@query(
    "agg_rollup",
    f"""
SELECT o_orderstatus, o_orderpriority,
  GROUPING(o_orderstatus) AS g_status,
  GROUPING(o_orderpriority) AS g_priority,
  {_ROLLUP_AGGS}
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() indicators (hierarchy subtotals + grand total)."""
    orders = load(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice", "total_price"),
    )


@query(
    "agg_cube",
    f"""
SELECT o_orderstatus, o_orderpriority,
  GROUPING(o_orderstatus) AS g_status,
  GROUPING(o_orderpriority) AS g_priority,
  {_ROLLUP_AGGS}
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping-set combinations."""
    orders = load(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice", "total_price"),
    )


@query(
    "agg_grouping_sets",
    f"""
SELECT o_orderstatus, o_orderpriority,
  {_ROLLUP_AGGS}
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via spark.sql over a temp view."""
    orders = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("gs_orders")
    return spark.sql(
        """
SELECT o_orderstatus, o_orderpriority,
  count(*) AS n_orders,
  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
FROM gs_orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""
    )


@query(
    "agg_maxby_collect",
    """
WITH ranked AS (
  SELECT o_custkey, o_orderkey,
    row_number() OVER (
      PARTITION BY o_custkey
      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
  FROM orders
), grouped AS (
  SELECT o_custkey,
    max(o_totalprice) AS best_price,
    array_to_string(list_sort(list(o_orderstatus)), ',') AS statuses
  FROM orders GROUP BY o_custkey
)
SELECT g.o_custkey, r.o_orderkey AS best_order, g.best_price, g.statuses
FROM grouped g JOIN ranked r ON g.o_custkey = r.o_custkey AND r.rn = 1
""",
)
def agg_maxby_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by with a deterministic (price, key) tiebreak + sorted collect_list.

    `statuses` is projected as a comma-joined string (not array<string>):
    the grading harness canonicalizer cannot hash array-typed output columns,
    so arrays stay internal and the output surface is scalar.
    """
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.expr("max_by(o_orderkey, struct(o_totalprice, o_orderkey))").alias(
            "best_order"
        ),
        F.max("o_totalprice").alias("best_price"),
        F.array_join(
            F.sort_array(F.collect_list("o_orderstatus")), ","
        ).alias("statuses"),
    )


@query(
    "agg_percentile",
    """
SELECT l_returnflag,
  round(quantile_cont(l_quantity, 0.25), 4) AS qty_p25,
  round(quantile_cont(l_quantity, 0.5), 4) AS qty_p50,
  round(quantile_cont(l_quantity, 0.75), 4) AS qty_p75,
  round(quantile_cont(l_extendedprice, 0.9), 4) AS price_p90
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per group.

    Same interpolation contract as DuckDB `quantile_cont` (verified
    exact at sf0.01), computed by the two-phase distributed order
    statistic in `operators/percentiles.py` rather than Spark's native
    `percentile` object-hash aggregate: with 3 groups the native merge
    collapses onto 3 reducer tasks holding a value→count map of every
    distinct price (measured 50 s at the 64× probe vs ~4 s two-phase).
    One range shuffle + tiny count collect per value column keeps all
    phases O(rows/partitions) per task. At 100 TB the alternative is
    `approx_percentile` (KLL-style sketch, mergeable partials) with a
    documented error bound; the exact form stays the correctness
    anchor.
    """
    li = load(spark, sf_dir, "lineitem")
    both = exact_percentiles_multi(
        li,
        ["l_returnflag"],
        [
            (
                "l_quantity",
                [(0.25, "q25"), (0.5, "q50"), (0.75, "q75")],
            ),
            ("l_extendedprice", [(0.9, "p90")]),
        ],
    )
    return both.select(
        "l_returnflag",
        F.round("q25", 4).alias("qty_p25"),
        F.round("q50", 4).alias("qty_p50"),
        F.round("q75", 4).alias("qty_p75"),
        F.round("p90", 4).alias("price_p90"),
    )


@query(
    "agg_pivot",
    """
SELECT o_orderpriority,
  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
FROM orders
GROUP BY o_orderpriority
""",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority × status, statuses as columns.

    Explicit pivot value list — without it Spark runs an extra
    distinct-collect job to discover values, and column order becomes
    data-dependent (both wrong at scale).
    """
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


@query(
    "agg_salted_twophase",
    f"""
SELECT o_orderpriority,
  {sql_dec_sum('o_totalprice', 'sum_price')},
  count(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
""",
)
def agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant aggregation: explicit salt → partial → final.

    The manual form of what you deploy when ONE group key carries a
    disproportionate share of rows and even AQE's skew handling can't
    split a single aggregation key: salt the key into 16 sub-groups,
    aggregate (salted shuffle spreads the hot key over 16 reducers),
    then aggregate the 16 partials (tiny). Decimal partials merge
    exactly, so the result hash-matches the plain one-phase oracle —
    which is the point: same answer, skew-proof shuffle.

    (For the built-in shapes AQE skew splitting suffices; this operator
    documents + verifies the manual pattern the 100 TB playbook needs.)
    """
    orders = load(spark, sf_dir, "orders")
    salted = orders.withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(16))
    )
    partial = salted.groupBy("o_orderpriority", "salt").agg(
        F.sum(dec2("o_totalprice")).alias("p_sum"),
        F.count(F.lit(1)).alias("p_n"),
    )
    return partial.groupBy("o_orderpriority").agg(
        F.round(F.sum("p_sum"), 2).cast("double").alias("sum_price"),
        F.sum("p_n").alias("n_orders"),
    )


@query(
    "fn_unpivot",
    """
SELECT o_orderkey, 'totalprice' AS measure,
  CAST(round(CAST(o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE) AS value
FROM orders
UNION ALL
SELECT o_orderkey, 'custkey' AS measure, CAST(o_custkey AS DOUBLE) AS value
FROM orders
""",
)
def fn_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide columns → (key, measure, value) long rows.

    The inverse of agg_pivot. Spark's unpivot is a zero-shuffle
    generator (each row fans out to one row per value column in-place);
    the oracle is the equivalent UNION ALL.
    """
    orders = load(spark, sf_dir, "orders")
    wide = orders.select(
        "o_orderkey",
        F.round(dec2("o_totalprice"), 2).cast("double").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"),
    )
    return wide.unpivot(
        ["o_orderkey"], ["totalprice", "custkey"], "measure", "value"
    )


@query(
    "agg_stats",
    """
SELECT l_returnflag,
  round(stddev_samp(l_quantity), 6) AS qty_stddev,
  round(var_samp(l_quantity), 6) AS qty_var,
  round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
  round(covar_pop(l_quantity, l_extendedprice), 4) AS qty_price_covar
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/correlation/covariance.

    All four are single-pass mergeable aggregates (sum, sum-of-squares,
    co-moments) — partial→final like any hash agg, so they scale exactly
    like sum/count. libm-touched outputs rounded per §7.2-2.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
    )


@query(
    "agg_histogram",
    """
SELECT CAST(least(floor(o_totalprice / 60000), 9) AS INT) AS bin,
  CAST(least(floor(o_totalprice / 60000), 9) * 60000 AS DOUBLE) AS bin_lo,
  count(*) AS n,
  round(min(o_totalprice), 2) AS bin_min,
  round(max(o_totalprice), 2) AS bin_max
FROM orders
GROUP BY 1, 2
""",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of order prices (10 fixed 60k-wide bins,
    top bin open-ended).

    The profiling primitive behind every data-quality dashboard. Fixed
    bin edges keep it one partial→final hash aggregate — a single pass,
    no pre-scan for min/max; at 100 TB a two-pass variant (scan bounds,
    then bin) or t-digest replaces fixed edges, but the aggregation
    shape is identical.
    """
    orders = load(spark, sf_dir, "orders")
    bin_c = F.least(
        F.floor(F.col("o_totalprice") / 60000), F.lit(9)
    ).cast("int")
    return orders.groupBy(
        bin_c.alias("bin"),
        (bin_c * 60000).cast("double").alias("bin_lo"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("bin_min"),
        F.round(F.max("o_totalprice"), 2).alias("bin_max"),
    )


# Approximate-percentile sketches differ across engines by design (Spark
# uses a Greenwald-Khanna/KLL-style summary, DuckDB t-digest) → rows-only;
# tests/test_sketches.py bounds the error against the exact twin
# (agg_percentile above).
@query("agg_approx_percentile")
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile per group — the 100 TB quantile path.

    Exact percentile (agg_percentile) buffers every value per group; the
    sketch holds O(1/ε) items regardless of group size and merges across
    partitions like any partial aggregate, so quantiles over a 100 TB
    column cost one pass + a constant-size shuffle. accuracy=10000 ⇒
    rank error ≤ 1/10000 of the group — tighter than the test bound.
    """
    li = load(spark, sf_dir, "lineitem")
    pa = F.percentile_approx(
        "l_quantity", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), 10000
    )
    return li.groupBy("l_returnflag").agg(
        F.element_at(pa, 1).alias("qty_p25"),
        F.element_at(pa, 2).alias("qty_p50"),
        F.element_at(pa, 3).alias("qty_p75"),
        F.percentile_approx("l_extendedprice", F.lit(0.9), 10000).alias(
            "price_p90"
        ),
    )


# Datasketches HLL output has no DuckDB twin → rows-only;
# tests/test_sketches.py bounds the estimate against exact countDistinct.
@query("agg_hll_distinct")
def agg_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit HLL sketch build → estimate per group (Spark 4
    datasketches surface; the approx_count_distinct twin exposes the
    sketch itself, which is what makes warehouse rollups incremental:
    store the binary sketch per (day, dimension), never re-scan facts).
    """
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("o_custkey"), F.lit(12))
        ).alias("approx_customers")
    )


@query("agg_hll_union")
def agg_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct counts: fine-grained HLL sketches union-merged
    to a coarser rollup WITHOUT re-scanning the fact table.

    Phase 1 sketches distinct customers per (status, priority); phase 2
    merges each status's 5 sketches via hll_union_agg and estimates.
    This is the incremental-rollup contract at 100 TB: daily sketches
    merge into monthly/yearly counts in milliseconds, which no exact
    count-distinct can do (distinct does not sum). tests/test_sketches.py
    asserts the merged estimate equals building the status-level sketch
    directly (lossless union at equal lgK) and bounds it vs exact.
    """
    orders = load(spark, sf_dir, "orders")
    fine = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.hll_sketch_agg(F.col("o_custkey"), F.lit(12)).alias("sketch")
    )
    return fine.groupBy("o_orderstatus").agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col("sketch"), F.lit(False))
        ).alias("approx_customers")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k) distinct sketch — the THIRD member of
# the distinct-sketch family (HLL = opaque mergeable binary,
# bitmap = exact small-domain, KMV = order-statistic sketch). Unlike HLL,
# KMV over a deterministic hash is itself deterministic, so this is the
# one approximate-distinct operator that carries an EXACT cross-engine
# hash oracle: both engines keep the k smallest md5 values and apply the
# unbiased estimator (k-1)/u_k, so the estimate is a pure function of the
# data.

_KMV_K = 64
# 16^12 — the 12-hex-digit hash prefix is mapped to [0,1) by dividing by
# this; 48 bits keeps the integer exact in a double and collision-free to
# ~16 M distinct keys per group.
_KMV_SCALE = 281474976710656


def _hex_prefix_int_sql(h: str, n: int) -> str:
    """Integer value of the first ``n`` hex digits of expression ``h`` —
    instr-ladder form that parses identically in Spark SQL and DuckDB
    (the _boot_weights_sql discipline; neither engine shares a hex→int
    builtin with the other)."""
    hexd = "'0123456789abcdef'"
    terms = [
        f"(instr({hexd}, substring({h}, {i + 1}, 1)) - 1) * {16 ** (n - 1 - i)}"
        for i in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "agg_kmv_distinct",
    f"""
WITH grain AS (
  SELECT event_type AS grp, user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS d
  FROM events
  UNION ALL
  SELECT '__all__' AS grp, user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS d
  FROM events
),
dist AS (
  SELECT DISTINCT grp, user_id, d FROM grain
),
h AS (
  SELECT grp,
    md5(concat('kmv#', CAST(user_id AS VARCHAR), '#', d)) AS hx
  FROM dist
),
ranked AS (
  SELECT grp, hx,
    row_number() OVER (PARTITION BY grp ORDER BY hx) AS rn,
    count(*) OVER (PARTITION BY grp) AS n_true
  FROM h
),
kth AS (
  SELECT grp, CAST(max(n_true) AS BIGINT) AS true_distinct,
    max(CASE WHEN rn = {_KMV_K} THEN {_hex_prefix_int_sql('hx', 12)} END)
      AS vk
  FROM ranked GROUP BY grp
),
est AS (
  SELECT grp, true_distinct,
    round(CASE WHEN true_distinct < {_KMV_K}
          THEN CAST(true_distinct AS DOUBLE)
          ELSE ({_KMV_K} - 1) * {_KMV_SCALE}.0 / vk END, 2) AS est_distinct
  FROM kth
)
SELECT grp, {_KMV_K} AS k, true_distinct, est_distinct,
  round((est_distinct - true_distinct) / true_distinct, 4) AS rel_err
FROM est
ORDER BY grp
""",
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct sketch of user-days per event type plus a
    merged ``__all__`` union sketch — with an EXACT hash oracle, which no
    other approximate-distinct operator here can offer: the k smallest
    md5 values are a deterministic function of the data, so Spark and
    DuckDB agree bit-for-bit on the estimate (k-1)/u_k.

    Union mergeability is KMV's point: the union sketch is just the
    bottom-k of the pooled hash sets (here demonstrated as the
    ``__all__`` group built from the same single scan), so per-slice
    sketches of k 16-byte values merge without re-scanning facts — the
    HLL contract with order statistics instead of registers.

    Scale shape (100 TB): the naive bottom-k sorts every distinct hash
    per group under one window key — a billion-row single-partition sort.
    Instead the distinct grain is counted first (tiny per-group frame,
    broadcast back), and a pure-integer pre-filter
    ``prefix16(hash) * n_true <= 4k * 65536`` keeps ~4k expected
    survivors per group (P[< k survivors] is a >10-sigma Chernoff tail),
    so the rank window only ever sees a KB-sized frame. The oracle runs
    the unfiltered bottom-k — identical output whenever the filter
    retains the k minima, which the 3-SF hash gate verifies. Groups with
    fewer than k distinct keys report the exact count (the sketch is not
    yet full), covered at sf0.001 where user-day cardinality < k.
    """
    ev = load(spark, sf_dir, "events")
    # Distinct the (type, user, day) grain FIRST, then derive the
    # __all__ union grain by re-deduping that already-deduped output on
    # (user, day): the fact table is shuffled once, not twice — the
    # union-then-distinct formulation re-shuffles 2× the fact rows for
    # the same answer (64× probe ratio 4.4 → 4.1; the residual cost is
    # the exact true_distinct AUDIT column, i.e. engine count-distinct
    # constant factor, not plan shape — drop the audit column and only
    # the ~4k-row survivor frame ever leaves the map side).
    per_type = ev.select(
        F.col("event_type").alias("grp"),
        F.col("user_id"),
        F.col("ts").cast("date").cast("string").alias("d"),
    ).distinct()
    grain = per_type.unionByName(
        per_type.select(F.lit("__all__").alias("grp"), "user_id", "d")
        .distinct()
    )
    dist = grain.select(
        "grp",
        F.md5(
            F.concat_ws(
                "#", F.lit("kmv"), F.col("user_id").cast("string"), F.col("d")
            )
        ).alias("hx"),
    ).localCheckpoint(eager=False)
    n_true = dist.groupBy("grp").agg(F.count(F.lit(1)).alias("n_true"))
    survivors = dist.join(F.broadcast(n_true), "grp").filter(
        F.expr("conv(substring(hx, 1, 4), 16, 10)").cast("long")
        * F.col("n_true")
        <= F.lit(4 * _KMV_K * 65536)
    )
    w = Window.partitionBy("grp").orderBy("hx")
    kth = (
        survivors.select(
            "grp", "hx", "n_true", F.row_number().over(w).alias("rn")
        )
        .groupBy("grp")
        .agg(
            F.max("n_true").cast("long").alias("true_distinct"),
            F.max(
                F.when(
                    F.col("rn") == _KMV_K,
                    F.expr("conv(substring(hx, 1, 12), 16, 10)").cast("long"),
                )
            ).alias("vk"),
        )
    )
    est = kth.select(
        "grp",
        "true_distinct",
        F.round(
            F.when(
                F.col("true_distinct") < _KMV_K,
                F.col("true_distinct").cast("double"),
            ).otherwise(
                F.lit(float((_KMV_K - 1) * _KMV_SCALE)) / F.col("vk")
            ),
            2,
        ).alias("est_distinct"),
    )
    return est.select(
        "grp",
        F.lit(_KMV_K).alias("k"),
        "true_distinct",
        "est_distinct",
        F.round(
            (F.col("est_distinct") - F.col("true_distinct"))
            / F.col("true_distinct"),
            4,
        ).alias("rel_err"),
    ).orderBy("grp")


# ---------------------------------------------------------------------------
# Count-min sketch — the frequency twin of the HLL distinct sketches
# above, built from plain DataFrame ops so the sketch is a TABLE
# (mergeable by summing cells, inspectable, persistable) rather than an
# opaque binary. CMS guarantee: est ≥ true, and est ≤ true + εN with
# probability 1−δ where ε = e/width, δ = e^−depth.

_CMS_DEPTH = 5
_CMS_WIDTH = 2048


def cms_build(
    df: DataFrame, col: str, depth: int = _CMS_DEPTH, width: int = _CMS_WIDTH
) -> DataFrame:
    """Build a count-min sketch table (d, w, cnt) over a column.

    Each row fans out to `depth` (row-index, bucket) cells via seeded
    xxhash64 (JVM-side, whole-stage codegen); ONE hash aggregation over
    (d, bucket) produces the ≤ depth×width-cell sketch — a map-side
    partial-aggregated shuffle whose output size is constant in n, the
    same scale shape as any sketch. Sketches over different data slices
    merge by unioning and summing cells (test-asserted), which is what
    makes per-day sketches roll up without re-scanning facts.
    """
    d_seq = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d")
    return (
        df.select(F.col(col).alias("k"))
        .select("k", d_seq)
        .select("d", F.pmod(F.xxhash64("k", "d"), F.lit(width)).alias("w"))
        .groupBy("d", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame, keys: DataFrame, col: str, depth: int = _CMS_DEPTH,
    width: int = _CMS_WIDTH,
) -> DataFrame:
    """Point-estimate counts for a key frame against a sketch table.

    Keys fan out to their depth cells, left-join the sketch (broadcast —
    it is ≤ depth×width rows), and take min(cnt) per key; a missing cell
    means a zero count. The probe never touches the original data."""
    d_seq = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d")
    return (
        keys.select(F.col(col).alias("k"))
        .select("k", d_seq)
        .select("k", "d", F.pmod(F.xxhash64("k", "d"), F.lit(width)).alias("w"))
        .join(F.broadcast(cms), ["d", "w"], "left")
        .groupBy("k")
        .agg(
            F.min(F.coalesce("cnt", F.lit(0))).alias("est_count")
        )
        .select(F.col("k").alias(col), "est_count")
    )


# xxhash64 has no DuckDB twin → rows-only; tests/test_sketches.py
# asserts the CMS bounds (est ≥ true; est ≤ true + εN) and cell-sum
# mergeability against exact groupBy counts.
@query("agg_cms_counts")
def agg_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the 20 smallest custkeys.

    Heavy-hitter shape at 100 TB: the sketch build is one constant-size
    shuffle over the fact table; any later frequency probe is a
    broadcast join against the tiny sketch table — no fact re-scan per
    question asked.
    """
    orders = load(spark, sf_dir, "orders")
    cms = cms_build(orders, "o_custkey")
    probes = orders.select("o_custkey").filter(
        F.col("o_custkey") < 20
    ).distinct()
    return cms_estimate(cms, probes, "o_custkey").orderBy("o_custkey")


@query(
    "agg_bitmap_distinct",
    """
SELECT o_orderstatus,
  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers
FROM orders GROUP BY o_orderstatus
""",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counts via Spark 4 bitmap aggregates —
    the deterministic sibling of the HLL pair above.

    Phase 1 buckets each key into a 32k-bit bitmap per (status,
    priority, bucket); phase 2 ORs the bitmaps up to status level and
    sums bit counts. Unlike HLL this is exact (hash-checked against
    plain count DISTINCT) while still incremental: per-slice bitmaps
    roll up by OR without re-scanning facts. Cost is O(key-space/8)
    bytes per group — the right tool when keys are dense integers
    (custkey), where HLL's error buys nothing.
    """
    orders = load(spark, sf_dir, "orders")
    fine = orders.groupBy(
        "o_orderstatus",
        "o_orderpriority",
        F.bitmap_bucket_number(F.col("o_custkey")).alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(
            F.bitmap_bit_position(F.col("o_custkey"))
        ).alias("bm")
    )
    return (
        fine.groupBy("o_orderstatus", "bucket")
        .agg(F.bitmap_count(F.bitmap_or_agg(F.col("bm"))).alias("partial"))
        .groupBy("o_orderstatus")
        .agg(F.sum("partial").alias("exact_customers"))
    )


@query(
    "agg_mode",
    """
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS n
  FROM orders GROUP BY 1, 2
)
SELECT o_orderstatus, o_orderpriority AS modal_priority, n
FROM c
QUALIFY row_number() OVER (
  PARTITION BY o_orderstatus ORDER BY n DESC, o_orderpriority
) = 1
""",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group modal value (most frequent order priority per status)
    with a deterministic tiebreak.

    Spark 4 ships a `mode()` aggregate, but its tie resolution is
    unspecified — useless for a reproducible pipeline. The
    count-then-rank composition pins ties to the lexicographically
    smallest value, making the mode engine-exact: a groupBy on the
    (group, value) pair (partial-aggregatable, so the wide fact scan
    combines map-side) followed by a row_number over groups whose
    cardinality is |groups|×|values| — tiny, so the window sort is
    noise at any scale. The same shape generalizes to top-k frequent
    values per group (win_topk_group) and to heavy-hitter sketches when
    the value domain explodes (agg_cms_counts).
    """
    orders = load(spark, sf_dir, "orders")
    c = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), "o_orderpriority"
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            "n",
        )
    )


@query(
    "agg_listagg",
    """
SELECT o_orderstatus,
  string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
    AS priorities,
  count(DISTINCT o_orderpriority) AS n_priorities
FROM orders GROUP BY o_orderstatus
""",
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/STRING_AGG): the distinct
    priorities per status as one '|'-joined, explicitly sorted string.

    collect_set carries NO order guarantee in a distributed engine —
    emitting it raw is nondeterministic run-to-run, let alone across
    engines. The deterministic composition is collect_set →
    array_sort → array_join, which is exactly what LISTAGG ... WITHIN
    GROUP (ORDER BY) promises; the oracle's string_agg(DISTINCT ...
    ORDER BY) pins it. Output is a scalar string (the §7.2 no-array
    rule), and the aggregate stays partial-mergeable: sets union
    map-side, the sort touches |distinct| elements per group at the
    very end.
    """
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.array_join(
            F.array_sort(F.collect_set("o_orderpriority")), "|"
        ).alias("priorities"),
        F.count_distinct("o_orderpriority").alias("n_priorities"),
    )


@query(
    "agg_weighted_avg",
    """
SELECT l_returnflag,
  round(
    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE)
    / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE),
    6) AS wavg_discount,
  round(
    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
             * CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE)
    / CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE),
    6) AS qty_wavg_discount
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted averages (revenue- and quantity-weighted discount per
    return flag): Σwx/Σw with BOTH sums kept in exact DECIMAL — the
    weighted mean is a ratio of two partial-aggregatable sums, so it
    shares corr/regr's one-scan-one-tiny-exchange cost model, and the
    decimal discipline (§7.2: multiply decimals, never doubles) makes
    the quotient operands bit-identical across engines before the one
    double division.

    Two-level integer-unit plan (the q1_pricing_summary r10 pattern):
    level 1 sums pure longs keyed (flag, spark_partition_id) — the
    products codegen to imuls (Spark Decimal multiply is BigDecimal,
    measured 24× the oracle at the 64× probe) and the pid key bounds
    every long accumulator by one scan task (≤ ~1e17 ≪ 2⁶³) while
    making map-side combine emit 3 rows/task; level 2 folds the
    partials in decimal(28,0) and the single exact ÷10⁶/÷10² per GROUP
    feeds the one double division, bit-identical to the oracle's
    CAST(sum(decimal·decimal) AS DOUBLE). Retires the r8 widen
    exchange: per-row work is now cheap enough at scan width.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
    )
    d4 = cents_long("l_discount", 4)
    part = li.groupBy(
        "l_returnflag", F.spark_partition_id().alias("_pid")
    ).agg(
        F.sum(cents_long("l_extendedprice") * d4).alias("s_np"),
        F.sum(cents_long("l_quantity") * d4).alias("s_nq"),
        F.sum(cents_long("l_extendedprice")).alias("s_p"),
        F.sum(cents_long("l_quantity")).alias("s_q"),
    )

    def total(c: str, pow10: int) -> Column:
        return (
            F.sum(F.col(c).cast("decimal(28,0)")).cast("decimal(38,6)")
            / F.lit(10**pow10)
        ).cast("double")

    return part.groupBy("l_returnflag").agg(
        F.round(total("s_np", 6) / total("s_p", 2), 6).alias(
            "wavg_discount"
        ),
        F.round(total("s_nq", 6) / total("s_q", 2), 6).alias(
            "qty_wavg_discount"
        ),
    )


@query(
    "agg_bool",
    """
SELECT o_orderstatus,
  bool_and(o_totalprice > 1000) AS all_over_1k,
  bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
       AS BIGINT) AS n_urgent
FROM orders GROUP BY o_orderstatus
""",
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (ALL/ANY over predicates per group) — the
    data-quality assertion shape ("every order priced", "any urgent
    order present") that beats count-compare idioms: bool_and/bool_or
    short-circuit in partial aggregation (a single false/true decides a
    partition's contribution), and the paired conditional count shows
    the quantitative twin. Both engines share SQL-standard semantics
    including NULL handling (no NULLs here; predicates are total).
    """
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias(
            "any_urgent"
        ),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("n_urgent"),
    )


@query(
    "agg_geomean_harmonic",
    """
SELECT o_orderpriority,
  count(*) AS n_orders,
  round(exp(avg(ln(o_totalprice))), 2) AS geo_mean_price,
  round(count(*) / sum(1.0 / o_totalprice), 2) AS harm_mean_price,
  round(avg(o_totalprice), 2) AS arith_mean_price
FROM orders
WHERE o_totalprice > 0
GROUP BY o_orderpriority
""",
)
def agg_geomean_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric and harmonic means per group — the multiplicative-rate
    aggregates (growth factors, price indices, avg-of-ratios) that a
    plain AVG silently gets wrong. Both reduce to ordinary partial
    aggregation: geo = exp(avg(ln x)) is one sum of logs, harm =
    n/sum(1/x) one sum of reciprocals — shuffle carries one partial per
    (task, group) exactly like SUM, so the 100 TB cost profile equals
    agg_groupby. The arithmetic mean rides along to exhibit the
    AM >= GM >= HM ordering on real data. Rounded to 2dp: the log-sum
    reassociation across partitions perturbs ~1e-13 relative, far
    below the rounding grain.
    """
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.exp(F.avg(F.log(F.col("o_totalprice")))), 2).alias(
            "geo_mean_price"
        ),
        F.round(
            F.count(F.lit(1)) / F.sum(F.lit(1.0) / F.col("o_totalprice")), 2
        ).alias("harm_mean_price"),
        F.round(F.avg("o_totalprice"), 2).alias("arith_mean_price"),
    )


@query(
    "agg_mad",
    """
WITH med AS (
  SELECT o_orderpriority,
    median(o_totalprice) AS med_price
  FROM orders GROUP BY 1
),
dev AS (
  SELECT o.o_orderpriority, m.med_price,
    abs(o.o_totalprice - m.med_price) AS adev
  FROM orders o JOIN med m ON o.o_orderpriority = m.o_orderpriority
)
SELECT o_orderpriority,
  round(any_value(med_price), 2) AS median_price,
  round(median(adev), 2) AS mad,
  round(median(adev) * 1.4826, 2) AS mad_sigma
FROM dev
GROUP BY o_orderpriority
""",
)
def agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion
    estimate outlier-laden money columns need (stddev is unbounded
    under a single corrupt row; MAD's breakdown point is 50%).
    mad_sigma = 1.4826·MAD is the consistent normal-σ estimate used in
    robust z-scoring (the events_anomaly upgrade path). Two exact
    interpolated medians by necessity (the deviation median depends on
    the group median); the group medians are a 5-row frame broadcast
    back onto orders, so raw rows are scanned twice but shuffled
    once per pass on the same 5-value key — at 100 TB the real cost is
    the exact-median sort, and the documented scale path is
    percentile_approx (the sketch family's KLL twin covers the
    error-bounded version).
    """
    orders = load(spark, sf_dir, "orders")
    # The 5-row group-median frame is a BOUNDED driver-held model (one
    # row per o_orderpriority — group-key cardinality, not data size;
    # the same discipline as the collected IVF centroids/PQ codebooks),
    # so collect it and re-enter the deviation pass as a literal map
    # lookup. vs the former broadcast-join carry: the deviation
    # subtree loses its join AND its 3 broadcast-build jobs, the final
    # median column needs no join back, and there is no lazy-checkpoint
    # recompute race between the second pass's two scans (16 Spark
    # jobs → ~11 measured). At 100 TB the collect is still 5 rows.
    med_rows = exact_percentiles(
        orders, ["o_orderpriority"], "o_totalprice", [(0.5, "med_price")]
    ).collect()
    med_map = F.create_map(
        *[
            F.lit(x)
            for r in med_rows
            for x in (r["o_orderpriority"], float(r["med_price"]))
        ]
    )
    dev = orders.select(
        "o_orderpriority",
        F.abs(
            F.col("o_totalprice") - med_map[F.col("o_orderpriority")]
        ).alias("adev"),
    )
    mad = exact_percentiles(
        dev, ["o_orderpriority"], "adev", [(0.5, "mad_raw")]
    )
    return mad.select(
        "o_orderpriority",
        F.round(med_map[F.col("o_orderpriority")], 2).alias("median_price"),
        F.round("mad_raw", 2).alias("mad"),
        F.round(F.col("mad_raw") * 1.4826, 2).alias("mad_sigma"),
    )


@query(
    "agg_winsorized_mean",
    """
WITH q AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.10) AS lo,
         quantile_cont(o_totalprice, 0.90) AS hi
  FROM orders GROUP BY 1
)
SELECT o.o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_orders,
  round(avg(o_totalprice), 2) AS mean_raw,
  round(avg(least(greatest(o_totalprice, lo), hi)), 2)
    AS mean_winsorized,
  round(min(lo), 2) AS p10,
  round(min(hi), 2) AS p90
FROM orders o JOIN q ON o.o_orderpriority = q.o_orderpriority
GROUP BY o.o_orderpriority
""",
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10/90 winsorized mean of order value per priority — the robust
    location estimate that keeps every observation but clamps the
    tails, completing the robust-stats ladder (agg_mad: robust scale,
    stat_iqr_outliers: tail flagging, udaf_grouped_arrow: trimmed
    mean which DROPS the tails; winsorizing CAPS them instead).

    Two passes over orders by necessity (clamp bounds depend on the
    group quantiles), both shuffling on the same 5-value key; the
    5-row bound frame broadcasts back. Exact interpolated percentiles
    (≍ quantile_cont, the agg_percentile-pinned contract); clamping
    compares UNROUNDED bounds so a display round can't flip a
    boundary row. At 100 TB pass one swaps to percentile_approx —
    mergeable sketch, same downstream shape.
    """
    orders = load(spark, sf_dir, "orders")
    # Bounded driver-held bound frame (one row per priority — group-key
    # cardinality), collected and re-entered as literal map lookups:
    # the clamp pass loses its broadcast join and the query is a plain
    # single-scan aggregate after pass one (same discipline as agg_mad).
    q_rows = exact_percentiles(
        orders,
        ["o_orderpriority"],
        "o_totalprice",
        [(0.10, "lo"), (0.90, "hi")],
    ).collect()
    lo_map = F.create_map(
        *[
            F.lit(x)
            for r in q_rows
            for x in (r["o_orderpriority"], float(r["lo"]))
        ]
    )
    hi_map = F.create_map(
        *[
            F.lit(x)
            for r in q_rows
            for x in (r["o_orderpriority"], float(r["hi"]))
        ]
    )
    lo = lo_map[F.col("o_orderpriority")]
    hi = hi_map[F.col("o_orderpriority")]
    clamped = F.least(F.greatest(F.col("o_totalprice"), lo), hi)
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.avg("o_totalprice"), 2).alias("mean_raw"),
        F.round(F.avg(clamped), 2).alias("mean_winsorized"),
        F.round(F.min(lo), 2).alias("p10"),
        F.round(F.min(hi), 2).alias("p90"),
    )


@query(
    "agg_share_of_parent",
    """
WITH g AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2
)
SELECT region, nation,
  CAST(round(rev, 2) AS DOUBLE) AS nation_rev,
  CAST(round(sum(rev) OVER (PARTITION BY region), 2) AS DOUBLE)
    AS region_rev,
  round(CAST(rev AS DOUBLE)
        / CAST(sum(rev) OVER (PARTITION BY region) AS DOUBLE), 6)
    AS share_of_region,
  round(CAST(rev AS DOUBLE)
        / CAST(sum(rev) OVER () AS DOUBLE), 6) AS share_of_total
FROM g
ORDER BY region, nation
""",
)
def agg_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent along the geographic hierarchy: each nation's
    revenue as a share of its region and of the world — the OLAP
    drill-down companion of agg_rollup (which emits subtotal ROWS;
    this emits the ratios analysts actually chart) and the
    geo-dimension sibling of ts_rollup_hierarchy.

    Scale shape: ONE pass over the orders fact with the three dims
    broadcast collapses to the 25-row (region, nation) decimal grain;
    both parent denominators are windows over that grain — no second
    fact scan, no totals join, the single-scan discipline. Money stays
    DECIMAL through grouping and the window sums (exact regardless of
    partial-agg order); only the final ratios divide as doubles.
    """
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    g = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                nation.select("n_nationkey", "n_name", "n_regionkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.sum(
                F.col("o_totalprice").cast("decimal(18,2)")
            ).alias("rev")
        )
    )
    region_rev = F.sum("rev").over(Window.partitionBy("region"))
    total_rev = F.sum("rev").over(
        Window.partitionBy(F.lit(1))
    )
    return g.select(
        "region",
        "nation",
        F.round(F.col("rev"), 2).cast("double").alias("nation_rev"),
        F.round(region_rev, 2).cast("double").alias("region_rev"),
        F.round(
            F.col("rev").cast("double") / region_rev.cast("double"), 6
        ).alias("share_of_region"),
        F.round(
            F.col("rev").cast("double") / total_rev.cast("double"), 6
        ).alias("share_of_total"),
    ).orderBy("region", "nation")


_BLOOM_M = 65536  # filter bits (2048 x 32-bit words)
_BLOOM_K = 3  # hash functions


def _bloom_pos(key: str, slot: int, cast_str: str) -> str:
    """Bloom bit position ``slot``: hex chars [5*slot+1, 5*slot+5] of
    ONE md5(key) as an integer, mod m — the instr-digit construction
    shared bit-for-bit by Spark SQL and DuckDB (the _md5_u01
    discipline in operators/pipeline.py). Slicing disjoint digit
    ranges of a single digest (the Kirsch–Mitzenmacher trick) costs
    one md5 per row instead of k — measured 3.2 s → 1.2 s on the
    450k-position probe at sf0.1. ``cast_str`` is the engine's string
    cast.
    """
    h = f"md5({cast_str})"
    terms = " + ".join(
        f"(instr('0123456789abcdef',"
        f" substring({h}, {5 * slot + i + 1}, 1)) - 1)"
        f" * {16 ** (4 - i)}"
        for i in range(5)
    )
    return f"(({terms}) % {_BLOOM_M})"


def _bloom_positions_sql(
    key: str, cast_str: str, ctor: str = "array"
) -> str:
    """k-element position-array constructor for one key; ``ctor`` is
    the engine's list constructor (Spark ``array``, DuckDB
    ``list_value`` — DuckDB reserves ``array`` as a type keyword)."""
    return (
        f"{ctor}("
        + ", ".join(
            _bloom_pos(key, s, cast_str) for s in range(_BLOOM_K)
        )
        + ")"
    )


@query(
    "agg_bloom_runtime_filter",
    f"""
WITH dim AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
),
build_pos AS (
  SELECT DISTINCT unnest(
    {_bloom_positions_sql('c_custkey', 'CAST(c_custkey AS VARCHAR)',
                          'list_value')}
  ) AS pos
  FROM dim
),
words AS (
  SELECT CAST(floor(pos / 32.0) AS BIGINT) AS word,
    bit_or(CAST(1 AS BIGINT) << (pos % 32)) AS bits
  FROM build_pos GROUP BY 1
),
probe AS (
  SELECT o_orderkey, o_custkey,
    unnest({_bloom_positions_sql('o_custkey', 'CAST(o_custkey AS VARCHAR)',
                           'list_value')}) AS pos
  FROM orders
),
hits AS (
  SELECT p.o_orderkey, p.o_custkey,
    sum(CASE WHEN (w.bits & (CAST(1 AS BIGINT) << (p.pos % 32))) <> 0
        THEN 1 ELSE 0 END) AS n_hit
  FROM probe p
  LEFT JOIN words w ON CAST(floor(p.pos / 32.0) AS BIGINT) = w.word
  GROUP BY 1, 2
),
flagged AS (
  SELECT h.o_orderkey,
    h.n_hit = {_BLOOM_K} AS bloom_pass,
    d.c_custkey IS NOT NULL AS exact_match
  FROM hits h LEFT JOIN dim d ON h.o_custkey = d.c_custkey
),
fill AS (SELECT sum(bit_count(bits)) AS bits_set FROM words)
SELECT
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(CASE WHEN exact_match THEN 1 ELSE 0 END) AS BIGINT)
    AS n_exact_match,
  CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
    AS n_bloom_pass,
  CAST(sum(CASE WHEN bloom_pass AND NOT exact_match THEN 1 ELSE 0 END)
       AS BIGINT) AS n_false_positive,
  round(sum(CASE WHEN bloom_pass AND NOT exact_match THEN 1 ELSE 0 END)
        / CAST(sum(CASE WHEN NOT exact_match THEN 1 ELSE 0 END)
               AS DOUBLE), 6) AS fp_rate,
  CAST(f.bits_set AS BIGINT) AS bits_set,
  round(f.bits_set / {_BLOOM_M}.0, 6) AS fill_ratio
FROM flagged CROSS JOIN fill f
GROUP BY f.bits_set
""",
)
def agg_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime-join-filter, built and probed entirely in
    Catalyst: a 65536-bit, k=3 filter over the selective
    dimension side (AUTOMOBILE-segment customers) probed by every fact
    row -- the sketch that completes the family (HLL counts distinct,
    CMS counts frequency, Bloom answers membership) and the mechanism
    behind runtime filter pushdown: at 100 TB the ~16 KB word bitmap
    broadcasts to every scan task and drops ~(1-sel-fp) of fact rows
    BEFORE the join shuffle, which no exact semi-join can do without
    shuffling first. The exact semi-join runs alongside as ground
    truth, so the headline row reports the measured fp rate against
    the theoretical (1-e^(-kn/m))^k.

    Engine parity: bit positions come from md5(key || '#seed') hex
    digits (the _md5_u01 instr construction -- the one hash both
    engines share bit-for-bit), the bitmap is a 2048-row (word,
    bit_or) frame, and probing is a broadcast left join + bit-and per
    hash -- all integer ops, so even the false-positive SET is
    hash-checkable cross-engine, not just rerun-stable.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    # tiny frames with many consumers: dim feeds the build AND the
    # exact-truth join; words feeds k broadcast legs + the fill count.
    # Without the checkpoint each consumer re-derives them from the
    # customer scan (4 redundant jobs — the r7 1.76 s bench tail).
    dim = (
        cust.filter(F.col("c_mktsegment") == "AUTOMOBILE")
        .select("c_custkey")
        .localCheckpoint(eager=False)
    )
    build_pos = (
        dim.select(
            F.explode(
                F.expr(
                    _bloom_positions_sql(
                        "c_custkey", "cast(c_custkey as string)"
                    )
                )
            ).alias("pos")
        ).distinct()
    )
    words = (
        build_pos.select(
            F.floor(F.col("pos") / 32.0).cast("long").alias("word"),
            F.expr("shiftleft(cast(1 as bigint), pos % 32)").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .localCheckpoint(eager=False)  # ≤2048 rows, 4 consumers
    )
    # row-group-capped scan parallelism (2-3 groups at sf0.1) would run
    # the per-row md5 on 3 cores; spread the probe first. The k
    # membership tests ride k COLUMNS + k broadcast hash joins — the
    # explode-to-position-grain form re-aggregated the fact stream
    # through a (orderkey, custkey) shuffle to undo its own 3× fan-out
    # (59 s at the 64× probe); this form never shuffles the fact side
    # at all (3.7 s, 0.37× the DuckDB oracle, identical output).
    probe = orders.repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        "o_custkey",
        *[
            F.expr(
                _bloom_pos("o_custkey", s, "cast(o_custkey as string)")
            ).alias(f"pos{s}")
            for s in range(_BLOOM_K)
        ],
    )
    for s in range(_BLOOM_K):
        ws = words.select(
            F.col("word").alias(f"word{s}"), F.col("bits").alias(f"bits{s}")
        )
        probe = probe.join(
            F.broadcast(ws),
            F.floor(F.col(f"pos{s}") / 32.0).cast("long")
            == F.col(f"word{s}"),
            "left",
        )
    tests = [
        F.coalesce(
            F.col(f"bits{s}").bitwiseAND(
                F.expr(f"shiftleft(cast(1 as bigint), pos{s} % 32)")
            )
            != 0,
            F.lit(False),
        )
        for s in range(_BLOOM_K)
    ]
    all_hit = tests[0]
    for t in tests[1:]:
        all_hit = all_hit & t
    flagged = probe.select(
        "o_custkey", all_hit.alias("bloom_pass")
    ).join(
        F.broadcast(dim), F.col("o_custkey") == dim.c_custkey, "left"
    ).select(
        "bloom_pass",
        F.col("c_custkey").isNotNull().alias("exact_match"),
    )
    fill = words.agg(
        F.sum(F.bit_count("bits")).alias("bits_set")
    )
    bp = F.col("bloom_pass")
    ex = F.col("exact_match")
    return (
        flagged.crossJoin(F.broadcast(fill))
        .groupBy("bits_set")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(ex, 1).otherwise(0)).alias("n_exact_match"),
            F.sum(F.when(bp, 1).otherwise(0)).alias("n_bloom_pass"),
            F.sum(F.when(bp & ~ex, 1).otherwise(0)).alias(
                "n_false_positive"
            ),
            (
                F.sum(F.when(bp & ~ex, 1).otherwise(0))
                / F.sum(F.when(~ex, 1).otherwise(0)).cast("double")
            ).alias("fp_raw"),
        )
        .select(
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("n_exact_match").cast("long").alias("n_exact_match"),
            F.col("n_bloom_pass").cast("long").alias("n_bloom_pass"),
            F.col("n_false_positive").cast("long").alias(
                "n_false_positive"
            ),
            F.round(F.col("fp_raw"), 6).alias("fp_rate"),
            F.col("bits_set").cast("long").alias("bits_set"),
            F.round(F.col("bits_set") / float(_BLOOM_M), 6).alias(
                "fill_ratio"
            ),
        )
    )


_KMV_TYPES = ("click", "error", "purchase", "signup", "view")
_KMV_PAIRS = [
    (a, b)
    for i, a in enumerate(_KMV_TYPES)
    for b in _KMV_TYPES[i + 1 :]
]


@query(
    "agg_kmv_jaccard",
    f"""
WITH dist AS (
  SELECT DISTINCT event_type AS t,
    md5(concat('kmv#', CAST(user_id AS VARCHAR), '#',
        CAST(CAST(ts AS DATE) AS VARCHAR))) AS hx
  FROM events
),
flags AS (
  SELECT hx,
    {", ".join(
        f"max(CASE WHEN t = '{t}' THEN 1 ELSE 0 END) AS f{i}"
        for i, t in enumerate(_KMV_TYPES)
    )}
  FROM dist GROUP BY hx
),
pairs AS (
  SELECT * FROM (VALUES
    {", ".join(f"('{a}', '{b}')" for a, b in _KMV_PAIRS)})
    AS p(ta, tb)
),
memb AS (
  SELECT p.ta, p.tb, f.hx,
    CASE p.ta {" ".join(
        f"WHEN '{t}' THEN f{i}" for i, t in enumerate(_KMV_TYPES[:-1])
    )} ELSE f{len(_KMV_TYPES) - 1} END AS fa,
    CASE p.tb {" ".join(
        f"WHEN '{t}' THEN f{i}" for i, t in enumerate(_KMV_TYPES[:-1])
    )} ELSE f{len(_KMV_TYPES) - 1} END AS fb
  FROM pairs p CROSS JOIN flags f
),
un AS (
  SELECT ta, tb, fa, fb,
    row_number() OVER (PARTITION BY ta, tb ORDER BY hx) AS rn
  FROM memb WHERE fa = 1 OR fb = 1
),
est AS (
  SELECT ta, tb,
    sum(CASE WHEN rn <= {_KMV_K} AND fa = 1 AND fb = 1
        THEN 1 ELSE 0 END) AS ov,
    sum(CASE WHEN rn <= {_KMV_K} THEN 1 ELSE 0 END) AS denom,
    sum(fa * fb) AS inter_true,
    count(*) AS union_true
  FROM un GROUP BY ta, tb
)
SELECT ta AS type_a, tb AS type_b,
  round(ov * 1.0 / denom, 6) AS jaccard_est,
  round(inter_true * 1.0 / union_true, 6) AS jaccard_true,
  round(round(ov * 1.0 / denom, 6)
        - round(inter_true * 1.0 / union_true, 6), 6) AS err,
  CAST(union_true AS BIGINT) AS union_true
FROM est ORDER BY ta, tb
""",
)
def agg_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch ALGEBRA — the set-overlap estimates the distinct
    sketch family was missing: pairwise Jaccard of user-day audiences
    between all 10 event-type pairs, estimated from the k smallest
    union hashes (overlap among the union's bottom-k / k — the
    standard KMV intersection trick), beside the exact truth + error
    as the audit columns. HLL cannot do intersections except by
    inclusion-exclusion error stacking; KMV reads them straight off
    the sketch, and bottom-k of md5 is deterministic, so even this
    SKETCH gets an exact cross-engine hash oracle.

    Scale shape — neither the truth nor the rank ever fans the hash
    grain out ×10: the exact inter/union truths come from the ≤32-row
    FLAG-COMBINATION rollup (groupBy the 5 membership bits, then pair
    sums over that tiny frame — the full grain is read once, shuffled
    as ≤32 combo rows), and the per-pair rank windows run only on the
    agg_kmv_distinct prefix16 survivors (prefix16·n_min ≤ 4k·65536
    with n_min = the smallest per-type cardinality, so every pair
    union retains ≥ k minima w.h.p.; ≥12-sigma, and the 3-SF hash
    gate re-proves it). The naive fan-out-then-window form measured
    32.3 s at the 64× probe; this form 5.5 s (0.73× the DuckDB
    oracle), identical output.
    Groups smaller than k degrade to exact (denom = union size),
    covered at sf0.001.
    """
    ev = load(spark, sf_dir, "events")
    # No DISTINCT pre-pass: the flag aggregate's max() absorbs raw-event
    # multiplicity, so the hash grain reduces in ONE partial-aggregated
    # shuffle straight off the scan (the oracle keeps its dist CTE —
    # same result, and DuckDB's planner fuses it anyway). n_min and the
    # exact truths then come off the ≤32-row combo frame, so no second
    # pass over the grain exists anywhere.
    raw = ev.select(
        F.col("event_type").alias("t"),
        F.md5(
            F.concat_ws(
                "#",
                F.lit("kmv"),
                F.col("user_id").cast("string"),
                F.col("ts").cast("date").cast("string"),
            )
        ).alias("hx"),
    )
    fcols = [f"f{i}" for i in range(len(_KMV_TYPES))]
    flags = (
        raw.groupBy("hx")
        .agg(
            *[
                F.max(F.when(F.col("t") == t, 1).otherwise(0)).alias(f"f{i}")
                for i, t in enumerate(_KMV_TYPES)
            ]
        )
        .localCheckpoint(eager=False)
    )
    pairs = local_frame(spark, _KMV_PAIRS, "ta string, tb string")
    fof = {t: F.col(f"f{i}") for i, t in enumerate(_KMV_TYPES)}

    def pick(side):
        expr = fof[_KMV_TYPES[-1]]
        c = F.col(side)
        for t in reversed(_KMV_TYPES[:-1]):
            expr = F.when(c == t, fof[t]).otherwise(expr)
        return expr

    combos = (
        flags.groupBy(*fcols)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # ≤32 rows; feeds truth AND n_min
    )
    truth = (
        combos.crossJoin(F.broadcast(pairs))
        .select(
            "ta", "tb", "cnt",
            pick("ta").alias("fa"), pick("tb").alias("fb"),
        )
        .groupBy("ta", "tb")
        .agg(
            F.sum(F.col("cnt") * F.col("fa") * F.col("fb")).alias(
                "inter_true"
            ),
            F.sum(
                F.col("cnt")
                * F.greatest(F.col("fa"), F.col("fb"))
            ).alias("union_true"),
        )
    )
    # n_min off the ≤32-row combo frame, NOT a second pass over the
    # hash grain: n_t = Σ cnt·f_t exactly (every hx carries its full
    # membership bits), so the smallest per-type cardinality is pure
    # arithmetic here — the r7 driver bench showed the old
    # dist-re-aggregation re-ran the whole distinct shuffle (2.16 s
    # tail), all to compute five sums the audit rollup already holds.
    n_min = combos.select(
        F.least(
            *[F.sum(F.col("cnt") * F.col(f)) for f in fcols]
        ).alias("n_min")
    )
    survivors = flags.crossJoin(F.broadcast(n_min)).filter(
        F.expr("conv(substring(hx, 1, 4), 16, 10)").cast("long")
        * F.col("n_min")
        <= F.lit(4 * _KMV_K * 65536)
    )
    memb = (
        survivors.crossJoin(F.broadcast(pairs))
        .select(
            "ta", "tb", "hx",
            pick("ta").alias("fa"), pick("tb").alias("fb"),
        )
        .filter((F.col("fa") == 1) | (F.col("fb") == 1))
    )
    w = Window.partitionBy("ta", "tb").orderBy("hx")
    un = memb.select(
        "ta", "tb", "fa", "fb", F.row_number().over(w).alias("rn")
    )
    sketch = un.filter(F.col("rn") <= _KMV_K).groupBy("ta", "tb").agg(
        F.sum(F.col("fa") * F.col("fb")).alias("ov"),
        F.count(F.lit(1)).alias("denom"),
    )
    est = sketch.join(truth, ["ta", "tb"])
    jac_est = F.round(F.col("ov") / F.col("denom").cast("double"), 6)
    jac_true = F.round(
        F.col("inter_true") / F.col("union_true").cast("double"), 6
    )
    return est.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        jac_est.alias("jaccard_est"),
        jac_true.alias("jaccard_true"),
        F.round(jac_est - jac_true, 6).alias("err"),
        F.col("union_true").cast("long").alias("union_true"),
    ).orderBy("type_a", "type_b")
