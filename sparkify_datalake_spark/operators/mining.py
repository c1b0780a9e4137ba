"""Association-rule mining primitives (SURVEY §2 I-sexies family):
market-basket pair counting with support/confidence/lift — the a-priori
first pass every retail/recsys pipeline runs, expressed as the
self-join-with-cap shape that survives scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkify_datalake_spark.functions.determinism import cents_long
from sparkify_datalake_spark.registry import query
from sparkify_datalake_spark.sources.load import load, local_frame


def _baskets(spark: SparkSession, sf_dir: str, cap: int) -> DataFrame:
    """Distinct-item baskets as sorted arrays, capped at `cap` items,
    spread to full machine width for the downstream combination
    fan-out.

    One order-grain aggregate: collect_set dedupes (order, item) inside
    the partial buffers (no separate DISTINCT shuffle; buffer size is
    bounded by the true per-order distinct-item count — ~4 in the
    fixture family — and ObjectHashAggregate falls back to sort-based
    merge under pressure). The trailing repartition is the wedge-join
    AQE lesson (§7.3): the aggregate's output is byte-tiny so AQE
    coalesces it to a handful of partitions, and the C(d,2)/C(d,3)
    explode that follows would run nearly serial — the basket-grain
    exchange is tiny (one array row per order) and buys a full-width
    fan-out stage at any scale.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") <= cap)
        .repartition(spark.sparkContext.defaultParallelism)
    )


def _pair_counts(baskets: DataFrame) -> DataFrame:
    """(a, b, n) co-occurrence counts, a < b, from sorted basket
    arrays — generator-only fan-out (posexplode + slice + explode, all
    whole-stage-codegen; the transform-lambda formulation measured
    2.5× slower at sf0.1 because Catalyst interprets HOF lambdas per
    element). Emits ≤ C(cap, 2) rows per basket, then one pair-grain
    shuffle.
    """
    ps = F.col("parts")
    return (
        baskets.select(F.posexplode(ps).alias("i", "a"), ps)
        .select(
            "a",
            F.explode(
                F.slice(ps, F.col("i") + F.lit(2), F.size(ps))
            ).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )

_MAX_BASKET = 50
_TOP_PAIRS = 20


@query(
    "mine_basket_pairs",
    f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
sized AS (
  SELECT l_orderkey FROM items GROUP BY 1 HAVING count(*) <= {_MAX_BASKET}
),
kept AS (
  SELECT i.l_orderkey, i.l_partkey FROM items i
  JOIN sized s ON i.l_orderkey = s.l_orderkey
),
stats AS (
  SELECT (SELECT count(*) FROM sized) AS n_orders
),
item_n AS (
  SELECT l_partkey, count(*) AS n FROM kept GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS pair_n
  FROM kept a JOIN kept b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, pair_n,
  round(pair_n / CAST(s.n_orders AS DOUBLE), 6) AS support,
  round(pair_n / CAST(ia.n AS DOUBLE), 6) AS confidence_a_b,
  round((pair_n * CAST(s.n_orders AS DOUBLE)) / (ia.n * CAST(ib.n AS DOUBLE)),
        6) AS lift
FROM pairs
JOIN item_n ia ON ia.l_partkey = part_a
JOIN item_n ib ON ib.l_partkey = part_b
CROSS JOIN stats s
ORDER BY pair_n DESC, part_a, part_b
LIMIT {_TOP_PAIRS}
""",
)
def mine_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis, a-priori first pass: the top-20
    co-purchased part pairs with support, confidence(a→b) and lift.

    The scale-shaped formulation (r10 rewrite): baskets collapse to
    sorted distinct-item arrays in ONE order-grain aggregate
    (collect_set dedupes inside the partial buffers — no separate
    DISTINCT shuffle), oversized baskets are capped ( > 50 items — a
    warehouse order that co-occurs with everything carries no signal),
    and pairs generate from the sorted array through codegen
    generators: ≤ C(50,2) = 1225 rows per basket, so the fan-out is a
    bounded map-side explode, never a data-sized self-join. The r9
    shape (eager localCheckpoint of the kept items frame feeding a
    self-equi-join) heap-died at the 256× probe materializing ~0.6 G
    rows in row format; this shape carries nothing bigger than the
    pair-grain counts. Pass 1 bounded-collects the top-20 pairs
    (TakeOrderedAndProject over a total order). Pass 2 explodes
    singles with a per-basket -1 sentinel prepended, filtered to the
    ≤ 40 surviving keys — item counts AND n_orders (the sentinel's
    count) in one ≤ 41-row collect. The 20-row assembly re-enters as
    literals with the SAME round/division expressions as before — the
    6dp ratios stay bit-identical to the oracle.
    """
    baskets = _baskets(spark, sf_dir, _MAX_BASKET)
    head = (
        _pair_counts(baskets)
        .orderBy(F.col("n").desc(), "a", "b")
        .limit(_TOP_PAIRS)
        .collect()
    )
    top = [(int(r["a"]), int(r["b"]), int(r["n"])) for r in head]
    item_n: dict[int, int] = {}
    n_orders = 0
    keys = sorted({a for a, _, _ in top} | {b for _, b, _ in top})
    if keys:
        singles = (
            baskets.select(
                F.explode(
                    F.concat(
                        F.array(F.lit(-1).cast("long")), F.col("parts")
                    )
                ).alias("p")
            )
            .filter(
                (F.col("p") == -1)
                | F.col("p").isin([int(k) for k in keys])
            )
            .groupBy("p")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        counts = {int(r["p"]): int(r["n"]) for r in singles}
        n_orders = counts.pop(-1, 0)
        item_n = counts
    schema = (
        "part_a long, part_b long, pair_n long, "
        "n_a long, n_b long, n_orders long"
    )
    out = local_frame(
        spark,
        [(a, b, n, item_n[a], item_n[b], n_orders) for a, b, n in top],
        schema,
    )
    return (
        out.select(
            "part_a",
            "part_b",
            "pair_n",
            F.round(
                F.col("pair_n") / F.col("n_orders").cast("double"), 6
            ).alias("support"),
            F.round(
                F.col("pair_n") / F.col("n_a").cast("double"), 6
            ).alias("confidence_a_b"),
            F.round(
                (F.col("pair_n") * F.col("n_orders").cast("double"))
                / (F.col("n_a") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("pair_n").desc(), "part_a", "part_b")
        .limit(_TOP_PAIRS)
    )


@query(
    "mine_abc_pareto",
    """
WITH part_rev AS (
  SELECT l_partkey,
    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem GROUP BY 1
),
ranked AS (
  SELECT l_partkey, rev,
    CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      / CAST(sum(rev) OVER () AS DOUBLE) AS cum_share
  FROM part_rev
)
SELECT l_partkey,
  CAST(round(rev, 2) AS DOUBLE) AS revenue,
  round(cum_share, 6) AS cum_share,
  CASE WHEN cum_share <= 0.8 THEN 'A'
       WHEN cum_share <= 0.95 THEN 'B'
       ELSE 'C' END AS abc_class
FROM ranked
""",
)
def mine_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto classification of parts by revenue (A = first 80% of
    cumulative revenue, B to 95%, C the tail) — the inventory/catalog
    prioritization every supply-chain and catalog-curation pipeline
    runs, and the batch shape behind "head/torso/tail" corpus splits.

    Facts partial-aggregate to per-part revenue first; the ranked
    cumulative share runs over THAT frame (|parts| rows — at 100 TB
    still a global sort, but of the dimension cardinality, and the
    two-phase ntile pattern applies if parts themselves explode). The
    running sum stays DECIMAL (exact at any order), the share divides
    two exact-decimal-derived doubles, and (rev DESC, partkey) is a
    total order — class boundaries are engine-exact, computed from the
    UNROUNDED share so the 6dp display round can't flip a boundary row.
    """
    li = load(spark, sf_dir, "lineitem")
    part_rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev")
    )
    w_cum = Window.orderBy(
        F.col("rev").desc(), "l_partkey"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    cum_share = F.sum("rev").over(w_cum).cast("double") / F.sum("rev").over(
        w_all
    ).cast("double")
    ranked = part_rev.select(
        "l_partkey",
        F.round("rev", 2).cast("double").alias("revenue"),
        cum_share.alias("cum_share_raw"),
    )
    return ranked.select(
        "l_partkey",
        "revenue",
        F.round("cum_share_raw", 6).alias("cum_share"),
        F.when(F.col("cum_share_raw") <= 0.8, "A")
        .when(F.col("cum_share_raw") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@query(
    "events_cooccurrence_pmi",
    """
WITH txn AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
         event_type
  FROM events
),
n_txn AS (
  SELECT count(*) AS n FROM (SELECT DISTINCT user_id, d FROM txn) t
),
singles AS (
  SELECT event_type, count(*) AS n FROM txn GROUP BY 1
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_ab
  FROM txn a JOIN txn b
    ON a.user_id = b.user_id AND a.d = b.d
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_ab,
  round(ln((n_ab * CAST(t.n AS DOUBLE)) / (sa.n * CAST(sb.n AS DOUBLE))),
        6) AS pmi,
  round(n_ab / CAST(sa.n + sb.n - n_ab AS DOUBLE), 6) AS jaccard
FROM pairs
JOIN singles sa ON sa.event_type = type_a
JOIN singles sb ON sb.event_type = type_b
CROSS JOIN n_txn t
""",
)
def events_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types co-occurring in
    the same (user, day) session-unit — the signal behind "users who do
    A also do B" features. Same candidate-generation skeleton as
    mine_basket_pairs (DISTINCT to presence grain, ordered self-join on
    the transaction key, broadcast-joined marginals) but over behavioral
    sessions: the self-join output is bounded by sum over txns of
    (types-per-txn choose 2) <= 10 pairs/txn with a 5-type vocabulary,
    so the shuffle is O(transactions), never O(users^2). PMI > 0 means
    the pair co-occurs more than independence predicts; jaccard rides
    along as the set-overlap twin. Counts are exact ints; the two float
    columns round at 6dp.
    """
    ev = load(spark, sf_dir, "events")
    # ONE (user, day) grouping replaces the former DISTINCT + ordered
    # self-join (r12): the per-transaction type set is ≤ |vocabulary|
    # (5), so pairs come from a bounded in-row combination fan-out —
    # the mine_basket_pairs generator discipline — instead of a second
    # full shuffle of the transaction frame joined against itself.
    # Exchange reuse serves the three rollups of the shared grouping;
    # a lazy checkpoint A/B-measured no better (its build jobs offset
    # the reuse it buys).
    txg = ev.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.array_sort(F.collect_set("event_type")).alias("types"))
    # 1-row scalar, broadcast-joined below (no driver-side action).
    n_txn = txg.agg(F.count(F.lit(1)).cast("double").alias("n_txn"))
    singles = (
        txg.select(F.explode("types").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        txg.select(
            F.explode(
                F.expr(
                    "flatten(transform(types, (x, i) ->"
                    " transform(slice(types, i + 2, size(types) - i - 1),"
                    " y -> struct(x AS type_a, y AS type_b))))"
                )
            ).alias("p")
        )
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_txn))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab") * F.col("n_txn"))
                    / (F.col("n_a") * F.col("n_b").cast("double"))
                ),
                6,
            ).alias("pmi"),
            F.round(
                F.col("n_ab")
                / (F.col("n_a") + F.col("n_b") - F.col("n_ab")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "mine_xyz_variability",
    """
WITH monthly AS (
  SELECT l_partkey, CAST(date_trunc('month', l_shipdate) AS DATE) AS m,
    sum(l_quantity) AS qty
  FROM lineitem GROUP BY 1, 2
),
stats AS (
  SELECT l_partkey,
    count(*) AS n_months,
    avg(qty) AS mean_qty,
    CASE WHEN avg(qty) = 0 THEN NULL
         ELSE stddev_pop(qty) / avg(qty) END AS cv
  FROM monthly GROUP BY 1
),
classed AS (
  SELECT CASE WHEN cv < 0.5 THEN 'X'
              WHEN cv < 1.0 THEN 'Y'
              ELSE 'Z' END AS xyz_class,
         n_months, cv
  FROM stats WHERE n_months >= 3
)
SELECT xyz_class,
  CAST(count(*) AS BIGINT) AS n_parts,
  round(avg(cv), 6) AS avg_cv,
  round(min(cv), 6) AS min_cv,
  round(max(cv), 6) AS max_cv,
  round(avg(n_months), 4) AS avg_months_active
FROM classed
GROUP BY xyz_class
""",
)
def mine_xyz_variability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification (the companion axis to
    mine_abc_pareto's ABC value ranking — together they drive
    stocking/forecasting policy): per-part coefficient of variation of
    monthly shipped quantity, classed X (steady, CV<0.5) / Y / Z
    (erratic, CV≥1). Two aggregations, both partial-map-side: raw rows
    reduce to (part, month) grain in the only big shuffle, then the
    per-part CV and the 3-row class summary ride the grain. Parts
    active under 3 months are excluded (a CV over 1-2 points is
    noise, and both engines would otherwise emit NULL stddev rows for
    single-month parts). stddev_pop avoids Bessel-convention drift and
    matches agg_moments' population discipline; 6dp rounding.
    """
    li = load(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        "l_partkey",
        F.to_date(F.date_trunc("month", "l_shipdate")).alias("m"),
    ).agg(F.sum("l_quantity").alias("qty"))
    stats = monthly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.avg("qty").alias("mean_qty"),
        F.when(F.avg("qty") == 0, None)
        .otherwise(F.stddev_pop("qty") / F.avg("qty"))
        .alias("cv"),
    )
    classed = stats.filter(F.col("n_months") >= 3).select(
        F.when(F.col("cv") < 0.5, "X")
        .when(F.col("cv") < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
        "n_months",
        "cv",
    )
    return classed.groupBy("xyz_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.avg("cv"), 6).alias("avg_cv"),
        F.round(F.min("cv"), 6).alias("min_cv"),
        F.round(F.max("cv"), 6).alias("max_cv"),
        F.round(F.avg("n_months"), 4).alias("avg_months_active"),
    )


@query(
    "mine_hhi_concentration",
    """
WITH rev AS (
  SELECT p.p_brand, l.l_suppkey,
         sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS r
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
),
tot AS (
  SELECT p_brand, sum(r) AS brand_r FROM rev GROUP BY 1
)
SELECT rev.p_brand,
  CAST(count(*) AS BIGINT) AS n_suppliers,
  CAST(round(min(brand_r), 2) AS DOUBLE) AS brand_revenue,
  round(sum(power(CAST(r AS DOUBLE) / CAST(brand_r AS DOUBLE), 2)),
        6) AS hhi,
  round(max(CAST(r AS DOUBLE) / CAST(brand_r AS DOUBLE)), 6)
    AS top_share
FROM rev JOIN tot ON tot.p_brand = rev.p_brand
GROUP BY rev.p_brand
ORDER BY rev.p_brand
""",
)
def mine_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per part brand: Herfindahl–Hirschman
    index (Σ revenue-share², 1/n for perfect competition → 1.0 for a
    monopoly) plus the top supplier's share — the supply-chain-risk
    screen next to mine_abc_pareto (which ranks items; this scores
    how captive a brand's supply is) and events_gini (inequality over
    users; HHI is the market-power flavor).

    Scale shape: facts collapse once to the (brand, supplier) decimal
    revenue grain (partial-aggregatable; the part dim arrives
    broadcast); brand totals re-aggregate that tiny grain and join
    back broadcast. Shares divide identical decimals as doubles, so
    the 6dp HHI is engine-exact; revenue stays decimal until the one
    display round.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    rev = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy("p_brand", "l_suppkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
            ).alias("r")
        )
    )
    # brand totals via a window over the (brand, supplier) grain — a
    # groupBy+join would re-derive the grain and scan lineitem twice
    brand_r = F.sum("r").over(Window.partitionBy("p_brand"))
    rev = rev.withColumn("brand_r", brand_r)
    share = F.col("r").cast("double") / F.col("brand_r").cast("double")
    return (
        rev.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.round(F.min("brand_r"), 2)
            .cast("double")
            .alias("brand_revenue"),
            F.round(F.sum(F.pow(share, 2)), 6).alias("hhi"),
            F.round(F.max(share), 6).alias("top_share"),
        )
        .orderBy("p_brand")
    )


@query(
    "mine_skyline_orders",
    """
WITH pd AS (
  SELECT o_totalprice AS p, CAST(o_orderdate AS DATE) AS d, count(*) AS n
  FROM orders GROUP BY 1, 2
),
top AS (
  SELECT p, d, n FROM (
    SELECT p, d, n,
      row_number() OVER (PARTITION BY p ORDER BY d DESC) AS rn
    FROM pd) t WHERE rn = 1
),
sky AS (
  SELECT p, d, n,
    max(d) OVER (
      ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS md
  FROM top
)
SELECT p AS o_totalprice, d AS skyline_date, n AS n_orders
FROM sky WHERE md IS NULL OR d > md
""",
)
def mine_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query over orders: the set of orders no
    other order beats on BOTH price (lower better) and recency (newer
    better) — the multi-criteria shortlist operator (cheapest-and-
    freshest) relational engines answer with dominance semantics.

    The 2-D skyline needs no quadratic dominance join: sort the distinct
    price points ascending and keep a point iff its date beats the
    running max date of all strictly-cheaper points (equal-price groups
    first reduce to their newest date, which dominates the rest). The
    oracle states exactly that single-pass formulation; dominance-
    definition equivalence is pinned separately by a brute-force
    NOT-EXISTS twin over sf0.001 in tests/test_skyline.py.

    Scale shape: the running max is an UNPARTITIONED window — a
    single-task sort at 100 TB — so it runs two-phase over band-width
    price bins like win_ntile_twophase's rank offsets, with one extra
    dominance-specific pruning step that changes the cost class:
    points with d ≤ the prefix-max of the bins BELOW are (a) dominated
    and (b) unable to raise any survivor's running max above that same
    prefix — so they drop BEFORE the in-bin window, via a broadcast
    map-side filter. The only sorted window then runs over the few
    prefix-beating candidates (KB-sized on non-adversarial data;
    measured 14.5 s → ~6 s at the 64× probe), and the per-point order
    count comes from re-scanning orders against the broadcast skyline
    — the skyline of independent dimensions is O(log n) expected, and
    an adversarial fully-anticorrelated dataset degrades to the sort,
    not to a quadratic join. Higher dimensions need the
    block-nested-loop partition variant instead.
    """
    BAND = 1000.0
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("p"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    # newest date per distinct price (equal-price groups: the newest
    # dominates the rest) — one partial-aggregated shuffle from raw
    pp = (
        orders.groupBy("p")
        .agg(F.max("d").alias("d"))
        .withColumn("bin", F.floor(F.col("p") / F.lit(BAND)).cast("long"))
    )
    bin_max = pp.groupBy("bin").agg(F.max("d").alias("bin_max_d"))
    w_pref = (
        Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = bin_max.select(
        "bin",
        F.coalesce(
            F.max("bin_max_d").over(w_pref),
            F.lit("0001-01-01").cast("date"),
        ).alias("below_bin_d"),
    )
    # dominance pruning BEFORE the window: d <= below_bin_d rows are
    # dominated and cannot raise a survivor's running max either
    cand = pp.join(F.broadcast(prev), "bin").filter(
        F.col("d") > F.col("below_bin_d")
    )
    w_run = (
        Window.partitionBy("bin")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = (
        cand.withColumn(
            "run_d",
            F.coalesce(
                F.max("d").over(w_run), F.lit("0001-01-01").cast("date")
            ),
        )
        .filter(F.col("d") > F.col("run_d"))
        .select("p", "d")
    )
    # per-point order counts: re-scan against the skyline. UNHINTED on
    # purpose: the skyline is KB-sized on independent dimensions (AQE
    # broadcasts it → map-side semi-join), but on anticorrelated
    # price/date data it approaches the distinct-price count, and a
    # forced broadcast there is a driver-OOM hazard — AQE falls back
    # to a shuffle join whose child side is the tiny skyline grain
    return (
        orders.join(sky, ["p", "d"])
        .groupBy("p", "d")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("p").alias("o_totalprice"),
            F.col("d").alias("skyline_date"),
            F.col("n").alias("n_orders"),
        )
    )


@query(
    "mine_price_elasticity",
    """
WITH pts AS (
  SELECT p.p_type,
    ln(sum(CAST(floor(round(l.l_extendedprice * 100)) AS BIGINT)) / 100.0
       / sum(CAST(floor(round(l.l_quantity)) AS BIGINT))) AS lx,
    ln(CAST(sum(CAST(floor(round(l.l_quantity)) AS BIGINT)) AS DOUBLE)) AS ly
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_type, l.l_partkey
)
SELECT p_type,
  count(*) AS n_parts,
  round(regr_slope(ly, lx), 6) AS elasticity,
  round(regr_intercept(ly, lx), 6) AS intercept,
  round(regr_r2(ly, lx), 6) AS r2
FROM pts GROUP BY p_type
""",
)
def mine_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity of demand per part type: each part
    contributes one (ln avg unit price, ln total quantity) point, and
    the per-type OLS slope of ln-quantity on ln-price IS the elasticity
    — the pricing-analytics regression run straight in the engine, no
    export to a stats stack.

    Determinism: both sums feeding the logs are EXACT integers (cents
    via the cents_long discipline, quantities are integral doubles), so
    the division and ln see bit-identical operands in both engines and
    the REGR_* moment arithmetic differences stay ~1e-12 — absorbed by
    6dp rounding exactly like agg_linreg. Scale: p_type is functionally
    determined by the part key, so lineitem aggregates to the per-part
    grain BEFORE meeting the dimension — the partial-agg exchange
    carries |parts| combined rows, not |lineitem| raw ones (38M → 1.3M
    at the 64× probe, measured 10.9 s → ~4 s; joining first shuffled
    the whole fact because the 1.3M-key dimension outgrows the
    broadcast threshold). The regression itself is moment arithmetic
    over |parts| rows.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    # floor(x + 0.5), NOT F.round().cast(): matches the oracle's
    # floor(round()) half-up semantics on any positive quantity
    # (2.6 → 3, 24.999999 → 25 — a truncating cast diverged on
    # non-integral values) while staying in codegen-native floor;
    # Spark's Round on DoubleType routes through BigDecimal per row —
    # measured ~2 s extra on the 38M-row scan at the 64× probe
    qty_long = F.floor(F.col("l_quantity") + F.lit(0.5))
    per_part = li.groupBy("l_partkey").agg(
        F.sum(cents_long("l_extendedprice")).alias("cents"),
        F.sum(qty_long).alias("qty"),
    )
    pts = (
        per_part.join(
            part.select("p_partkey", "p_type"),
            per_part.l_partkey == F.col("p_partkey"),
        )
        .select(
            "p_type",
            F.log(
                (F.col("cents") / F.lit(100.0)) / F.col("qty")
            ).alias("lx"),
            F.log(F.col("qty").cast("double")).alias("ly"),
        )
    )
    return pts.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.regr_slope(F.col("ly"), F.col("lx")), 6).alias(
            "elasticity"
        ),
        F.round(F.regr_intercept(F.col("ly"), F.col("lx")), 6).alias(
            "intercept"
        ),
        F.round(F.regr_r2(F.col("ly"), F.col("lx")), 6).alias("r2"),
    )


@query(
    "orders_hill_tail_index",
    """
WITH top AS (
  SELECT o_totalprice FROM orders
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 501
),
thr AS (SELECT min(o_totalprice) AS xk FROM top),
hd AS (
  SELECT o_totalprice FROM orders
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 500
)
SELECT
  CAST(count(*) AS BIGINT) AS k_used,
  round(any_value(t.xk), 2) AS x_threshold,
  round(count(*) / sum(ln(hd.o_totalprice / t.xk)), 6) AS hill_alpha,
  round(avg(ln(hd.o_totalprice / t.xk)), 6) AS mean_log_excess
FROM hd CROSS JOIN thr t
""",
)
def orders_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail index over the top-500
    orders: α̂ = k / Σ ln(x_i / x_(k+1)) — the standard power-law
    heaviness gauge (α ≤ 2 ⇒ infinite variance: percentile SLAs and
    mean-based capacity planning stop working). Complements
    mine_abc_pareto (cumulative concentration) and stat_benford (digit
    law) with the extreme-value view.

    The only corpus-sized work is two bounded top-k heaps
    (TakeOrderedAndProject — per-partition heaps, no global sort);
    ties pin deterministically via the (price DESC, orderkey) total
    order. The 500-term ln sum reduces identical doubles in both
    engines; 6dp rounding absorbs summation-order noise (the
    text_zipf_fit precedent).
    """
    orders = load(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey"
    )
    ordered = orders.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    thr = ordered.limit(501).agg(F.min("o_totalprice").alias("xk"))
    hd = ordered.limit(500).select("o_totalprice")
    lx = F.log(F.col("o_totalprice") / F.col("xk"))
    return (
        hd.crossJoin(F.broadcast(thr))
        .agg(
            F.count(F.lit(1)).alias("_k"),
            F.any_value(F.col("xk")).alias("_xk"),
            F.sum(lx).alias("_slog"),
            F.avg(lx).alias("_mlog"),
        )
        .select(
            F.col("_k").cast("long").alias("k_used"),
            F.round("_xk", 2).alias("x_threshold"),
            F.round(F.col("_k") / F.col("_slog"), 6).alias("hill_alpha"),
            F.round("_mlog", 6).alias("mean_log_excess"),
        )
    )


# Triples are a ×basket fan-out beyond pairs: cap baskets harder and
# keep only pairs that clear a support floor before extending (the
# a-priori property — every sub-pair of a frequent triple is frequent).
_TRIPLE_MAX_BASKET = 25
_TRIPLE_MIN_PAIR_N = 3
_TOP_TRIPLES = 15


@query(
    "mine_basket_triples",
    f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
sized AS (
  SELECT l_orderkey FROM items
  GROUP BY 1 HAVING count(*) <= {_TRIPLE_MAX_BASKET}
),
kept AS (
  SELECT i.l_orderkey, i.l_partkey FROM items i
  JOIN sized s ON i.l_orderkey = s.l_orderkey
),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n
  FROM kept a JOIN kept b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_TRIPLE_MIN_PAIR_N}
),
tri AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, c.l_partkey AS pc,
         count(*) AS triple_n
  FROM kept a
  JOIN kept b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN pairs p ON p.pa = a.l_partkey AND p.pb = b.l_partkey
  JOIN kept c ON a.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
  GROUP BY 1, 2, 3
),
stats AS (SELECT (SELECT count(*) FROM sized) AS n_orders)
SELECT pa AS part_a, pb AS part_b, pc AS part_c,
  CAST(triple_n AS BIGINT) AS triple_n,
  round(triple_n / CAST(s.n_orders AS DOUBLE), 6) AS support
FROM tri CROSS JOIN stats s
ORDER BY triple_n DESC, part_a, part_b, part_c
LIMIT {_TOP_TRIPLES}
""",
)
def mine_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori second pass: the top-15 co-purchased part TRIPLES with
    support — the 3-itemset extension of mine_basket_pairs (pair lift
    finds affinities; triples find bundles).

    Scale shape is the a-priori pruning ladder (r10 rewrite): baskets
    collapse to sorted distinct-item arrays in one order-grain
    collect_set aggregate and cap at {_TRIPLE_MAX_BASKET} items, then
    BOTH candidate grains generate from the sorted array through
    codegen generators — pairs (≤ C(25,2) = 300 rows/basket) and
    triples (≤ C(25,3) = 2300) — so nothing bigger than the count
    grains ever shuffles (the r9 shape checkpointed the kept-items
    frame for a 3-way self-join; that materialization heap-died at the
    256× probe in the pairs sibling). The a-priori prune is a
    key-grain LEFT SEMI of the triple counts against frequent (a,b)
    prefixes (pair support ≥ {_TRIPLE_MIN_PAIR_N} — every sub-pair of
    a frequent triple is frequent, so pruning candidates pre- or
    post-count is lossless and the counts are identical). Pass 1
    bounded-collects the top-15 (total order); pass 2 is the 1-row
    basket count. Ratios divide identical integers (6dp-exact) in the
    literal re-entry frame.
    """
    baskets = _baskets(spark, sf_dir, _TRIPLE_MAX_BASKET)
    freq_pairs = (
        _pair_counts(baskets)
        .filter(F.col("n") >= _TRIPLE_MIN_PAIR_N)
        .select("a", "b")
    )
    ps = F.col("parts")
    tri = (
        baskets.select(F.posexplode(ps).alias("i", "a"), ps)
        .select(
            "a",
            F.posexplode(
                F.slice(ps, F.col("i") + F.lit(2), F.size(ps))
            ).alias("j", "b"),
            ps,
            "i",
        )
        .select(
            "a",
            "b",
            F.explode(
                F.slice(
                    ps, F.col("i") + F.col("j") + F.lit(3), F.size(ps)
                )
            ).alias("c"),
        )
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(freq_pairs, ["a", "b"], "semi")
    )
    head = (
        tri.orderBy(F.col("n").desc(), "a", "b", "c")
        .limit(_TOP_TRIPLES)
        .collect()
    )
    top = [
        (int(r["a"]), int(r["b"]), int(r["c"]), int(r["n"])) for r in head
    ]
    n_orders = 0
    if top:
        n_orders = int(
            baskets.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
        )
    out = local_frame(
        spark,
        [(a, b, c, n, n_orders) for a, b, c, n in top],
        "part_a long, part_b long, part_c long, "
        "triple_n long, n_orders long",
    )
    return (
        out.select(
            "part_a",
            "part_b",
            "part_c",
            F.col("triple_n").cast("long").alias("triple_n"),
            F.round(
                F.col("triple_n") / F.col("n_orders").cast("double"), 6
            ).alias("support"),
        )
        .orderBy(
            F.col("triple_n").desc(), "part_a", "part_b", "part_c"
        )
        .limit(_TOP_TRIPLES)
    )


@query(
    "mine_sequential_pairs",
    """
WITH fb AS (
  SELECT o.o_custkey AS c, l.l_partkey AS p,
    min(CAST(o.o_orderdate AS DATE)) AS d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
topp AS (
  SELECT p FROM (
    SELECT p, count(*) AS buyers FROM fb GROUP BY p
    ORDER BY buyers DESC, p LIMIT 100)
),
fbt AS (SELECT fb.* FROM fb JOIN topp USING (p)),
nx AS (SELECT p, count(*) AS n_x FROM fbt GROUP BY p),
pr AS (
  SELECT a.p AS px, b.p AS py, count(*) AS n_xy
  FROM fbt a JOIN fbt b ON a.c = b.c AND a.d < b.d AND a.p <> b.p
  GROUP BY 1, 2
)
SELECT px, py, CAST(n_xy AS BIGINT) AS n_xy,
  CAST(nx.n_x AS BIGINT) AS n_x,
  round(n_xy * 1.0 / nx.n_x, 6) AS confidence
FROM pr JOIN nx ON pr.px = nx.p
ORDER BY n_xy DESC, px, py LIMIT 20
""",
)
def mine_sequential_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential purchase rules ("bought X, LATER bought Y") — the
    cross-order, time-ordered sibling of mine_basket_pairs' within-order
    co-occurrence: support counts customers whose FIRST purchase of X
    strictly precedes their first purchase of Y, confidence divides by
    X's buyer count. Strict date inequality (same-day pairs excluded)
    keeps the relation antisymmetric and engine-deterministic.

    Scale shape: the (customer, part) first-purchase grain is one
    groupBy; the pair self-join is restricted to the top-100 parts by
    buyer count FIRST (bounded heap, then a broadcast semi-join) — the
    mine_basket_pairs basket-cap discipline applied to sequences, so
    per-customer fan-out is (top-part holdings)², a handful, never
    (all holdings)². As the catalog grows the top-100 filter gets MORE
    selective, so the pair stage shrinks relative to the corpus at
    scale. Top-20 under a total order is a bounded heap.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    fb = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .agg(F.min(F.col("o_orderdate").cast("date")).alias("d"))
    )
    topp = (
        fb.groupBy("p")
        .agg(F.count(F.lit(1)).alias("buyers"))
        .orderBy(F.col("buyers").desc(), "p")
        .limit(100)
        .select("p")
    )
    fbt = fb.join(F.broadcast(topp), "p").localCheckpoint()
    nx = fbt.groupBy("p").agg(F.count(F.lit(1)).alias("n_x"))
    a = fbt.select(
        F.col("c").alias("ca"), F.col("p").alias("px"), F.col("d").alias("da")
    )
    b = fbt.select(
        F.col("c").alias("cb"), F.col("p").alias("py"), F.col("d").alias("db")
    )
    pr = (
        a.join(
            b,
            (F.col("ca") == F.col("cb"))
            & (F.col("da") < F.col("db"))
            & (F.col("px") != F.col("py")),
        )
        .groupBy("px", "py")
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    return (
        pr.join(
            F.broadcast(nx.select(F.col("p").alias("px"), "n_x")), "px"
        )
        .select(
            "px",
            "py",
            F.col("n_xy").cast("long").alias("n_xy"),
            F.col("n_x").cast("long").alias("n_x"),
            F.round(F.col("n_xy") / F.col("n_x").cast("double"), 6).alias(
                "confidence"
            ),
        )
        .orderBy(F.col("n_xy").desc(), "px", "py")
        .limit(20)
    )


@query(
    "events_audience_overlap",
    """
WITH tu AS (
  SELECT DISTINCT event_type AS t, user_id AS u FROM events
),
sizes AS (
  SELECT t, count(*) AS n FROM tu GROUP BY 1
),
pairs AS (
  SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_both
  FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
  GROUP BY 1, 2
)
SELECT type_a, type_b,
  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
  CAST(n_both AS BIGINT) AS n_both,
  round(n_both / CAST(sa.n + sb.n - n_both AS DOUBLE), 6) AS jaccard,
  round(n_both / CAST(least(sa.n, sb.n) AS DOUBLE), 6) AS containment
FROM pairs
JOIN sizes sa ON sa.t = type_a
JOIN sizes sb ON sb.t = type_b
""",
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: for every type
    pair, the distinct-user intersection with Jaccard and
    smaller-side containment — the segment-overlap matrix behind
    "do purchasers also file errors?" audience questions, and the
    cross-source sibling of dedup_cross_source_overlap on the events
    side.

    Scale shape (the mine_basket_pairs generator discipline, not a
    data-sized self-join): one distinct shuffle collapses events to
    per-user sorted type-set arrays (collect_set dedupes inside the
    partial buffers), then singles [t, NULL] and ordered pairs [a, b]
    generate map-side from each ≤|types|-long array — fan-out is
    C(|types|, 2) per user, bounded by the type vocabulary, never by
    events. One tiny (a, b)-keyed count shuffle (≤ |types|² rows)
    follows; the per-type audience sizes are the NULL-b rows of the
    SAME aggregate (lazily checkpointed — both consumers read the
    15-row result, not the events scan), bounded-collected as a
    literal map for the ratio assembly. Ratios use the oracle's exact
    division expressions on integer counts.
    """
    ev = load(spark, sf_dir, "events")
    per_user = (
        ev.select("user_id", "event_type")
        .distinct()
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("ts"))
    )
    combined = F.expr(
        """
        concat(
          transform(ts, x -> struct(x AS a, CAST(NULL AS STRING) AS b)),
          flatten(transform(ts, (x, i) ->
            transform(slice(ts, i + 2, size(ts)),
                      y -> struct(x AS a, y AS b))))
        )
        """
    )
    counts = (
        per_user.select(F.explode(combined).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)  # ≤ |types|² rows, two consumers
    )
    sizes = {
        r["a"]: int(r["n"]) for r in counts.filter(F.col("b").isNull()).collect()
    }
    size_map = F.create_map(
        *[F.lit(x) for kv in sizes.items() for x in kv]
    )
    n_a = size_map[F.col("a")]
    n_b = size_map[F.col("b")]
    n_both = F.col("n")
    return counts.filter(F.col("b").isNotNull()).select(
        F.col("a").alias("type_a"),
        F.col("b").alias("type_b"),
        n_a.cast("long").alias("n_a"),
        n_b.cast("long").alias("n_b"),
        n_both.cast("long").alias("n_both"),
        F.round(
            n_both / (n_a + n_b - n_both).cast("double"), 6
        ).alias("jaccard"),
        F.round(
            n_both / F.least(n_a, n_b).cast("double"), 6
        ).alias("containment"),
    )


@query(
    "mine_cross_elasticity",
    """
WITH weekly AS (
  SELECT p.p_type,
    CAST(date_trunc('week', l.l_shipdate) AS DATE) AS wk,
    sum(CAST(floor(round(l.l_extendedprice * 100)) AS BIGINT)) AS rev_c,
    sum(CAST(floor(round(l.l_quantity)) AS BIGINT)) AS qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
px AS (
  SELECT p_type AS price_type, wk,
    ln(rev_c / 100.0 / qty) AS lp
  FROM weekly
),
qy AS (
  SELECT p_type AS demand_type, wk,
    ln(CAST(qty AS DOUBLE)) AS lq
  FROM weekly
)
SELECT px.price_type, qy.demand_type,
  CAST(count(*) AS BIGINT) AS n_weeks,
  round(regr_slope(qy.lq, px.lp), 6) AS cross_elasticity,
  round(regr_r2(qy.lq, px.lp), 6) AS r2
FROM px JOIN qy ON px.wk = qy.wk
GROUP BY px.price_type, qy.demand_type
""",
)
def mine_cross_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-price elasticity matrix between part types: the
    regression slope of ln(weekly demand of type B) on ln(weekly avg
    price of type A) for every (A, B) pair — the substitution/
    complement readout mine_price_elasticity (own-price, part grain)
    cannot give: a positive off-diagonal slope says B substitutes for
    A (A gets pricier, B sells more), negative says complement. The
    diagonal is the own-price WEEKLY elasticity, a deliberate
    different-grain anchor against the part-grain one.

    Determinism: weekly price and quantity come from exact
    integer-cents / integer-quantity sums (one division each before
    ln), so the regression inputs are engine-identical doubles; the
    regr_* co-moment sums follow the mine_price_elasticity precedent
    (6 dp rounding). Scale shape: lineitem contracts to the
    (type, week) grain map-side (|types|×|weeks| rows at any SF);
    the pair matrix is a |weeks|-keyed equijoin of that tiny grain
    with itself — |types|² fan-out per week, bounded by the type
    vocabulary, never by data.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    weekly = (
        li.join(F.broadcast(part.select("p_partkey", "p_type")),
                li.l_partkey == F.col("p_partkey"))
        .groupBy(
            "p_type",
            F.to_date(F.date_trunc("week", "l_shipdate")).alias("wk"),
        )
        .agg(
            # cents_long / floor(x+0.5): oracle-identical half-up on
            # positive values WITHOUT Spark's per-row BigDecimal Round
            # on DoubleType (~2 s per rounded column on the 38M-row
            # scan at 64x — the mine_price_elasticity lesson)
            F.sum(cents_long("l_extendedprice")).alias("rev_c"),
            F.sum(
                F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
            ).alias("qty"),
        )
    )
    # Bounded collect: the weekly grain is |types| x |weeks| rows
    # (calendar-bounded at ANY corpus scale — ~2.2k rows here), and it
    # has two consumers; a lazy checkpoint still forces the upstream
    # stages as driver-side build jobs AND leaves a row-format re-read
    # (r10 lesson). Collecting the grain once and re-entering it as a
    # local frame costs one driver round-trip and removes the second
    # full lineitem scan: measured 10.7 -> ~2 s at the 64x probe.
    weekly = spark.createDataFrame(weekly.toArrow(), weekly.schema)
    px = weekly.select(
        F.col("p_type").alias("price_type"),
        "wk",
        F.log(F.col("rev_c") / 100.0 / F.col("qty")).alias("lp"),
    )
    qy = weekly.select(
        F.col("p_type").alias("demand_type"),
        "wk",
        F.log(F.col("qty").cast("double")).alias("lq"),
    )
    return (
        px.join(qy, "wk")
        .groupBy("price_type", "demand_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_weeks"),
            F.round(F.regr_slope("lq", "lp"), 6).alias(
                "cross_elasticity"
            ),
            F.round(F.regr_r2("lq", "lp"), 6).alias("r2"),
        )
    )
