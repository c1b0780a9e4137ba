"""Join operators (SURVEY.md §2-C): all join types plus range and as-of.

Scale notes (100 TB):
- Equi-joins are declared with plain ``.join`` so Catalyst/AQE pick
  broadcast-hash vs shuffled-hash vs sort-merge from runtime sizes;
  ``join_broadcast`` pins the broadcast path for dimension tables
  (region/nation/customer stay < 10 MB far beyond these fixtures —
  broadcast eliminates the big-side shuffle entirely).
- The range join (key + date window) is an equi-join with a residual
  predicate: it shuffles only on the equi key, the range is a post-join
  filter — never a cartesian.
- The as-of join avoids the classic O(n·m) inequality-join blowup by a
  union + per-user window scan: one shuffle on user_id, one ordered pass —
  the same trick scales to billions of events/user-partitioned data and is
  skew-safe up to per-user volume (salt the union by time-bucket if one
  user dominates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkify_datalake_spark.functions.determinism import (
    cents_long,
    dec2,
    sql_dec2,
    unit_sum,
)
from sparkify_datalake_spark.registry import query
from sparkify_datalake_spark.sources.load import load, local_frame


@query(
    "join_inner",
    """
SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name, c.c_mktsegment
FROM orders o INNER JOIN customer c ON o.o_custkey = c.c_custkey
""",
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer equi-join (Catalyst picks the physical strategy)."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return orders.join(
        customer, orders.o_custkey == customer.c_custkey, "inner"
    ).select("o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment")


@query(
    "join_broadcast",
    """
SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name, c.c_mktsegment
FROM orders o INNER JOIN customer c ON o.o_custkey = c.c_custkey
""",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as join_inner with the broadcast-hash path pinned."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey, "inner"
    ).select("o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment")


_JOIN_SALTS = 16


@query(
    "join_skew_salted",
    """
SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name, c.c_mktsegment
FROM orders o INNER JOIN customer c ON o.o_custkey = c.c_custkey
""",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join — identical result to join_inner (same oracle),
    skew-proof physical shape.

    The skew playbook's join half (agg_salted_twophase is the agg half):
    the fact side gets a deterministic salt pmod(xxhash64(o_orderkey), 16)
    appended to its join key; the dimension side replicates 16× (explode
    of the salt range). A key so hot it would stall one reducer now
    spreads across 16 tasks — at 100 TB this (or AQE skew-join, which
    only splits partitions, not single keys) is what keeps a
    celebrity-key join from wedging the stage. Cost: 16× the (small)
    dimension in the shuffle, zero effect on results — hash-checked
    against the plain-join oracle.
    """
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_JOIN_SALTS - 1)))
    )
    salted = orders.withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(_JOIN_SALTS))
    )
    return salted.join(
        customer,
        (salted.o_custkey == customer.c_custkey)
        & (salted.salt == customer.salt),
        "inner",
    ).select("o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment")


@query(
    "join_3way",
    f"""
SELECT n.n_name,
  CAST(round(sum({sql_dec2('l.l_extendedprice')} * (CAST(1 AS DECIMAL(3,2)) - {sql_dec2('l.l_discount', 4)})), 2) AS DOUBLE) AS revenue,
  count(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def join_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation: lineitem ⋈ orders ⋈ customer ⋈ nation (Q5
    flavor). Revenue rides the long-cents fast path (cents_long ×
    cents_long → unit_sum, the q1_pricing_summary discipline): per-row
    money products codegen to imuls instead of BigDecimal multiplies,
    while accumulation stays exact decimal — identical output, ~2× on
    the per-row arithmetic of this full-lineitem aggregate.

    Two plan choices carry the scale story, both invisible to the
    oracle:
    - Join ORDER: orders ⋈ customer ⋈ nation resolves n_name onto the
      1-row-per-orderkey side FIRST, and lineitem attaches last.
      Written left-deep from lineitem, the 4× larger li ⋈ orders
      output re-shuffles in FULL on o_custkey to reach customer — a
      second fact-sized exchange Catalyst won't reorder away without
      CBO stats.
    - PRE-AGGREGATION below the join: the groupBy key (n_name) is
      functionally determined by the join key, so lineitem partially
      aggregates to per-orderkey (revenue units, line count) BEFORE
      shuffling — the exchange carries |orders| combined rows instead
      of |lineitem| raw ones (38M → 9.6M at the 64× probe, measured
      7.2 s → ~4 s). Per-order unit sums stay in long (≤ ~1e10 per
      order, nowhere near overflow); the cross-order accumulation
      still rides decimal(28,0) via unit_sum.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    rev4 = cents_long("l_extendedprice") * (
        F.lit(100) - cents_long("l_discount")
    )
    per_order = (
        li.select("l_orderkey", rev4.alias("rev4"))
        .groupBy("l_orderkey")
        .agg(
            F.sum("rev4").alias("rev4_order"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    ord_nat = (
        orders.select("o_orderkey", "o_custkey")
        .join(customer.select("c_custkey", "c_nationkey"),
              orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("o_orderkey", "n_name")
    )
    return (
        per_order.join(ord_nat, per_order.l_orderkey == ord_nat.o_orderkey)
        .groupBy("n_name")
        .agg(
            unit_sum(F.col("rev4_order"), 4, "revenue"),
            F.sum("n_lines").alias("n_lineitems"),
        )
    )


@query(
    "join_left",
    """
SELECT c.c_custkey, c.c_name, count(o.o_orderkey) AS n_orders
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_name
""",
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT JOIN keeping order-less customers (count = 0 for them)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_full",
    """
WITH c AS (
  SELECT c_nationkey AS nationkey, count(*) AS n_customers
  FROM customer GROUP BY c_nationkey
), s AS (
  SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
  FROM supplier GROUP BY s_nationkey
)
SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
  coalesce(c.n_customers, 0) AS n_customers,
  coalesce(s.n_suppliers, 0) AS n_suppliers
FROM c FULL JOIN s ON c.nationkey = s.nationkey
""",
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of per-nation customer vs supplier counts."""
    c = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return c.join(s, "nationkey", "full").select(
        F.col("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


@query(
    "join_semi",
    """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: customers having at least one order with status P."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI: customers with no orders at all."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_cross",
    """
SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
""",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian region × nation (5 × 25 pairs)."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    return region.crossJoin(nation).select("r_name", "n_name")


@query(
    "join_range",
    """
SELECT l.l_orderkey, l.l_linenumber,
  CAST(o.o_orderdate AS DATE) AS o_orderdate,
  CAST(l.l_shipdate AS DATE) AS l_shipdate
FROM lineitem l JOIN orders o
  ON l.l_orderkey = o.o_orderkey
  AND date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))
      BETWEEN 0 AND 90
""",
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join + date-interval residual: shipped within 90 days of order."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    gap = F.datediff(
        li.l_shipdate.cast("date"), orders.o_orderdate.cast("date")
    )
    return li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey) & gap.between(0, 90),
    ).select(
        "l_orderkey",
        "l_linenumber",
        orders.o_orderdate.cast("date").alias("o_orderdate"),
        li.l_shipdate.cast("date").alias("l_shipdate"),
    )


@query(
    "join_asof",
    """
SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest click at-or-before it.

    Spark has no native ASOF; emulate with a union + one per-user ordered
    window pass (O(n log n) in events-per-user, single shuffle on user_id).
    Clicks sort before purchases at equal ts (kind 0 < 1) so an
    equal-timestamp click is visible to the purchase — matching DuckDB's
    ``p.ts >= c.ts`` bound. Inner semantics: purchases with no prior click
    are dropped.
    """
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(0).alias("kind"), "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("kind"), "event_id"
    )
    unioned = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_click = unioned.withColumn(
        "click_ts",
        F.max(F.when(F.col("kind") == 0, F.col("ts"))).over(w),
    )
    return (
        with_click.filter((F.col("kind") == 1) & F.col("click_ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "click_ts",
        )
    )


@query(
    "join_fuzzy_levenshtein",
    """
SELECT c.c_custkey, p.probe,
  levenshtein(c.c_name, p.probe) AS dist
FROM customer c,
  (VALUES ('Customer#000000012'), ('Customer#000000145'),
          ('Custoner#000000999')) p(probe)
WHERE levenshtein(c.c_name, p.probe) <= 2
""",
)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity match: customers whose name is within edit distance
    2 of a (typo-bearing) probe list — the record-linkage shape.

    The probe side broadcasts (3 rows); the corpus side never shuffles
    and the distance evaluates inside whole-stage codegen
    (F.levenshtein is a JVM built-in — no Python boundary). At 100 TB
    you never run edit distance against the full cross product:
    block first (length band, shared prefix, or an LSH bucket — the
    same machinery as dedup_near) and run the exact distance only
    within blocks; the broadcast-probe shape here is the inner loop of
    that design. Both engines implement classic Levenshtein, so the
    query is hash-checked.
    """
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    probes = local_frame(
        spark,
        [("Customer#000000012",), ("Customer#000000145",),
         ("Custoner#000000999",)],
        "probe string",
    )
    dist = F.levenshtein(F.col("c_name"), F.col("probe"))
    return (
        cust.crossJoin(F.broadcast(probes))
        .select("c_custkey", "probe", dist.alias("dist"))
        .filter(F.col("dist") <= 2)
    )


_ASOF_TOL_US = 3_600_000_000  # 1 hour


@query(
    "join_asof_nearest",
    f"""
WITH u AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind
  FROM events WHERE event_type IN ('click', 'purchase')
),
flagged AS (
  SELECT user_id, ts, event_id, kind,
    max(CASE WHEN kind = 0 THEN ts END) OVER wb AS back_ts,
    min(CASE WHEN kind = 0 THEN ts END) OVER wf AS fwd_ts
  FROM u
  WINDOW
    wb AS (PARTITION BY user_id ORDER BY ts, kind, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY user_id ORDER BY ts DESC, kind DESC, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT event_id, user_id, ts,
    epoch_us(ts) - epoch_us(back_ts) AS db,
    epoch_us(fwd_ts) - epoch_us(ts) AS df,
    back_ts, fwd_ts
  FROM flagged WHERE kind = 1
)
SELECT event_id, user_id, ts AS purchase_ts,
  CASE WHEN db IS NOT NULL AND db <= {_ASOF_TOL_US}
            AND (df IS NULL OR df > {_ASOF_TOL_US} OR db <= df)
       THEN back_ts ELSE fwd_ts END AS click_ts,
  round(least(coalesce(db, {_ASOF_TOL_US} + 1),
              coalesce(df, {_ASOF_TOL_US} + 1)) / 1000000.0, 3) AS delta_sec
FROM scored
WHERE (db IS NOT NULL AND db <= {_ASOF_TOL_US})
   OR (df IS NOT NULL AND df <= {_ASOF_TOL_US})
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join with tolerance: each purchase matched
    to its CLOSEST click within ±1 h, either direction (backward ties
    win) — pandas merge_asof(direction='nearest', tolerance=...), the
    sensor-fusion/attribution variant the plain backward as-of
    (join_asof) can't express.

    Same union trick, both directions in ONE user_id partitioning: an
    ascending pass carries the running latest click (equal-ts clicks
    sort before purchases, so Δ=0 lands backward) and a descending pass
    carries the running earliest later click (equal-ts clicks sort
    after the purchase there, so they are never double-counted) —
    Catalyst plans one Exchange with two Sorts, never a range
    self-join. Δs compare in exact integer µs; out-of-tolerance sides
    disqualify independently and unmatched purchases drop (inner
    semantics).
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    u = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("kind"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("kind").desc(), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("kind") == 0, F.col("ts"))
    flagged = u.select(
        "event_id",
        "user_id",
        "ts",
        "kind",
        F.max(click_ts).over(wb).alias("back_ts"),
        F.min(click_ts).over(wf).alias("fwd_ts"),
    ).filter(F.col("kind") == 1)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    db = us - F.unix_micros(F.col("back_ts").cast("timestamp"))
    df_ = F.unix_micros(F.col("fwd_ts").cast("timestamp")) - us
    tol = F.lit(_ASOF_TOL_US)
    scored = flagged.select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        db.alias("db"),
        df_.alias("df"),
        "back_ts",
        "fwd_ts",
    )
    pick_back = (
        F.col("db").isNotNull()
        & (F.col("db") <= tol)
        & (
            F.col("df").isNull()
            | (F.col("df") > tol)
            | (F.col("db") <= F.col("df"))
        )
    )
    return (
        scored.filter(
            (F.col("db").isNotNull() & (F.col("db") <= tol))
            | (F.col("df").isNotNull() & (F.col("df") <= tol))
        )
        .select(
            "event_id",
            "user_id",
            "purchase_ts",
            F.when(pick_back, F.col("back_ts"))
            .otherwise(F.col("fwd_ts"))
            .alias("click_ts"),
            F.round(
                F.least(
                    F.coalesce(F.col("db"), tol + 1),
                    F.coalesce(F.col("df"), tol + 1),
                )
                / 1_000_000.0,
                3,
            ).alias("delta_sec"),
        )
    )


@query(
    "join_band_lookup",
    """
WITH b AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders
),
edges AS (
  SELECT bucket, min(o_totalprice) AS lo FROM b GROUP BY bucket
),
bands AS (
  SELECT bucket, lo, lead(lo) OVER (ORDER BY bucket) AS hi FROM edges
)
SELECT o.o_orderkey, bands.bucket
FROM orders o JOIN bands
  ON o.o_totalprice >= bands.lo
 AND (o.o_totalprice < bands.hi OR bands.hi IS NULL)
""",
)
def join_band_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE range join (no equi key): classify every order into a price
    band by interval lookup — the band-join shape (tax brackets, SLA
    tiers, IP-range geo lookup) that sort-merge machinery can't help
    with because there is no equality column at all.

    The scale answer when one side is band-sized: BROADCAST the
    interval table and evaluate the range predicate map-side
    (BroadcastNestedLoopJoin — nested-loop over 10 rows per record is a
    codegen loop, not a shuffle); the fact side never moves. When BOTH
    sides are large the pattern upgrades to bucketing each interval
    onto a shared grid and equi-joining on the grid cell (the
    events_dau_wau cover-set trick generalized). Band edges are
    [lo_k, lo_{k+1}) via lead() — CONTIGUOUS by construction, which
    matters because ntile splits ties across buckets: per-bucket
    min/max intervals can exclude a tie value entirely (measured: 9 of
    15000 orders dropped), while lead-edges cover the whole number
    line above the global min, so every order lands in exactly one
    band in both engines (row count == orders, tested). Bands derive
    from the same total-order ntile as feat_quantile_bucket (fit),
    making this its APPLY half.
    """
    orders = load(spark, sf_dir, "orders")
    b = orders.select(
        "o_totalprice",
        F.ntile(10)
        .over(Window.orderBy("o_totalprice", "o_orderkey"))
        .alias("bucket"),
    )
    edges = b.groupBy("bucket").agg(F.min("o_totalprice").alias("lo"))
    bands = edges.select(
        "bucket",
        "lo",
        F.lead("lo").over(Window.orderBy("bucket")).alias("hi"),
    )
    return orders.join(
        F.broadcast(bands),
        (F.col("o_totalprice") >= F.col("lo"))
        & ((F.col("o_totalprice") < F.col("hi")) | F.col("hi").isNull()),
    ).select("o_orderkey", "bucket")


@query(
    "join_relational_division",
    """
WITH active AS (
  SELECT DISTINCT o_custkey, quarter(CAST(o_orderdate AS DATE)) AS qt
  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995
)
SELECT o_custkey AS custkey, count(*) AS n_quarters
FROM active
GROUP BY o_custkey
HAVING count(*) = 4
""",
)
def join_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division — the FOR-ALL quantifier (customers who
    ordered in EVERY quarter of 1995): the candidates ⊇ required-set
    shape that equi/semi/anti joins alone can't express, done the
    scale-shaped way.

    Division by counting: restrict the fact to the divisor's domain
    (one pushed-down year filter), dedupe to DISTINCT (customer,
    quarter), count per customer, keep counts equal to the divisor
    cardinality (4 — a constant here; a broadcast 1-row scalar when the
    divisor is itself a query). This is the standard rewrite replacing
    the textbook NOT EXISTS(NOT EXISTS) double correlation: no
    per-candidate set materialization, every stage partial-aggregates,
    and the distinct is bounded by candidates × divisor size. Returns
    3 / 16 / 144 qualifying customers at the three fixture SFs —
    non-degenerate at every scale.
    """
    orders = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    active = (
        orders.filter(F.year(d) == 1995)
        .select("o_custkey", F.quarter(d).alias("qt"))
        .distinct()
    )
    return (
        active.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_quarters"))
        .filter(F.col("n_quarters") == 4)
        .select(F.col("o_custkey").alias("custkey"), "n_quarters")
    )


@query(
    "join_lead_time",
    """
SELECT l.l_suppkey AS suppkey,
  count(*) AS n_lines,
  round(CAST(sum(date_diff('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE))) AS DOUBLE)
        / count(*), 4) AS avg_lead_days,
  min(date_diff('day', CAST(o.o_orderdate AS DATE),
                CAST(l.l_shipdate AS DATE))) AS min_lead_days,
  max(date_diff('day', CAST(o.o_orderdate AS DATE),
                CAST(l.l_shipdate AS DATE))) AS max_lead_days
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY l.l_suppkey
""",
)
def join_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier fulfillment lead time (order date → ship date):
    mean/min/max days — the SLA/operations metric every supply chain
    tracks. The join is fact-to-fact and deliberately UNHINTED:
    orders is not a dimension, so forcing a broadcast is a scale bug
    — at sf0.1 a broadcast happens to win, but at the 64× probe the
    9.6M-row single-threaded hash build measured 10.6 s where AQE's
    shuffle join runs the same query in ~6 s, and at 100 TB a fact
    broadcast simply does not fit. AQE picks broadcast exactly while
    the side stays under the threshold and crosses to shuffle when it
    grows — the decision belongs to the planner, not the query.

    Day gaps are exact integers (datediff on DATE casts — the same
    cross-engine contract win_lag_lead pinned), so the mean is an
    integer-sum ratio: 4dp rounding divides identical operands.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    lead = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(lead).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_lead_days"),
            F.min(lead).alias("min_lead_days"),
            F.max(lead).alias("max_lead_days"),
        )
    )


_LATERAL_SQL = """
SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) o
"""


@query("join_lateral_topn", _LATERAL_SQL)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (Spark ≥3.4 / SQL:1999): each customer's
    top-2 orders by price, with the subquery re-evaluated per outer row
    — the SQL-standard spelling of "top-N per group" that window
    row_number() expresses procedurally (win_topk_group is the window
    twin; same oracle family). Catalyst DECORRELATES the lateral into
    a ranked window join rather than executing N subqueries — the plan
    is the same shuffle-once shape as the window formulation, which is
    exactly why LATERAL is safe at 100 TB (a naive per-row re-execution
    would be O(customers) round trips). Identical SQL text runs on
    DuckDB; (price DESC, orderkey) is a total order so the top-2 is
    engine-exact.
    """
    from sparkify_datalake_spark.plans.sql_surface import _register_views

    _register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(_LATERAL_SQL)


@query(
    "join_null_safe",
    """
WITH keyed AS (
  SELECT o_orderkey,
    CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END
      AS status_key,
    o_totalprice
  FROM orders
),
dim AS (
  SELECT * FROM (VALUES ('O', 'open'), ('F', 'filled'), (NULL, 'pending'))
    AS t(status_key, status_name)
)
SELECT d.status_name,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(round(sum(CAST(k.o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
    AS revenue
FROM keyed k JOIN dim d
  ON k.status_key IS NOT DISTINCT FROM d.status_key
GROUP BY d.status_name
""",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of silently dropping — the semantics
    data-cleaning joins need when "unknown" is itself a category (here
    'P' status is mapped to a NULL key and still finds its 'pending'
    dimension row; a plain equi-join would lose every such order).
    Catalyst plans <=> as a hash join on a null-safe key (NULLs hash
    to one partition — fine for a bounded category set; a
    high-cardinality NULL fraction would need the coalesce-to-sentinel
    rewrite instead, which is this query's documented scale caveat).
    The tiny dimension arrives broadcast.
    """
    orders = load(spark, sf_dir, "orders")
    keyed = orders.select(
        F.when(F.col("o_orderstatus") == "P", None)
        .otherwise(F.col("o_orderstatus"))
        .alias("status_key"),
        "o_totalprice",
    )
    dim = local_frame(
        orders.sparkSession,
        [("O", "open"), ("F", "filled"), (None, "pending")],
        "status_key string, status_name string",
    )
    return (
        keyed.join(
            F.broadcast(dim), keyed.status_key.eqNullSafe(dim.status_key)
        )
        .groupBy("status_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@query(
    "join_star_flatten",
    """
SELECT
  l.l_orderkey, l.l_linenumber,
  o.o_orderdate, o.o_orderpriority,
  c.c_mktsegment,
  cn.n_name AS cust_nation, cr.r_name AS cust_region,
  p.p_brand, p.p_type,
  s.s_name AS supp_name, sn.n_name AS supp_nation,
  l.l_quantity, l.l_extendedprice, l.l_discount, l.l_returnflag
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN region cr ON cn.n_regionkey = cr.r_regionkey
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
""",
)
def join_star_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full star-schema denormalization: every 1997 lineitem flattened
    against ALL its dimensions (order, customer + nation + region,
    part, supplier + nation) into one wide training/export row — the
    "feature export" join every offline ML pipeline runs before
    writing training shards, and the widest join in the inventory
    (7 joins, nation twice under different roles).

    The plan that must come out: ONE scan of the fact table with every
    true dimension arriving as a broadcast hash join (dims are small by
    star-schema construction — at 100 TB, customer/part/supplier stay
    under a few GB while lineitem is the 100 TB). lineitem ⋈ orders is
    the one fact-fact join and is deliberately NOT broadcast-hinted:
    both sides key-partition on the order key (co-partitioned at scale;
    AQE still broadcasts the filtered year at fixture size), and the
    date filter is pushed into the orders scan before the join so the
    shuffled side is one year, not seven. Column pruning matters here:
    the export projects 15 of ~40 reachable columns and the scans must
    read only those.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_name").alias("cust_nation"),
        F.col("n_regionkey").alias("cn_region"),
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    cr = r.select(
        F.col("r_regionkey").alias("cr_key"),
        F.col("r_name").alias("cust_region"),
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(cr), F.col("cn_region") == F.col("cr_key"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_orderdate",
            "o_orderpriority",
            "c_mktsegment",
            "cust_nation",
            "cust_region",
            "p_brand",
            "p_type",
            F.col("s_name").alias("supp_name"),
            "supp_nation",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_returnflag",
        )
    )


@query(
    "join_scd2_pit",
    """
WITH day_attr AS (
  SELECT o_custkey,
    CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
    arg_min(o_orderpriority, o_orderkey) AS attr
  FROM orders GROUP BY 1, 2
),
runs AS (
  SELECT o_custkey, d, attr,
    lag(attr) OVER (PARTITION BY o_custkey ORDER BY d) AS prev
  FROM day_attr
),
ch AS (
  SELECT o_custkey, d, attr FROM runs
  WHERE prev IS NULL OR attr <> prev
),
dim AS (
  SELECT o_custkey AS custkey, attr AS regime, d AS effective_from,
    lead(d) OVER (PARTITION BY o_custkey ORDER BY d) AS effective_to
  FROM ch
),
fact AS (
  SELECT o.o_custkey AS custkey, o.o_orderpriority AS ordered_priority,
    l.l_shipdate AS ship_d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
pit AS (
  SELECT f.ordered_priority, d.regime AS regime_at_ship
  FROM fact f JOIN dim d
    ON f.custkey = d.custkey
   AND f.ship_d >= d.effective_from
   AND (d.effective_to IS NULL OR f.ship_d < d.effective_to)
)
SELECT ordered_priority, regime_at_ship,
  CAST(count(*) AS BIGINT) AS n_items,
  round(count(*) * 1.0 / sum(count(*)) OVER (), 6) AS frac
FROM pit GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def join_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join of shipment facts against the SCD2
    dimension dim_scd2_build produces — THE consumer that makes a
    type-2 dimension worth building: each lineitem is attributed to the
    customer's priority REGIME in force on its ship date (ship lags
    order, so late shipments genuinely cross regime boundaries — the
    matrix's off-diagonal), never to today's row and never to a leaked
    future version. This is the temporal-correctness join every
    feature-store / training-data pipeline needs to avoid label
    leakage.

    Scale shape: the dim is change-sized (one row per attribute run,
    not per order), and the PIT lookup is NOT executed as an interval
    join — an equi-join on custkey fans every fact out to ALL of that
    customer's versions before the interval residual prunes them
    (measured 39.9 s at the 64× probe), the multiplicative blow-up
    every naive PIT join hides. Instead, change-points and facts are
    UNIONED and one custkey-keyed window carries the last
    non-null regime forward onto each fact (change-point sorts before
    same-day facts, so a version effective on day d already governs
    day-d shipments): one shuffle, one linear window, zero fan-out —
    16.1 s at the same probe vs the fan-out's 39.9 s. r11 trims the
    inherited dimension further: the PIT side consumes scd2_frame
    (no presentation sort — that global orderBy cost a range-sampling
    job + full sort this join immediately destroyed), and the dim
    builds off ONE custkey exchange (14 → 10 Exchanges in the plan;
    sf0.1 1.83 → 1.40 s). Facts shipping BEFORE the customer's
    first change-point have no regime in force and are excluded — the
    oracle's inner interval join drops exactly the same rows; the 5×5
    matrix is a partial-aggregatable rollup and the share denominator
    is a window over those ≤25 rows.
    """
    from sparkify_datalake_spark.operators.pipeline import scd2_frame

    dim = scd2_frame(spark, sf_dir).select(
        "custkey",
        F.col("effective_from").alias("d"),
        F.col("priority").alias("regime"),
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    fact = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("custkey"),
        F.col("l_shipdate").cast("date").alias("d"),
        F.col("o_orderpriority").alias("ordered_priority"),
    )
    merged = dim.select(
        "custkey", "d", "regime", F.lit(0).alias("is_fact"),
        F.lit(None).cast("string").alias("ordered_priority"),
    ).unionByName(
        fact.select(
            "custkey", "d", F.lit(None).cast("string").alias("regime"),
            F.lit(1).alias("is_fact"), "ordered_priority",
        )
    )
    w = (
        Window.partitionBy("custkey")
        .orderBy("d", "is_fact")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pit = (
        merged.select(
            "is_fact",
            "ordered_priority",
            F.last("regime", ignorenulls=True).over(w).alias("regime"),
        )
        .filter((F.col("is_fact") == 1) & F.col("regime").isNotNull())
    )
    agg = pit.groupBy(
        "ordered_priority", F.col("regime").alias("regime_at_ship")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    return agg.select(
        "ordered_priority",
        "regime_at_ship",
        "n_items",
        F.round(
            F.col("n_items")
            / F.sum("n_items").over(Window.partitionBy()).cast("double"),
            6,
        ).alias("frac"),
    ).orderBy("ordered_priority", "regime_at_ship")
