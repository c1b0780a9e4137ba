"""Batch event-analytics operators over the ``events`` table:
conversion funnel and cohort retention (SURVEY §2-I addenda — the
product-analytics queries every event pipeline serves; gap-based
sessionization lives in timeseries.ts_sessionize).

Both are pure Catalyst compositions (windows + conditional
aggregation + broadcast joins) — no UDFs — so they inherit whole-stage
codegen and scale like any entity-keyed window: state per user chain,
shuffles only on user_id / group keys.

Scale notes (100 TB of events):
- funnel's three chained stage minima ride ONE shuffle of events (a
  shared user_id window partitioning) plus one tiny global aggregate.
- retention joins each event to its user's (tiny) cohort row; the
  distinct on (user, cohort, week) is bounded by users × weeks, not
  events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkify_datalake_spark.registry import query
from sparkify_datalake_spark.sources.load import load, local_frame

@query(
    "events_funnel",
    """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
    AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 24 HOUR
  WHERE e.event_type = 'click' GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
    AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 24 HOUR
  WHERE e.event_type = 'purchase' GROUP BY 1
)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_click,
       (SELECT count(*) FROM p) AS n_purchase
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase.

    Stage k counts users whose first stage-k event lands within the
    24 h conversion window AFTER their first stage-(k-1) event — order
    + deadline, the constraints that separate a funnel from three
    independent counts (on this fixture: 150 → 60 → 25 at sf0.01).
    Single-pass formulation: the three stage timestamps are CHAINED
    WINDOW minima over one user_id partitioning (t2 is the min click
    ts among rows inside the window after the t1 window expression,
    etc.), so the whole funnel costs ONE shuffle of events + one tiny
    global aggregate — tests/test_plans.py pins ≤3 exchanges (the
    staged aggregate-join-aggregate version measured 14).
    """
    day = F.expr("INTERVAL 24 HOURS")
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") > t1)
            & (F.col("ts") <= t1 + day),
            F.col("ts"),
        )
    ).over(w)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > t2)
            & (F.col("ts") <= t2 + day),
            F.col("ts"),
        )
    ).over(w)
    staged = ev.select(
        "user_id", t1.alias("t1"), t2.alias("t2"), t3.alias("t3")
    )
    return staged.agg(
        F.count_distinct(
            F.when(F.col("t1").isNotNull(), F.col("user_id"))
        ).alias("n_view"),
        F.count_distinct(
            F.when(F.col("t2").isNotNull(), F.col("user_id"))
        ).alias("n_click"),
        F.count_distinct(
            F.when(F.col("t3").isNotNull(), F.col("user_id"))
        ).alias("n_purchase"),
    )


_WEEK_US = 7 * 24 * 3600 * 1_000_000


@query(
    "events_retention",
    f"""
WITH cohort AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY 1
)
SELECT CAST(c.cohort_week AS DATE) AS cohort_week,
  CAST((epoch_us(date_trunc('week', e.ts)) - epoch_us(c.cohort_week))
       / {_WEEK_US} AS INT) AS week_offset,
  count(DISTINCT e.user_id) AS n_users
FROM events e JOIN cohort c ON e.user_id = c.user_id
GROUP BY 1, 2
""",
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users grouped by first-seen
    week, counted in each subsequent activity week.

    The cohort week comes from a whole-partition min() window over
    user_id — ONE shuffle of events, no join. The earlier shape built
    a per-user cohort frame and broadcast it back onto events: a
    broadcast that scales with the user population (fine at fixture
    SFs, impossible at 100 TB) AND a second derivation of the events
    scan. The week offset is exact integer arithmetic on
    week-truncated timestamps (both engines truncate to Monday 00:00,
    so the µs delta is an exact multiple of a week — no date_diff
    boundary-counting semantics to disagree about).
    """
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    cohort_week = F.date_trunc(
        "week", F.min("ts").over(Window.partitionBy("user_id"))
    )
    return (
        ev.withColumn("cohort_week", cohort_week)
        .select(
            F.col("cohort_week").cast("date").alias("cohort_wk_date"),
            (
                (
                    F.unix_micros(
                        F.date_trunc("week", F.col("ts")).cast("timestamp")
                    )
                    - F.unix_micros(F.col("cohort_week").cast("timestamp"))
                )
                / F.lit(_WEEK_US)
            )
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy(
            F.col("cohort_wk_date").alias("cohort_week"), "week_offset"
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@query(
    "events_path_trigrams",
    """
WITH seq AS (
  SELECT concat_ws('>', event_type,
           lead(event_type, 1) OVER w,
           lead(event_type, 2) OVER w) AS path,
         lead(event_type, 2) OVER w AS third
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT path, count(*) AS n
FROM seq WHERE third IS NOT NULL
GROUP BY path
ORDER BY n DESC, path
LIMIT 5
""",
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 three-step event-type paths across user streams — sequence
    mining lite (the "what do users do next" product-analytics query).

    Two lead windows over one user_id sort build each row's forward
    trigram; the path space is tiny (|event types|³ ≤ 125) so the
    count aggregation is map-side partial and the top-5 is a bounded
    heap. Trigrams never cross users (lead stays inside the window
    partition; tail rows with no third step drop out).
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    third = F.lead("event_type", 2).over(w)
    path = F.concat_ws(
        ">",
        F.col("event_type"),
        F.lead("event_type", 1).over(w),
        third,
    )
    return (
        ev.select(path.alias("path"), third.alias("third"))
        .filter(F.col("third").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(5)
    )


@query(
    "events_anomaly",
    """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, hour, n,
  round((n - avg(n) OVER (PARTITION BY event_type))
        / stddev_samp(n) OVER (PARTITION BY event_type), 6) AS z,
  CAST(abs((n - avg(n) OVER (PARTITION BY event_type))
        / stddev_samp(n) OVER (PARTITION BY event_type)) > 2
       AS BIGINT) AS is_anomaly
FROM hourly
""",
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hourly event counts per type, z-scored
    against that type's own hourly distribution, |z| > 2 flagged — the
    ops-monitoring query every event pipeline runs on itself.

    Two-level shape: the heavy pass is the (type, hour) count — fully
    partial-aggregatable, so 100 TB of raw events combine map-side down
    to |types|×|hours| rows — and the z-score window runs on that tiny
    aggregate, never on raw events (contrast feat_zscore, which scores
    rows). The flag is computed from the UNROUNDED z on both engines so
    the 6dp display round can't flip a borderline anomaly differently
    per engine. date_trunc over the ns-precision event time matches
    because hour truncation is exact in both µs and ns arithmetic.
    """
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type")
    z = (F.col("n") - F.avg("n").over(w)) / F.stddev_samp("n").over(w)
    return hourly.select(
        "event_type",
        "hour",
        "n",
        F.round(z, 6).alias("z"),
        (F.abs(z) > 2).cast("long").alias("is_anomaly"),
    )


@query(
    "events_dau_wau",
    """
WITH du AS (
  SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
),
cover AS (
  SELECT user_id, d,
    unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS day
  FROM du
)
SELECT day,
  count(DISTINCT CASE WHEN d = day THEN user_id END) AS dau,
  count(DISTINCT user_id) AS wau
FROM cover
WHERE day <= (SELECT max(d) FROM du)
  AND day >= (SELECT min(d) + INTERVAL 6 DAY FROM du)
GROUP BY day
""",
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU + trailing-7-day WAU per day — the engagement pair every
    product-analytics stack reports, and the textbook rolling-DISTINCT
    problem (a window can't do it: distinct doesn't decompose over
    sliding frames).

    The cover-set trick: dedupe to (user, active-day) FIRST (the only
    pass over raw events), then each active day covers the 7 report
    days it can influence via a map-side 7× sequence-explode, and one
    groupBy counts DAU (conditional on exact-day match) and WAU
    (distinct over the cover) together. Cost: one distinct shuffle over
    (user, day) — bounded by users × days, not events — plus a 7×
    fan-out of that bounded frame; contrast the naive 7-way self-join
    of daily cohorts. Report days past the observed horizon AND the
    first six days (whose trailing windows would be partial) are cut,
    so every reported WAU is a full trailing window over real data.
    """
    ev = load(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).distinct()
    return _dau_wau_fold(du)


def _dau_wau_fold(du: DataFrame) -> DataFrame:
    """DAU/WAU cover fold over a DISTINCT (d, user_id) frame.

    Shared between the live events_dau_wau query and the incrementally
    maintained store (sources/matview_events.py), so incremental ==
    recompute is a property of one set of expressions — the
    scorecard_ivm discipline.
    """
    bounds = du.agg(
        F.max("d").alias("maxd"),
        (F.min("d") + F.expr("INTERVAL 6 DAYS")).alias("mind6"),
    )
    cover = du.select(
        "user_id",
        "d",
        F.explode(
            F.sequence(
                "d", F.col("d") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    )
    return (
        cover.join(
            F.broadcast(bounds),
            (F.col("day") <= F.col("maxd"))
            & (F.col("day") >= F.col("mind6")),
        )
        .groupBy("day")
        .agg(
            F.count_distinct(
                F.when(F.col("d") == F.col("day"), F.col("user_id"))
            ).alias("dau"),
            F.count_distinct("user_id").alias("wau"),
        )
    )


@query(
    "events_rfm",
    """
WITH per_user AS (
  SELECT user_id,
    max(ts) AS last_seen,
    count(*) AS frequency,
    CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS monetary
  FROM events GROUP BY user_id
)
SELECT user_id,
  ntile(5) OVER (ORDER BY last_seen, user_id) AS r_score,
  ntile(5) OVER (ORDER BY frequency, user_id) AS f_score,
  ntile(5) OVER (ORDER BY monetary, user_id) AS m_score
FROM per_user
""",
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) quintile segmentation per user
    — the classic customer-value scoring every growth team runs.

    Two-level shape: the heavy pass collapses raw events to one row per
    user (count + DECIMAL sum fully partial-aggregatable, max(ts) for
    recency), and the three ntile windows run on the USER aggregate —
    at 100 TB the sorts cover millions of users, not billions of
    events, and the three windows share one pass over that frame (no
    partition key, so at extreme user counts each becomes the two-phase
    ntile of win_ntile_twophase). user_id tiebreaks make every quintile
    boundary engine-exact; higher score = better (more recent, more
    frequent, higher spend).
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("monetary"),
    )
    return per_user.select(
        "user_id",
        F.ntile(5).over(Window.orderBy("last_seen", "user_id")).alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "user_id")).alias("f_score"),
        F.ntile(5).over(Window.orderBy("monetary", "user_id")).alias("m_score"),
    )


@query(
    "events_markov",
    """
WITH pairs AS (
  SELECT event_type AS from_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
  round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
FROM counts
""",
)
def events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: P(next=to | current=from) — the normalized sibling of
    events_path_trigrams, and the model behind next-action prediction
    and anomalous-session scoring.

    One lead window on the user sort produces adjacent pairs, a
    partial-aggregatable count collapses them to the |types|² matrix,
    and row-normalization is a window over that tiny matrix — the raw
    event volume is touched exactly once, with one shuffle. Transition
    probability is a single integer-ratio division on identical counts,
    so 6dp rounding is engine-exact.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wn = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n") / F.sum("n").over(wn).cast("double"), 6
        ).alias("p"),
    )


@query(
    "agg_entropy",
    """
WITH c AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT user_id, sum(n) AS tot FROM c GROUP BY 1
)
SELECT c.user_id,
  round(-sum((c.n / CAST(t.tot AS DOUBLE))
             * log2(c.n / CAST(t.tot AS DOUBLE))), 6) AS entropy_bits,
  count(*) AS n_types
FROM c JOIN t ON c.user_id = t.user_id
GROUP BY c.user_id
""",
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution (bits) —
    the behavioral-diversity feature (bots score near 0, exploratory
    users near log2|types|), and the aggregate behind split-quality and
    anomaly scoring.

    Two-level: (user, type) counts partial-aggregate over raw events;
    entropy folds over that bounded frame (≤|types| rows per user) with
    a broadcast-shaped join of per-user totals. -Σ p·log2 p sums at
    most 5 terms of O(1) magnitude, so cross-engine libm drift in log2
    (≤1 ulp) is ~1e-16 against the 6dp round. Deterministic: counts are
    integers, the p ratios divide identical operands.
    """
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.groupBy("user_id").agg(F.sum("n").alias("tot"))
    p = F.col("n") / F.col("tot").cast("double")
    return (
        c.join(t, "user_id")
        .groupBy("user_id")
        .agg(
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
            F.count(F.lit(1)).alias("n_types"),
        )
    )


@query(
    "events_attribution",
    """
WITH c AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
),
m AS (
  SELECT c.event_id AS click_id, p.event_id AS purchase_id,
    c.ts AS click_ts,
    count(*) OVER (PARTITION BY p.event_id) AS n_touch,
    max(c.ts) OVER (PARTITION BY p.event_id) AS last_ts
  FROM c JOIN p ON c.user_id = p.user_id
    AND c.ts < p.ts AND c.ts >= p.ts - INTERVAL 24 HOUR
)
SELECT click_id,
  count(*) AS n_purchases_touched,
  round(sum(1.0 / n_touch), 6) AS linear_credit,
  CAST(sum(CASE WHEN click_ts = last_ts THEN 1 ELSE 0 END) AS BIGINT)
    AS last_touch_wins
FROM m GROUP BY click_id
""",
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch conversion attribution: every click within the 24 h
    window before a purchase shares that conversion — linear credit
    (1/n per touched purchase) and last-touch wins side by side, the
    two models every ad-measurement pipeline reconciles.

    One user-keyed interval join (clicks × purchases bounded by the
    24 h window — at 100 TB this is day-bucketed so a user's join
    candidates stay local) followed by a per-purchase window for touch
    counts and one groupBy folding credits per click. Deterministic:
    touch counts are integers, the 1/n terms divide identical operands,
    and per-click sums of ≤ a handful of O(1) terms sit ~1e-16 from the
    oracle's — invisible at 6dp.
    """
    ev = load(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    m = c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("ts") < F.col("p_ts"))
        & (F.col("ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
    )
    wp = Window.partitionBy("purchase_id")
    m = m.select(
        F.col("event_id").alias("click_id"),
        "purchase_id",
        F.col("ts").alias("click_ts"),
        F.count(F.lit(1)).over(wp).alias("n_touch"),
        F.max("ts").over(wp).alias("last_ts"),
    )
    return m.groupBy("click_id").agg(
        F.count(F.lit(1)).alias("n_purchases_touched"),
        F.round(F.sum(F.lit(1.0) / F.col("n_touch")), 6).alias(
            "linear_credit"
        ),
        F.sum(
            F.when(F.col("click_ts") == F.col("last_ts"), 1).otherwise(0)
        ).alias("last_touch_wins"),
    )


@query(
    "orders_cohort_ltv",
    """
WITH cohort AS (
  SELECT o_custkey,
    CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS cmonth
  FROM orders GROUP BY 1
),
monthly AS (
  SELECT c.cmonth,
    date_diff('month', c.cmonth,
              CAST(date_trunc('month', o.o_orderdate) AS DATE)) AS offset_m,
    sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders o JOIN cohort c ON o.o_custkey = c.o_custkey
  GROUP BY 1, 2
)
SELECT cmonth, offset_m,
  CAST(round(rev, 2) AS DOUBLE) AS month_revenue,
  CAST(round(sum(rev) OVER (
    PARTITION BY cmonth ORDER BY offset_m
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
    AS cumulative_ltv
FROM monthly
""",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by first-order
    month, revenue per month-offset, and the running cumulative LTV per
    cohort — the money sibling of events_retention (which counts
    presence; this folds DECIMAL revenue).

    The fact table is touched by exactly ONE shuffle: a map-side-
    combinable rollup to (custkey, month) revenue cells. The cohort
    month then comes from a whole-partition min() window on that
    compact frame — NOT from joining orders back against a
    first-order table, which would sort-merge the full fact table
    against a |customers|-row build side (the original shape: 8.0 s
    at the 64× probe vs ~3 s for this one). Every later step
    (offset derivation, the (cohort, offset) rollup, the cumulative
    window over the |cohorts| × |offsets| triangle) runs on frames
    orders of magnitude smaller than the input. Month offsets use
    month-truncated date arithmetic (exact integers in both
    engines); revenue stays DECIMAL through the window sum and rounds
    once at the edge, so the running LTV is engine-exact.
    """
    orders = load(spark, sf_dir, "orders")
    per_cm = orders.groupBy(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    cmonth = F.min("m").over(Window.partitionBy("o_custkey"))
    monthly = (
        per_cm.withColumn("cmonth", cmonth)
        .groupBy(
            "cmonth",
            F.months_between(F.col("m"), F.col("cmonth"))
            .cast("long")
            .alias("offset_m"),
        )
        .agg(F.sum("rev").alias("rev"))
    )
    w = (
        Window.partitionBy("cmonth")
        .orderBy("offset_m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        "cmonth",
        "offset_m",
        F.round("rev", 2).cast("double").alias("month_revenue"),
        F.round(F.sum("rev").over(w), 2).cast("double").alias(
            "cumulative_ltv"
        ),
    )


@query(
    "events_heatmap",
    """
SELECT dayofweek(ts) AS dow, hour(ts) AS hod,
  count(*) AS n,
  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""",
)
def events_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity matrix (counts + decimal
    value sums) — the seasonality heatmap behind every ops dashboard
    and the feature grid for time-of-day models. One fully
    partial-aggregatable pass; the only cross-engine trap is the
    day-numbering convention (Spark dayofweek is 1=Sunday, DuckDB
    0=Sunday — mapped explicitly, the same offset fn_datetime pins).
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


@query(
    "events_wau_trend",
    """
WITH weekly AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
    count(DISTINCT user_id) AS wau
  FROM events GROUP BY 1
),
idx AS (
  SELECT wau,
    date_diff('week', (SELECT min(wk) FROM weekly), wk) AS week_idx
  FROM weekly
)
SELECT count(*) AS n_weeks,
  round(regr_slope(wau, week_idx), 6) AS slope_per_week,
  round(regr_intercept(wau, week_idx), 6) AS intercept,
  round(regr_r2(wau, week_idx), 6) AS r2
FROM idx
""",
)
def events_wau_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement trend in one number: OLS slope of weekly active
    users over the week index (plus intercept/R²) — the "is usage
    growing" KPI, composed from the distinct-actives machinery
    (events_dau_wau) and the moment-based regression aggregates
    (agg_linreg).

    The only pass over raw events is the weekly count-distinct; the
    regression consumes the |weeks|-row frame, where the week index is
    an exact integer offset from the earliest week (broadcast 1-row
    scalar). Moment arithmetic on integer inputs → 6dp engine-exact.
    """
    ev = load(spark, sf_dir, "events")
    weekly = ev.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("wk")
    ).agg(F.count_distinct("user_id").alias("wau"))
    min_wk = weekly.agg(F.min("wk").alias("wk0"))
    idx = weekly.crossJoin(F.broadcast(min_wk)).select(
        "wau",
        (F.datediff("wk", "wk0") / 7).cast("long").alias("week_idx"),
    )
    y, x = F.col("wau"), F.col("week_idx")
    return idx.agg(
        F.count(F.lit(1)).alias("n_weeks"),
        F.round(F.regr_slope(y, x), 6).alias("slope_per_week"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


@query(
    "events_sequence_match",
    """
WITH seq AS (
  SELECT user_id,
    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s,
    count(*) AS n_events
  FROM events GROUP BY user_id
)
SELECT user_id, n_events, s AS seq,
  regexp_matches(s, 's.*p') AS converted,
  coalesce(list_max(list_transform(regexp_extract_all(s, 'c+'),
                                   x -> len(x))), 0) AS max_click_run
FROM seq
""",
)
def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-sequence pattern matching: each user's full event
    history collapses to an ordered type-initial string (c/e/p/s/v) and
    regexes ask ordered-funnel questions no groupBy can — here
    "signup then EVENTUALLY purchase" (converted) and the longest
    uninterrupted click run (rage-click detector).

    The sequence-as-string trick turns MATCH_RECOGNIZE-class queries
    into one entity-keyed aggregation + per-row regex: collect_list of
    (ts, event_id, char) structs merges map-side, array_sort imposes
    the unique total order INSIDE the group (no window, no global
    sort), and the regexes run on |users| short strings, not |events|
    rows. Scale: state per user is its event count (same bound as any
    sessionization); a 100 TB run caps the string with a slice, exactly
    like production funnel engines window their lookback.
    """
    ev = load(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            F.struct(
                "ts", "event_id", F.substring("event_type", 1, 1).alias("c")
            ).alias("e"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("e")), lambda x: x["c"]
                ),
                "",
            ).alias("seq"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    runs = F.expr("regexp_extract_all(seq, 'c+', 0)")
    return seq.select(
        "user_id",
        "n_events",
        "seq",
        F.col("seq").rlike("s.*p").alias("converted"),
        F.coalesce(
            F.array_max(F.transform(runs, lambda x: F.length(x))),
            F.lit(0),
        ).cast("bigint").alias("max_click_run"),
    )


@query(
    "events_time_to_convert",
    """
WITH fv AS (
  SELECT user_id, min(ts) AS first_view
  FROM events WHERE event_type = 'view' GROUP BY 1
),
fp AS (
  SELECT e.user_id, f.first_view, min(e.ts) AS first_purchase
  FROM events e JOIN fv f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= f.first_view
  GROUP BY 1, 2
)
SELECT
  CAST(floor((epoch_us(first_purchase) - epoch_us(first_view))
             / 86400000000.0) AS BIGINT) AS latency_days,
  count(*) AS n_users,
  round(avg((epoch_us(first_purchase) - epoch_us(first_view))
            / 3600000000.0), 4) AS avg_latency_hours
FROM fp
GROUP BY 1
""",
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: for every user, the gap between
    their first 'view' and the first 'purchase' at-or-after it,
    bucketed into whole days. Two aggregation passes and one join, all
    keyed on user_id — at 100 TB the first-view aggregate reduces the
    event stream to one row per user map-side, the purchase scan
    re-joins on the same key (co-partitioned shuffle, no broadcast
    needed since both sides are user-keyed), and the final histogram
    groupBy lands on ~dozens of day buckets. Microsecond-granularity
    arithmetic is exact integer math in both engines (unix_micros <->
    epoch_us, the repo-wide convention); only the
    avg-hours column is float, rounded to 4dp.
    """
    ev = load(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    us = F.unix_micros(
        F.col("first_purchase").cast("timestamp")
    ) - F.unix_micros(F.col("first_view").cast("timestamp"))
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        fp.groupBy(
            F.floor(us / 86400000000.0).cast("long").alias("latency_days")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg(us / 3600000000.0), 4).alias(
                "avg_latency_hours"
            ),
        )
    )


@query(
    "events_streaks",
    """
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events
),
grouped AS (
  SELECT user_id, d,
    d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
             AS INTEGER) AS grp
  FROM days
),
streaks AS (
  SELECT user_id, grp, count(*) AS len
  FROM grouped GROUP BY 1, 2
)
SELECT user_id,
  CAST(max(len) AS BIGINT) AS longest_streak,
  CAST(count(*) AS BIGINT) AS n_streaks,
  CAST(sum(len) AS BIGINT) AS n_active_days
FROM streaks
GROUP BY user_id
""",
)
def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands rewrite: distinct active days, then (day −
    row_number) is constant exactly along a consecutive run, so one
    groupBy on that anchor yields streak lengths without any
    self-join or iterative pass. All three shuffles key on user_id
    (distinct, window, final agg) — Catalyst reuses one hash
    partitioning, and at 100 TB each user's day list is tiny (bounded
    by days in the retention window), so the window stage has no skew
    exposure. Pure integer/date arithmetic: engine-exact.
    """
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grouped = days.select(
        "user_id",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("grp"),
    )
    streaks = grouped.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.sum("len").alias("n_active_days"),
    )


@query(
    "events_new_vs_returning",
    """
WITH firsts AS (
  SELECT user_id, CAST(min(date_trunc('day', ts)) AS DATE) AS first_day
  FROM events GROUP BY 1
),
daily AS (
  SELECT DISTINCT e.user_id, CAST(date_trunc('day', e.ts) AS DATE) AS d,
    f.first_day
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT d,
  CAST(sum(CASE WHEN d = first_day THEN 1 ELSE 0 END) AS BIGINT)
    AS n_new,
  CAST(sum(CASE WHEN d > first_day THEN 1 ELSE 0 END) AS BIGINT)
    AS n_returning,
  round(sum(CASE WHEN d > first_day THEN 1 ELSE 0 END)
        / CAST(count(*) AS DOUBLE), 6) AS returning_share
FROM daily
GROUP BY d
""",
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into new vs returning — the growth
    dashboard's first chart. The first-seen frame is one user-keyed
    aggregate joined back onto the distinct (user, day) activity grain
    (both shuffles on user_id, so Catalyst reuses the partitioning);
    the final day-grain rollup is conditional counting. At 100 TB the
    activity grain is bounded by users × active days, and the
    first-seen join is the same co-partitioned shape as
    events_retention's cohort join.
    """
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.to_date(F.min(F.date_trunc("day", "ts"))).alias("first_day")
    )
    daily = (
        ev.select(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
        )
        .distinct()
        .join(firsts, "user_id")
    )
    is_new = F.when(F.col("d") == F.col("first_day"), 1).otherwise(0)
    is_ret = F.when(F.col("d") > F.col("first_day"), 1).otherwise(0)
    return daily.groupBy("d").agg(
        F.sum(is_new).cast("long").alias("n_new"),
        F.sum(is_ret).cast("long").alias("n_returning"),
        F.round(
            F.sum(is_ret) / F.count(F.lit(1)).cast("double"), 6
        ).alias("returning_share"),
    )


@query(
    "events_gini",
    """
WITH per_user AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY 1
),
ranked AS (
  SELECT n,
    row_number() OVER (ORDER BY n, user_id) AS r,
    count(*) OVER () AS n_users,
    sum(n) OVER () AS total
  FROM per_user
)
SELECT
  CAST(max(n_users) AS BIGINT) AS n_users,
  CAST(max(total) AS BIGINT) AS n_events,
  round(2.0 * sum(CAST(r AS DOUBLE) * n) / (max(n_users) * max(total))
        - (max(n_users) + 1.0) / max(n_users), 6) AS gini
FROM ranked
""",
)
def events_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of event-volume concentration across users —
    the inequality number behind "1% of users generate X% of traffic"
    (power-user skew is also the shuffle-skew early-warning signal:
    a high Gini on the partition key predicts straggler tasks). Exact
    rank formulation G = 2·Σ(r·x)/(n·Σx) − (n+1)/n over the per-user
    aggregate (users-sized, thousands of times smaller than events);
    rank ties broken by user_id so both engines rank identically —
    with the tiebreak the statistic is exact, not an approximation.
    The global window ranks the user frame, not raw events; at larger
    user counts the same statistic comes from the two-phase ranking
    pattern (win_ntile_twophase demonstrates it).
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("n", "user_id")
    ranked = per_user.select(
        "n",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_users"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    return ranked.agg(
        F.max("n_users").cast("long").alias("n_users"),
        F.max("total").cast("long").alias("n_events"),
        F.round(
            2.0
            * F.sum(F.col("r").cast("double") * F.col("n"))
            / (F.max("n_users") * F.max("total"))
            - (F.max("n_users") + 1.0) / F.max("n_users"),
            6,
        ).alias("gini"),
    )


@query(
    "events_error_budget",
    """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
    count(*) AS n_events,
    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_errors
  FROM events GROUP BY 1
),
burn AS (
  SELECT d, n_events, n_errors,
    round(n_errors / CAST(n_events AS DOUBLE), 6) AS error_rate,
    sum(n_errors) OVER (ORDER BY d
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_errors,
    sum(n_events) OVER (ORDER BY d
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_events
  FROM daily
)
SELECT d, CAST(n_events AS BIGINT) AS n_events,
  CAST(n_errors AS BIGINT) AS n_errors, error_rate,
  round(cum_errors / CAST(cum_events AS DOUBLE), 6) AS cum_error_rate,
  round(1.0 - (cum_errors / CAST(cum_events AS DOUBLE)) / 0.25, 6)
    AS budget_remaining_frac,
  cum_errors / CAST(cum_events AS DOUBLE) > 0.25 AS slo_breached
FROM burn
""",
)
def events_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE error-budget burn-down: daily error rate plus the cumulative
    rate tracked against a 25% SLO (the fixture's error share is ~20%,
    so the budget hovers near exhaustion — breach days are data-driven,
    not vacuous). The raw stream reduces to the ~90-row daily grain in
    one conditional aggregation; cumulative sums are windows ON THE
    GRAIN (single-partition over dozens of rows — the
    aggregate-then-window discipline), so the query costs one shuffle
    at any scale. Integer cumulative sums divide once per output row;
    6dp rounding.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("n_errors"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    burn = daily.select(
        "d",
        "n_events",
        "n_errors",
        F.round(
            F.col("n_errors") / F.col("n_events").cast("double"), 6
        ).alias("error_rate"),
        F.sum("n_errors").over(w).alias("cum_errors"),
        F.sum("n_events").over(w).alias("cum_events"),
    )
    cum_rate = F.col("cum_errors") / F.col("cum_events").cast("double")
    return burn.select(
        "d",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_errors").cast("long").alias("n_errors"),
        "error_rate",
        F.round(cum_rate, 6).alias("cum_error_rate"),
        F.round(1.0 - cum_rate / 0.25, 6).alias("budget_remaining_frac"),
        (cum_rate > 0.25).alias("slo_breached"),
    )


@query(
    "events_survival",
    """
WITH d AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
),
u AS (
  SELECT user_id, min(day) AS first_d, max(day) AS last_d
  FROM d GROUP BY 1
),
h AS (SELECT max(day) AS horizon FROM d),
k AS (SELECT unnest(generate_series(0, 21)) AS k)
SELECT k.k,
  CAST(count(*) AS BIGINT) AS n_at_risk,
  CAST(sum(CASE WHEN u.last_d >= u.first_d + CAST(k.k AS INTEGER)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_survived,
  round(sum(CASE WHEN u.last_d >= u.first_d + CAST(k.k AS INTEGER)
            THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
    AS surv_frac
FROM u CROSS JOIN k CROSS JOIN h
WHERE u.first_d + CAST(k.k AS INTEGER) <= h.horizon
GROUP BY k.k
""",
)
def events_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-censored survival curve of user lifetime: S(k) = the
    fraction of users still active (last event ≥ first event + k days)
    among those OBSERVABLE at offset k (first day + k inside the data
    horizon) — the Kaplan-Meier-shaped churn readout that raw
    retention tables (events_retention's weekly cohorts) blur, with
    the censoring handled the honest way: users whose k-th day falls
    past the horizon leave the denominator instead of counting as
    churned. One groupBy collapses events to a (user, first, last)
    frame; the 22-offset grid cross-joins against that tiny frame (
    users × 22, never events × 22), and the horizon rides a broadcast
    1-row aggregate. Integer counts; one final division.
    """
    ev = load(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    )
    u = d.groupBy("user_id").agg(
        F.min("day").alias("first_d"), F.max("day").alias("last_d")
    )
    h = d.agg(F.max("day").alias("horizon"))
    k = spark.range(22).select(F.col("id").alias("k"))
    kth = F.date_add("first_d", F.col("k").cast("int"))
    return (
        u.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(h))
        .filter(kth <= F.col("horizon"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_at_risk"),
            F.sum(
                F.when(F.col("last_d") >= kth, 1).otherwise(0)
            ).cast("long").alias("n_survived"),
            F.round(
                F.sum(F.when(F.col("last_d") >= kth, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("surv_frac"),
        )
    )


@query(
    "events_props_stats",
    """
WITH p AS (
  SELECT event_type,
    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(k) AS BIGINT) AS n_with_k,
  CAST(min(k) AS BIGINT) AS min_k,
  CAST(max(k) AS BIGINT) AS max_k,
  round(sum(k) / CAST(count(k) AS DOUBLE), 4) AS avg_k,
  CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
FROM p GROUP BY event_type
""",
)
def events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload profiling: numeric stats of the JSON
    `props.k` field per event type — the schema-on-read audit every
    event pipeline runs before promoting a JSON property to a real
    column (null share, range, cardinality decide the ALTER TABLE).
    Extraction is a map-side get_json_object projection (at 100 TB the
    promoted column + pushdown replace this — exactly what this audit
    justifies); the rest is one partial-aggregated groupBy. The
    average divides an exact long sum by an exact count, so both
    engines divide identical numbers; count(k) vs count(*) exhibits
    the missing-key NULL semantics.
    """
    ev = load(spark, sf_dir, "events")
    p = ev.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    return p.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
        F.round(
            F.sum("k") / F.count("k").cast("double"), 4
        ).alias("avg_k"),
        F.count_distinct(F.col("k")).alias("n_distinct_k"),
    )


@query(
    "events_type_affinity",
    """
WITH ut AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type FROM events
),
n AS (
  SELECT event_type, count(*) AS n_days FROM ut GROUP BY 1
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_both
  FROM ut a
  JOIN ut b ON a.user_id = b.user_id AND a.d = b.d
           AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b,
  CAST(na.n_days AS BIGINT) AS n_a,
  CAST(nb.n_days AS BIGINT) AS n_b,
  CAST(n_both AS BIGINT) AS n_both,
  round(n_both / CAST(na.n_days + nb.n_days - n_both AS DOUBLE), 6)
    AS jaccard
FROM pairs
JOIN n na ON na.event_type = type_a
JOIN n nb ON nb.event_type = type_b
ORDER BY type_a, type_b
""",
)
def events_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type affinity: Jaccard overlap between event types over
    (user, day) activity baskets — 'users who error today also purchase
    today' as a symmetric 5×5 co-occurrence structure, the
    recommender-style companion of events_cooccurrence_pmi (which
    scores surprise; this scores raw set overlap).

    Scale shape: the raw stream first collapses to DISTINCT
    (user, day, type) — the basket grain, one partial-aggregatable
    shuffle that caps fan-out at |users|·|days|·|types| regardless of
    event volume. Pair generation is ONE self-equi-join on the basket
    key (user, day) with type_a < type_b so each unordered pair counts
    once; per-type basket counts are a 5-row frame broadcast onto the
    10-row pair table. Jaccard = both/(a + b − both) divides identical
    integers → 6dp-exact. At 100 TB nothing here is quadratic: the
    join fan-out per basket is C(5,2)=10, bounded by the type
    vocabulary, the mine_basket_pairs discipline.
    """
    ev = load(spark, sf_dir, "events")
    # four consumers (self-join a/b + the two totals frames): the
    # basket grain materializes once so the events fact scans once
    ut = (
        ev.select(
            "user_id",
            F.col("ts").cast("date").alias("d"),
            "event_type",
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.d") == F.col("b.d"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = n.select(
        F.col("event_type").alias("type_a"), F.col("n_days").alias("n_a")
    )
    nb = n.select(
        F.col("event_type").alias("type_b"), F.col("n_days").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_both").cast("long").alias("n_both"),
            F.round(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "events_growth_accounting",
    """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
mx AS (SELECT max(d) AS max_d FROM ud),
lagd AS (
  SELECT user_id, d,
         lag(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d,
         lead(d) OVER (PARTITION BY user_id ORDER BY d) AS next_d
  FROM ud
),
status AS (
  SELECT d,
    CASE WHEN prev_d IS NULL THEN 1 ELSE 0 END AS is_new,
    CASE WHEN prev_d = d - 1 THEN 1 ELSE 0 END AS is_retained,
    CASE WHEN prev_d IS NOT NULL AND prev_d < d - 1 THEN 1 ELSE 0
      END AS is_resurrected
  FROM lagd
),
churn AS (
  SELECT d + 1 AS cd, count(*) AS n_churned
  FROM lagd, mx
  WHERE (next_d IS NULL OR next_d > d + 1) AND d + 1 <= max_d
  GROUP BY 1
),
agg AS (
  SELECT d,
         sum(is_new) AS n_new,
         sum(is_retained) AS n_retained,
         sum(is_resurrected) AS n_resurrected
  FROM status GROUP BY 1
)
SELECT a.d,
  CAST(n_new AS BIGINT) AS n_new,
  CAST(n_retained AS BIGINT) AS n_retained,
  CAST(n_resurrected AS BIGINT) AS n_resurrected,
  CAST(coalesce(n_churned, 0) AS BIGINT) AS n_churned,
  CAST(n_new + n_resurrected - coalesce(n_churned, 0) AS BIGINT)
    AS net_change
FROM agg a LEFT JOIN churn c ON a.d = c.cd
ORDER BY a.d
""",
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: every active user classified as new /
    retained (active yesterday) / resurrected (back after a gap), churn
    attributed to the day the user went dark, and the ledger identity
    net_change = new + resurrected − churned — the full version of
    events_new_vs_returning's two-way split and the first table a
    growth team asks for. (Day grain, not week: this fixture's users
    are all weekly-active, so the weekly ledger would be degenerate —
    at day grain ~12% of user-days sit after a gap and the
    resurrected/churned columns carry real signal.)

    Scale shape: the stream collapses to DISTINCT (user, day) — the
    activity grain, one partial-aggregatable shuffle. Classification
    is lag/lead over the per-user day sequence (window partitioned on
    user_id, co-partitioned with the distinct so the exchange is
    reused; never a global window). Churn is censored at the
    observation edge (a user whose gap crosses max_d is still alive as
    far as the data can say) — max_d is a 1-row broadcast. All
    outputs are integer counts: the hash check is exact with no
    rounding at all.
    """
    ev = load(spark, sf_dir, "events")
    # three consumers (status branch, churn branch, max_d scalar): the
    # activity grain materializes once so the events fact scans once
    ud = (
        ev.select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("user_id").orderBy("d")
    lagd = ud.select(
        "user_id",
        "d",
        F.lag("d").over(w).alias("prev_d"),
        F.lead("d").over(w).alias("next_d"),
    )
    status = lagd.groupBy("d").agg(
        F.sum(
            F.when(F.col("prev_d").isNull(), 1).otherwise(0)
        ).alias("n_new"),
        F.sum(
            F.when(
                F.col("prev_d") == F.date_sub(F.col("d"), 1), 1
            ).otherwise(0)
        ).alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_d").isNotNull()
                & (F.col("prev_d") < F.date_sub(F.col("d"), 1)),
                1,
            ).otherwise(0)
        ).alias("n_resurrected"),
    )
    max_d = ud.agg(F.max("d").alias("max_d"))
    churn = (
        lagd.crossJoin(F.broadcast(max_d))
        .filter(
            (
                F.col("next_d").isNull()
                | (F.col("next_d") > F.date_add(F.col("d"), 1))
            )
            & (F.date_add(F.col("d"), 1) <= F.col("max_d"))
        )
        .groupBy(F.date_add(F.col("d"), 1).alias("cd"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    out = status.join(F.broadcast(churn), status.d == churn.cd, "left")
    n_ch = F.coalesce(F.col("n_churned"), F.lit(0))
    return out.select(
        "d",
        F.col("n_new").cast("long").alias("n_new"),
        F.col("n_retained").cast("long").alias("n_retained"),
        F.col("n_resurrected").cast("long").alias("n_resurrected"),
        n_ch.cast("long").alias("n_churned"),
        (F.col("n_new") + F.col("n_resurrected") - n_ch)
        .cast("long")
        .alias("net_change"),
    ).orderBy("d")


@query(
    "orders_revenue_retention",
    """
WITH yr AS (
  SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS y,
         o_custkey,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1, 2
),
mx AS (SELECT max(y) AS max_y FROM yr),
paired AS (
  SELECT a.y + 1 AS y,
         a.rev AS rev0,
         coalesce(b.rev, 0) AS rev1
  FROM yr a
  LEFT JOIN yr b
    ON b.o_custkey = a.o_custkey AND b.y = a.y + 1
  CROSS JOIN mx
  WHERE a.y + 1 <= mx.max_y
)
SELECT y,
  CAST(count(*) AS BIGINT) AS n_base_customers,
  CAST(sum(CASE WHEN rev1 > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_retained,
  CAST(round(sum(rev0), 2) AS DOUBLE) AS base_rev,
  CAST(round(sum(rev1), 2) AS DOUBLE) AS retained_rev,
  round(CAST(sum(rev1) AS DOUBLE) / CAST(sum(rev0) AS DOUBLE), 6)
    AS nrr,
  round(CAST(sum(least(rev0, rev1)) AS DOUBLE)
        / CAST(sum(rev0) AS DOUBLE), 6) AS grr
FROM paired
GROUP BY y
ORDER BY y
""",
)
def orders_revenue_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly net / gross revenue retention: for every year, take ALL
    of last year's customers as the base cohort and measure this
    year's revenue from exactly that cohort — NRR counts expansion
    (can exceed 1), GRR caps each customer at their base spend (pure
    churn+contraction, ≤ 1). The SaaS-finance companion of
    orders_cohort_ltv (which tracks acquisition cohorts forward;
    this tracks the installed base year over year).

    Scale shape: orders collapse to the (year, customer) revenue
    grain first — one partial-aggregatable shuffle, the only pass
    over the fact table. The adjacent-year pairing is a lead()
    window over per-customer partitions (millions of ≤|years|-row
    groups — the ideal window shape), NOT a self-join of the grain
    on (customer, year+1): the join form shuffles the grain twice
    and sort-merges it against itself, the window form shuffles it
    once. The trailing-edge year is censored via a 1-row broadcast
    max. Money stays DECIMAL through grouping, lead(), least() and
    the final sums — only the ratio divides as double (identical
    IEEE inputs in both engines, 6dp display rounding).
    """
    from sparkify_datalake_spark.functions.determinism import dec2

    orders = load(spark, sf_dir, "orders")
    # three consumers (self-join a/b + the max-year scalar): materialize
    # the (year, customer) grain once — without this the ORDERS fact
    # scans three times, the one re-scan that matters at 100 TB
    yr = (
        orders.groupBy(
            F.year("o_orderdate").cast("int").alias("y"),
            "o_custkey",
        )
        .agg(F.sum(dec2("o_totalprice", 18)).alias("rev"))
        .localCheckpoint()
    )
    # trailing-edge censor: a collected scalar (the checkpoint is
    # already materialized, so this is a KB read, and the broadcast
    # crossJoin layer it replaces was a whole extra job)
    max_y = yr.agg(F.max("y")).collect()[0][0]
    w_next = Window.partitionBy("o_custkey").orderBy("y")
    paired = (
        yr.withColumn("lead_y", F.lead("y").over(w_next))
        .withColumn("lead_rev", F.lead("rev").over(w_next))
        .filter(F.col("y") + 1 <= F.lit(max_y))
        .select(
            (F.col("y") + 1).alias("y"),
            F.col("rev").alias("rev0"),
            F.when(
                F.col("lead_y") == F.col("y") + 1, F.col("lead_rev")
            )
            .otherwise(F.lit(0))
            .alias("rev1"),
        )
    )
    sum0 = F.sum("rev0")
    sum1 = F.sum("rev1")
    return (
        paired.groupBy("y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_base_customers"),
            F.sum(F.when(F.col("rev1") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_retained"),
            F.round(sum0, 2).cast("double").alias("base_rev"),
            F.round(sum1, 2).cast("double").alias("retained_rev"),
            F.round(
                sum1.cast("double") / sum0.cast("double"), 6
            ).alias("nrr"),
            F.round(
                F.sum(F.least(F.col("rev0"), F.col("rev1"))).cast(
                    "double"
                )
                / sum0.cast("double"),
                6,
            ).alias("grr"),
        )
        .orderBy("y")
    )


@query(
    "orders_price_volume_mix",
    """
WITH o AS (
  SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS y,
         c_mktsegment AS seg,
         count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders JOIN customer ON c_custkey = o_custkey
  GROUP BY 1, 2
),
p AS (SELECT y, seg, n, rev, CAST(rev AS DOUBLE) / n AS ap FROM o),
d AS (
  SELECT cur.y, cur.seg,
         prev.n AS n0, cur.n AS n1,
         prev.ap AS p0, cur.ap AS p1,
         CAST(cur.rev - prev.rev AS DOUBLE) AS delta_rev
  FROM p cur
  JOIN p prev ON prev.seg = cur.seg AND prev.y = cur.y - 1
)
SELECT y, seg,
  CAST(n0 AS BIGINT) AS n0,
  CAST(n1 AS BIGINT) AS n1,
  round(delta_rev, 2) AS delta_rev,
  round((n1 - n0) * p0, 2) AS volume_effect,
  round(n0 * (p1 - p0), 2) AS price_effect,
  round((n1 - n0) * (p1 - p0), 2) AS mix_effect
FROM d
ORDER BY y, seg
""",
)
def orders_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix waterfall: decompose each segment's
    year-over-year revenue change into volume effect (order-count
    change at old prices), price effect (average-ticket change at old
    volume) and the interaction mix term — the finance-review bridge
    chart, exactly additive: ΔGMV = volume + price + mix by algebra.

    Scale shape: one partial-aggregatable pass collapses facts to the
    ~(years × 5 segments) grain (customer dim arrives broadcast for
    the segment attribute); the year-over-year pairing is a self-join
    of that tiny grain. Revenue sums stay DECIMAL; average ticket and
    the effect products divide/multiply as doubles derived from
    identical exact inputs, so 2dp rounding is display only.
    """
    from sparkify_datalake_spark.functions.determinism import dec2

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    o = (
        orders.join(
            F.broadcast(
                customer.select("c_custkey", "c_mktsegment")
            ),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.year("o_orderdate").cast("int").alias("y"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec2("o_totalprice", 18)).alias("rev"),
        )
    )
    p = o.select(
        "y", "seg", "n", "rev",
        (F.col("rev").cast("double") / F.col("n")).alias("ap"),
    )
    cur = p.alias("cur")
    prev = p.alias("prev")
    d = cur.join(
        prev,
        (F.col("prev.seg") == F.col("cur.seg"))
        & (F.col("prev.y") == F.col("cur.y") - 1),
    )
    n0, n1 = F.col("prev.n"), F.col("cur.n")
    p0, p1 = F.col("prev.ap"), F.col("cur.ap")
    return d.select(
        F.col("cur.y").alias("y"),
        F.col("cur.seg").alias("seg"),
        n0.cast("long").alias("n0"),
        n1.cast("long").alias("n1"),
        F.round(
            (F.col("cur.rev") - F.col("prev.rev")).cast("double"), 2
        ).alias("delta_rev"),
        F.round((n1 - n0) * p0, 2).alias("volume_effect"),
        F.round(n0 * (p1 - p0), 2).alias("price_effect"),
        F.round((n1 - n0) * (p1 - p0), 2).alias("mix_effect"),
    ).orderBy("y", "seg")


@query(
    "events_error_pchart",
    """
WITH d AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS n,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS k
  FROM events GROUP BY 1
),
pbar AS (SELECT CAST(sum(k) AS DOUBLE) / sum(n) AS p FROM d)
SELECT d.d,
  CAST(n AS BIGINT) AS n_events,
  CAST(k AS BIGINT) AS n_errors,
  round(k / CAST(n AS DOUBLE), 6) AS p_day,
  round(p, 6) AS p_bar,
  round(p + 3 * sqrt(p * (1 - p) / n), 6) AS ucl,
  round(greatest(p - 3 * sqrt(p * (1 - p) / n), 0), 6) AS lcl,
  CAST(k / CAST(n AS DOUBLE) > p + 3 * sqrt(p * (1 - p) / n)
       OR k / CAST(n AS DOUBLE) < p - 3 * sqrt(p * (1 - p) / n)
    AS INTEGER) AS out_of_control
FROM d CROSS JOIN pbar
ORDER BY d.d
""",
)
def events_error_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPC p-chart over the daily error-event proportion: binomial 3σ
    control limits that WIDEN on low-volume days (the p-chart
    hallmark — a fixed threshold false-alarms exactly when traffic is
    thin), flagging days whose error share leaves the band. The
    process-control sibling of events_anomaly (which z-scores volume
    against its own history; this controls a PROPORTION against
    binomial sampling noise).

    Scale shape: one partial-aggregatable pass to (day, n, k); the
    center line is a 1-row broadcast. Flags compare UNROUNDED doubles
    derived from identical integers in both engines — the 6dp columns
    are display only, so the hash check is exact.
    """
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("k"),
    )
    pbar = d.agg(
        (F.sum("k").cast("double") / F.sum("n")).alias("p")
    )
    n, k, p = F.col("n"), F.col("k"), F.col("p")
    sigma = F.sqrt(p * (1 - p) / n)
    p_day = k / n.cast("double")
    return (
        d.crossJoin(F.broadcast(pbar))
        .select(
            "d",
            n.cast("long").alias("n_events"),
            k.cast("long").alias("n_errors"),
            F.round(p_day, 6).alias("p_day"),
            F.round(p, 6).alias("p_bar"),
            F.round(p + 3 * sigma, 6).alias("ucl"),
            F.round(F.greatest(p - 3 * sigma, F.lit(0.0)), 6).alias(
                "lcl"
            ),
            (
                (p_day > p + 3 * sigma) | (p_day < p - 3 * sigma)
            ).cast("int").alias("out_of_control"),
        )
        .orderBy("d")
    )


@query(
    "events_mau_stickiness",
    """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
days AS (SELECT DISTINCT d FROM ud),
bounds AS (SELECT min(d) AS min_d FROM ud),
dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY 1),
mau AS (
  SELECT dy.d, count(DISTINCT u.user_id) AS mau14
  FROM days dy
  JOIN ud u ON u.d BETWEEN dy.d - 13 AND dy.d
  GROUP BY 1
)
SELECT dau.d,
  CAST(dau AS BIGINT) AS dau,
  CAST(mau14 AS BIGINT) AS mau14,
  round(dau / CAST(mau14 AS DOUBLE), 6) AS stickiness
FROM dau
JOIN mau ON mau.d = dau.d
CROSS JOIN bounds
WHERE dau.d >= bounds.min_d + 13
ORDER BY dau.d
""",
)
def events_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / MAU stickiness (14-day active base): for every day with a
    full trailing window, how much of the active base shows up daily —
    THE product-health ratio (a 0.5 stickiness app is a habit, a 0.07
    one is a monthly chore). Completes the engagement ladder:
    events_dau_wau (levels), events_wau_trend (slope), this (ratio).

    Scale shape: the stream collapses to the DISTINCT (user, day)
    grain once; the trailing-window membership is a range join of that
    grain against the ~|days| dimension (fan-out ≤ 14·|grain|, bounded
    by the window length) with a count-distinct per day — at 100 TB
    the same rollup runs as 14-day HLL-sketch unions
    (agg_hll_union's documented path). Partial-window days are cut via
    a broadcast min-date scalar, the events_dau_wau discipline; all
    outputs are integer counts plus one display-rounded ratio.
    """
    ev = load(spark, sf_dir, "events")
    # four consumers (days / bounds / dau / the range-join probe): the
    # activity grain materializes once so the events fact scans once
    ud = (
        ev.select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    days = ud.select("d").distinct()
    bounds = ud.agg(F.min("d").alias("min_d"))
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    u = ud.select(F.col("user_id"), F.col("d").alias("ud_d"))
    mau = (
        days.join(
            u,
            (F.col("ud_d") >= F.date_sub(F.col("d"), 13))
            & (F.col("ud_d") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.count_distinct("user_id").alias("mau14"))
    )
    return (
        dau.join(mau, "d")
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("d") >= F.date_add(F.col("min_d"), 13))
        .select(
            "d",
            F.col("dau").cast("long").alias("dau"),
            F.col("mau14").cast("long").alias("mau14"),
            F.round(
                F.col("dau") / F.col("mau14").cast("double"), 6
            ).alias("stickiness"),
        )
        .orderBy("d")
    )


@query(
    "orders_customer_migration",
    """
WITH yr AS (
  SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS y,
         o_custkey,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1, 2
),
terc AS (
  SELECT y, o_custkey,
         ntile(3) OVER (PARTITION BY y ORDER BY rev, o_custkey) AS t
  FROM yr
),
mx AS (SELECT max(y) AS max_y FROM yr),
trans AS (
  SELECT coalesce(b.y, a.y + 1) AS y,
         coalesce('T' || CAST(a.t AS VARCHAR), 'new') AS from_state,
         coalesce('T' || CAST(b.t AS VARCHAR), 'churned') AS to_state
  FROM terc a
  FULL JOIN terc b
    ON b.o_custkey = a.o_custkey AND b.y = a.y + 1
  CROSS JOIN mx
  WHERE (a.y IS NULL OR a.y + 1 <= mx.max_y)
    AND (a.y IS NOT NULL OR b.y > (SELECT min(y) FROM yr))
)
SELECT y, from_state, to_state,
  CAST(count(*) AS BIGINT) AS n_customers
FROM trans
GROUP BY 1, 2, 3
ORDER BY y, from_state, to_state
""",
)
def orders_customer_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer value-migration matrix: every customer bucketed into
    spend terciles (T1 low … T3 high) per year, then the year-over-
    year transition counts including the 'new' (no prior-year spend)
    and 'churned' (no next-year spend) states — the segment-migration
    table behind 'are we upgrading or leaking customers', the
    state-transition companion of orders_revenue_retention's revenue
    ledger.

    Scale shape: the same materialized-once (year, customer) decimal
    grain; terciles are NTILE over per-year partitions of that grain
    with a (rev, custkey) TOTAL order so ties bucket identically in
    both engines (the win_range_ntile discipline); the transition
    pairing is one self FULL-join on (customer, adjacent-year) with
    edge years censored — 'churned' needs a next year to be absent
    FROM, 'new' a prior year to be absent from. Output is pure
    integer counts on a ≤(years×16)-row grid: hash-exact, no
    rounding anywhere.
    """
    from sparkify_datalake_spark.functions.determinism import dec2

    orders = load(spark, sf_dir, "orders")
    yr = (
        orders.groupBy(
            F.year("o_orderdate").cast("int").alias("y"),
            "o_custkey",
        )
        .agg(F.sum(dec2("o_totalprice", 18)).alias("rev"))
        .localCheckpoint(eager=False)
    )
    # LAZY checkpoint + ONE bounded collect (r10): the year bounds are
    # a 1-row scalar — collecting them materializes the checkpoint and
    # replaces the former eager job + TWO broadcast-build jobs (mx, mn
    # were separate aggregates) with literals in the censor filter.
    b_row = yr.agg(
        F.max("y").alias("max_y"), F.min("y").alias("min_y")
    ).collect()[0]
    if b_row["max_y"] is None:  # no orders: empty matrix
        return local_frame(
            spark,
            [],
            "y int, from_state string, to_state string, n_customers long",
        )
    max_y, min_y = int(b_row["max_y"]), int(b_row["min_y"])
    terc = yr.select(
        "y",
        "o_custkey",
        F.ntile(3)
        .over(Window.partitionBy("y").orderBy("rev", "o_custkey"))
        .alias("t"),
    )
    a = terc.alias("a")
    b = terc.alias("b")
    trans = (
        a.join(
            b,
            (F.col("b.o_custkey") == F.col("a.o_custkey"))
            & (F.col("b.y") == F.col("a.y") + 1),
            "full",
        )
        .filter(
            (F.col("a.y").isNull() | (F.col("a.y") + 1 <= F.lit(max_y)))
            & (F.col("a.y").isNotNull() | (F.col("b.y") > F.lit(min_y)))
        )
        .select(
            F.coalesce(F.col("b.y"), F.col("a.y") + 1).alias("y"),
            F.coalesce(
                F.concat(F.lit("T"), F.col("a.t").cast("string")),
                F.lit("new"),
            ).alias("from_state"),
            F.coalesce(
                F.concat(F.lit("T"), F.col("b.t").cast("string")),
                F.lit("churned"),
            ).alias("to_state"),
        )
    )
    return (
        trans.groupBy("y", "from_state", "to_state")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("y", "from_state", "to_state")
    )


@query(
    "events_kpi_tree",
    """
WITH d AS (
  SELECT CAST(ts AS DATE) AS d,
         count(DISTINCT user_id) AS dau,
         count(*) AS n_events,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events GROUP BY 1
),
l AS (
  SELECT d, dau, n_events, cents,
         lag(dau) OVER (ORDER BY d) AS dau0,
         lag(n_events) OVER (ORDER BY d) AS ev0,
         lag(cents) OVER (ORDER BY d) AS c0
  FROM d
)
SELECT d,
  CAST(dau AS BIGINT) AS dau,
  CAST(n_events AS BIGINT) AS n_events,
  CAST(round(cents / 100.0, 2) AS DOUBLE) AS total_value,
  round(ln(CAST(cents AS DOUBLE) / c0), 6) AS dlog_total,
  round(ln(CAST(dau AS DOUBLE) / dau0), 6) AS dlog_dau,
  round(ln((CAST(n_events AS DOUBLE) / dau)
           / (CAST(ev0 AS DOUBLE) / dau0)), 6) AS dlog_events_per_user,
  round(ln((CAST(cents AS DOUBLE) / n_events)
           / (CAST(c0 AS DOUBLE) / ev0)), 6) AS dlog_value_per_event
FROM l
WHERE c0 IS NOT NULL
ORDER BY d
""",
)
def events_kpi_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative KPI-tree decomposition of the daily value total:
    total = DAU × events/user × value/event, so each day-over-day
    change splits EXACTLY into additive log-contributions
    (Δlog total = Δlog DAU + Δlog events/user + Δlog value/event —
    the identity a metrics review uses to answer 'did revenue fall
    because fewer users came, they did less, or each action was worth
    less'). The decomposition sibling of orders_price_volume_mix
    (finance bridge on orders; this is the product-metrics tree on
    events).

    Scale shape: one partial-aggregatable pass to the day grain (the
    count-distinct is the only non-mergeable piece — HLL is the
    documented 100 TB swap); lag over the ~|days| frame. Every ratio
    feeds ln() from exact integers (value rides as exact cents), and
    ln is correctly rounded on both JVMs/libms for the same input —
    measured identical across engines on this domain; 6dp rounding
    adds display margin.
    """
    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count_distinct("user_id").alias("dau"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).alias("cents"),
    )
    wo = Window.orderBy("d")
    l = d.select(
        "d", "dau", "n_events", "cents",
        F.lag("dau").over(wo).alias("dau0"),
        F.lag("n_events").over(wo).alias("ev0"),
        F.lag("cents").over(wo).alias("c0"),
    )
    dau, nev, c = F.col("dau"), F.col("n_events"), F.col("cents")
    dau0, ev0, c0 = F.col("dau0"), F.col("ev0"), F.col("c0")
    return (
        l.filter(c0.isNotNull())
        .select(
            "d",
            dau.cast("long").alias("dau"),
            nev.cast("long").alias("n_events"),
            F.round(c / 100.0, 2).cast("double").alias("total_value"),
            F.round(F.log(c.cast("double") / c0), 6).alias(
                "dlog_total"
            ),
            F.round(F.log(dau.cast("double") / dau0), 6).alias(
                "dlog_dau"
            ),
            F.round(
                F.log(
                    (nev.cast("double") / dau)
                    / (ev0.cast("double") / dau0)
                ),
                6,
            ).alias("dlog_events_per_user"),
            F.round(
                F.log(
                    (c.cast("double") / nev) / (c0.cast("double") / ev0)
                ),
                6,
            ).alias("dlog_value_per_event"),
        )
        .orderBy("d")
    )


@query(
    "events_lorenz_curve",
    """
WITH u AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY 1
),
ranked AS (
  SELECT n, ntile(10) OVER (ORDER BY n, user_id) AS decile FROM u
),
d AS (
  SELECT decile, count(*) AS n_users, sum(n) AS n_events
  FROM ranked GROUP BY 1
),
tot AS (SELECT sum(n_users) AS tu, sum(n_events) AS te FROM d)
SELECT decile,
  CAST(n_users AS BIGINT) AS n_users,
  CAST(n_events AS BIGINT) AS n_events,
  round(sum(n_users) OVER (ORDER BY decile
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        / CAST(tu AS DOUBLE), 6) AS cum_user_share,
  round(sum(n_events) OVER (ORDER BY decile
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        / CAST(te AS DOUBLE), 6) AS cum_event_share
FROM d CROSS JOIN tot
ORDER BY decile
""",
)
def events_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of activity concentration: users bucketed into
    activity deciles (ascending), cumulative user share vs cumulative
    event share — the 10-point curve BEHIND events_gini's scalar (a
    Gini of 0.4 can hide very different shapes; the curve shows
    whether the top decile or the top percentile carries the load).

    Scale shape: one partial-aggregatable pass to the user grain;
    NTILE runs over that grain with a (count, user_id) TOTAL order so
    tied users bucket identically in both engines (the
    orders_customer_migration discipline); everything after is
    integer arithmetic on a 10-row frame plus two cumulative windows
    and a 1-row broadcast total. At 100 TB the user grain is the only
    real data structure, and the exact NTILE swaps for the two-phase
    ranking of win_ntile_twophase.
    """
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    ranked = u.select(
        "n",
        F.ntile(10).over(Window.orderBy("n", "user_id")).alias("decile"),
    )
    d = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n").alias("n_events"),
    )
    # totals via unbounded windows over the 10-row frame — a
    # groupBy+crossJoin totals frame would re-derive (and re-scan) the
    # user grain (the round's single-scan lesson)
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wa = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return d.select(
        "decile",
        F.col("n_users").cast("long").alias("n_users"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round(
            F.sum("n_users").over(wc)
            / F.sum("n_users").over(wa).cast("double"),
            6,
        ).alias("cum_user_share"),
        F.round(
            F.sum("n_events").over(wc)
            / F.sum("n_events").over(wa).cast("double"),
            6,
        ).alias("cum_event_share"),
    ).orderBy("decile")


@query(
    "orders_purchase_gap_stats",
    """
WITH cd AS (
  SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d
  FROM orders
),
gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   lag(d) OVER (PARTITION BY o_custkey ORDER BY d),
                   d) AS gap
  FROM cd
),
per_c AS (
  SELECT o_custkey, count(d) AS n_order_days FROM cd GROUP BY 1
)
SELECT
  CAST((SELECT count(*) FROM per_c) AS BIGINT) AS n_customers,
  CAST((SELECT count(*) FROM per_c WHERE n_order_days = 1) AS BIGINT)
    AS n_one_time,
  CAST(count(gap) AS BIGINT) AS n_gaps,
  round(quantile_cont(gap, 0.5), 1) AS median_gap_days,
  round(quantile_cont(gap, 0.9), 1) AS p90_gap_days,
  round(avg(gap), 2) AS mean_gap_days
FROM gaps WHERE gap IS NOT NULL
""",
)
def orders_purchase_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: the distribution of day gaps between a
    customer's consecutive order days (median / p90 / mean) plus the
    one-time-customer count — the number that sets every reactivation
    campaign's clock (mail at median-gap, alarm at p90) and the
    orders-side sibling of events_inter_arrival.

    Scale shape: orders collapse to the DISTINCT (customer, day) grain
    once; gaps are a lag over the per-customer day sequence (window
    partitioned on the entity key, never global); exact integer day
    diffs feed interpolated percentiles (the agg_percentile ≍
    quantile_cont contract) and an exact integer-sum mean. The scalar
    customer counts ride as subquery aggregates of the same tiny
    grain.
    """
    orders = load(spark, sf_dir, "orders")
    cd = (
        orders.select(
            "o_custkey", F.col("o_orderdate").cast("date").alias("d")
        )
        .distinct()
        .localCheckpoint(eager=False)  # gaps + both customer scalars
    )
    w = Window.partitionBy("o_custkey").orderBy("d")
    gaps = cd.select(
        F.datediff(F.col("d"), F.lag("d").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    per_c = cd.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_order_days")
    )
    scal = per_c.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(
            F.when(F.col("n_order_days") == 1, 1).otherwise(0)
        ).alias("n_one_time"),
    )
    return (
        gaps.agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.percentile("gap", F.lit(0.5)), 1).alias(
                "median_gap_days"
            ),
            F.round(F.percentile("gap", F.lit(0.9)), 1).alias(
                "p90_gap_days"
            ),
            F.round(F.avg("gap"), 2).alias("mean_gap_days"),
        )
        .crossJoin(F.broadcast(scal))
        .select(
            F.col("n_customers").cast("long").alias("n_customers"),
            F.col("n_one_time").cast("long").alias("n_one_time"),
            F.col("n_gaps").cast("long").alias("n_gaps"),
            "median_gap_days",
            "p90_gap_days",
            "mean_gap_days",
        )
    )


@query(
    "events_entropy_rate",
    """
WITH seq AS (
  SELECT user_id, event_type,
    lag(event_type) OVER (
      PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
tr AS (
  SELECT prev AS state, event_type AS nxt, count(*) AS n
  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
),
st AS (
  SELECT state, sum(n) AS n_out FROM tr GROUP BY 1
),
tot AS (SELECT sum(n) AS nt FROM tr),
h AS (
  SELECT tr.state, st.n_out,
    -sum((CAST(tr.n AS DOUBLE) / st.n_out)
         * log2(CAST(tr.n AS DOUBLE) / st.n_out)) AS h_bits
  FROM tr JOIN st ON tr.state = st.state GROUP BY 1, 2
)
SELECT h.state,
  CAST(h.n_out AS BIGINT) AS n_out,
  round(CAST(h.n_out AS DOUBLE) / t.nt, 6) AS pi,
  round(h.h_bits, 6) AS h_bits,
  round((CAST(h.n_out AS DOUBLE) / t.nt) * h.h_bits, 6) AS rate_contrib
FROM h CROSS JOIN tot t
""",
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov entropy rate of the per-user event stream,
    by state: H(next|state) in bits with the stationary weight π(state)
    and the per-state contribution π·H whose sum is the chain's entropy
    rate — the predictability number behind events_markov's transition
    matrix (a low-rate stream is templated/bot-like; a rate near
    log2(#types) is memoryless noise). Same lag-window grain as
    events_markov, one transition-count rollup (25 rows at 5 types),
    then vocabulary-sized arithmetic: every probability is a ratio of
    exact integers and the ≤5-term log2 sums reduce identical doubles
    in both engines.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    tr = (
        seq.groupBy(F.col("prev").alias("state"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    st = tr.groupBy("state").agg(F.sum("n").alias("n_out"))
    tot = tr.agg(F.sum("n").alias("nt"))
    p = F.col("n").cast("double") / F.col("n_out")
    h = (
        tr.join(F.broadcast(st), "state")
        .groupBy("state", "n_out")
        .agg((-F.sum(p * F.log2(p))).alias("h_bits"))
    )
    pi = F.col("n_out").cast("double") / F.col("nt")
    return h.crossJoin(F.broadcast(tot)).select(
        "state",
        F.col("n_out").cast("long").alias("n_out"),
        F.round(pi, 6).alias("pi"),
        F.round("h_bits", 6).alias("h_bits"),
        F.round(pi * F.col("h_bits"), 6).alias("rate_contrib"),
    )


@query(
    "orders_theil_inequality",
    """
WITH spend AS (
  SELECT o_custkey, sum(o_totalprice) AS spend
  FROM orders GROUP BY 1
),
seg AS (
  SELECT c.c_mktsegment AS segment, s.spend
  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
)
SELECT segment,
  CAST(count(*) AS BIGINT) AS n_customers,
  round(sum(spend) / count(*), 2) AS mean_spend,
  round(sum(spend * ln(spend)) / sum(spend)
        - ln(sum(spend) / count(*)), 6) AS theil_t
FROM seg GROUP BY segment
""",
)
def orders_theil_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer spend per market segment —
    the decomposable member of the inequality family (events_gini,
    events_lorenz_curve): unlike Gini, Theil splits exactly into
    within-group + between-group terms, so per-segment T values can be
    recombined into a corpus-level decomposition, and it needs no
    sorted/ranked pass at all. Algebraic form used:
    T = (1/n)Σ(x/μ)ln(x/μ) = Σx·ln x / Σx − ln μ, which turns the
    whole statistic into three distributive sums (n, Σx, Σx·ln x) —
    one ordinary aggregate, where Gini's rank construction costs a
    per-group sort window.

    Scale shape: groupBy custkey (key-grain shuffle with map-side
    partials), join the customer dim on its key (broadcast at dim
    scale), then a 5-key segment rollup. No window, no sort, no
    re-scan: the textbook "sufficient statistics" pattern —
    the same shape at 100 TB, with AQE free to pick the join side.
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("spend")
    )
    seg = spend.join(
        cust.select(
            F.col("c_custkey").alias("o_custkey"),
            F.col("c_mktsegment").alias("segment"),
        ),
        "o_custkey",
    )
    s = F.sum("spend")
    n = F.count(F.lit(1))
    sxl = F.sum(F.col("spend") * F.log("spend"))
    return seg.groupBy("segment").agg(
        n.cast("long").alias("n_customers"),
        F.round(s / n, 2).alias("mean_spend"),
        F.round(sxl / s - F.log(s / n), 6).alias("theil_t"),
    )


@query(
    "events_peak_detection",
    """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
ctx AS (
  SELECT event_type, d, n,
    lag(n) OVER w AS n_prev,
    lead(n) OVER w AS n_next,
    avg(n) OVER (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail_mean,
    count(n) OVER (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail_n
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d)
)
SELECT event_type, d, CAST(n AS BIGINT) AS n_events,
  round(trail_mean, 2) AS trail_mean,
  round(n / trail_mean, 4) AS prominence
FROM ctx
WHERE n_prev IS NOT NULL AND n_next IS NOT NULL
  AND n > n_prev AND n > n_next
  AND trail_n >= 7 AND n > 1.05 * trail_mean
""",
)
def events_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak (local-maximum) detection on daily event counts per type:
    a day is a peak when it exceeds BOTH neighbors (strict local max)
    AND runs ≥5% above its own trailing-7-day mean (prominence
    gate with a full trailing week required, so early boundary days
    can't fire on a partial baseline). Complements the family that
    looks for different shapes: events_anomaly (global z — misses
    peaks in a noisy band), ts_changepoint (level SHIFTS, not spikes),
    events_cusum_chart (small persistent drift). Peak days are what
    capacity reviews and campaign post-mortems enumerate.

    Determinism: daily counts are integers; lag/lead and the trailing
    mean run over the (type, day) grain (map-side combined, tiny at
    any SF); the prominence comparison uses the UNROUNDED mean in
    both engines so the 2 dp display round can't flip a borderline
    peak. Scale shape: one key-grain shuffle, windows on the bounded
    calendar frame.
    """
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.to_date(F.date_trunc("day", "ts")).alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    w_trail = w.rowsBetween(-7, -1)
    ctx = daily.select(
        "event_type", "d", "n",
        F.lag("n").over(w).alias("n_prev"),
        F.lead("n").over(w).alias("n_next"),
        F.avg("n").over(w_trail).alias("trail_mean"),
        F.count("n").over(w_trail).alias("trail_n"),
    )
    return ctx.filter(
        F.col("n_prev").isNotNull()
        & F.col("n_next").isNotNull()
        & (F.col("n") > F.col("n_prev"))
        & (F.col("n") > F.col("n_next"))
        & (F.col("trail_n") >= 7)
        & (F.col("n") > 1.05 * F.col("trail_mean"))
    ).select(
        "event_type",
        "d",
        F.col("n").cast("long").alias("n_events"),
        F.round("trail_mean", 2).alias("trail_mean"),
        F.round(F.col("n") / F.col("trail_mean"), 4).alias("prominence"),
    )
