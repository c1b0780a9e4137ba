"""Time-series resampling operators (SURVEY §2 round-2 additions).

Gap-filling + forward-fill is the canonical "make irregular events a
regular series" op every metrics pipeline needs before joins against
other regular series.

Scale notes (100 TB): the grid explodes to (users × buckets) rows but
each user's chain is independent — the window partitions by user, so it
scales horizontally like every other entity-keyed window; the observed
side is pre-aggregated per (user, bucket) before the join, so the join
input is bounded by the grid, not the raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkify_datalake_spark.functions.determinism import cents_long
from sparkify_datalake_spark.operators.percentiles import exact_percentiles
from sparkify_datalake_spark.registry import query
from sparkify_datalake_spark.sources.load import load, local_frame


@query(
    "ts_resample_ffill",
    """
WITH ev AS (
  SELECT user_id, date_trunc('hour', ts) AS h, ts, value
  FROM events WHERE user_id < 50
),
obs AS (
  SELECT user_id, h, count(*) AS n_events,
    round(arg_max(value, ts), 6) AS last_value
  FROM ev GROUP BY user_id, h
),
grid AS (
  SELECT user_id,
    unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
  FROM ev GROUP BY user_id
)
SELECT g.user_id, g.h,
  coalesce(o.n_events, 0) AS n_events,
  last_value(o.last_value IGNORE NULLS) OVER (
    PARTITION BY g.user_id ORDER BY g.h
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value
FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
""",
)
def ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample of the event stream with forward-filled values.

    Three stages, each scale-shaped: (1) observed hours pre-aggregate to
    one row per (user, hour) — n_events plus the last value by event
    time (max_by on the unique (ts) order, deterministic because
    (user_id, ts) is unique in the fixtures); (2) each user's hour grid
    generates from min to max observed hour (sequence + explode — no
    driver loop); (3) a left join pins observations onto the grid and
    last(ignorenulls) forward-fills gaps per user. Bounded to
    user_id < 50 so the grid is fixture-sized at every SF.
    """
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select(
            "user_id",
            F.date_trunc("hour", "ts").alias("h"),
            "ts",
            "value",
        )
    )
    obs = ev.groupBy("user_id", "h").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.expr("max_by(value, ts)"), 6).alias("last_value"),
    )
    grid = (
        ev.groupBy("user_id")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grid.join(obs, ["user_id", "h"], "left").select(
        "user_id",
        "h",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.last("last_value", ignorenulls=True).over(w).alias("ffill_value"),
    )


@query(
    "ts_sessionize",
    """
WITH flagged AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts,
    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS INT) AS session_seq,
  min(ts) AS session_start, max(ts) AS session_end,
  count(*) AS n_events,
  round((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0, 3)
    AS duration_sec
FROM sessions
GROUP BY user_id, session_seq
""",
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: consecutive events of a user ≤30 min
    apart form one session (the batch twin of stream_session, which
    uses session_window on the same 30-min gap).

    The lag-flag-cumsum pattern: flag a session start when the gap to
    the previous event exceeds the timeout (or there is none), then a
    running sum of flags numbers each user's sessions 1..k, and one
    groupBy folds per-session bounds/counts. Both windows partition by
    user_id — entity-keyed, horizontally scalable, no global sort. Gap
    arithmetic is integer microseconds (unix_micros ↔ epoch_us; the
    fixture timestamps are exactly µs-grained, so both engines see
    identical values) — no double drift, hash-checkable.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts")
    new_s = F.when(
        F.lag("ts").over(w).isNull()
        | ((us - F.lag(us).over(w)) > 1_800_000_000),
        1,
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessions = ev.select(
        "user_id",
        "ts",
        F.sum(new_s).over(run).cast("int").alias("session_seq"),
    )
    start_us = F.unix_micros(F.min("ts").cast("timestamp"))
    end_us = F.unix_micros(F.max("ts").cast("timestamp"))
    return sessions.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round((end_us - start_us) / 1_000_000.0, 3).alias(
            "duration_sec"
        ),
    )


@query(
    "ts_interpolate",
    """
WITH ev AS (
  SELECT user_id, date_trunc('hour', ts) AS h, ts, value
  FROM events WHERE user_id < 50
),
obs AS (
  SELECT user_id, h, round(arg_max(value, ts), 6) AS v
  FROM ev GROUP BY user_id, h
),
grid AS (
  SELECT user_id,
    unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
  FROM ev GROUP BY user_id
),
j AS (
  SELECT g.user_id, g.h, o.v,
    last_value(o.v IGNORE NULLS) OVER wp AS pv,
    last_value(CASE WHEN o.v IS NOT NULL THEN g.h END IGNORE NULLS)
      OVER wp AS ph,
    first_value(o.v IGNORE NULLS) OVER wn AS nv,
    first_value(CASE WHEN o.v IS NOT NULL THEN g.h END IGNORE NULLS)
      OVER wn AS nh
  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
  WINDOW
    wp AS (PARTITION BY g.user_id ORDER BY g.h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wn AS (PARTITION BY g.user_id ORDER BY g.h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, h,
  CAST(v IS NOT NULL AS BIGINT) AS is_observed,
  CASE WHEN v IS NOT NULL THEN v
       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         floor((pv + (nv - pv)
           * (CAST(epoch_us(h) - epoch_us(ph) AS DOUBLE)
              / (epoch_us(nh) - epoch_us(ph)))) * 1000000 + 0.5) / 1000000
       WHEN pv IS NOT NULL THEN pv
       ELSE nv END AS value_interp
FROM j
""",
)
def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the hourly resample grid — the
    numeric twin of ts_resample_ffill for continuous measures (sensor
    values, prices) where a step function misrepresents the gap.

    Same three scale-shaped stages as the ffill variant (bounded obs
    aggregate, per-user sequence grid, grid-pinning left join), then
    BOTH fill directions in one window pass pair: previous observation
    (value + hour) via last(ignorenulls) over the ascending frame, next
    observation via first(ignorenulls) over the following frame — the
    two frames share the user_id partitioning and one ascending sort,
    so the whole op costs the join plus ONE window exchange. Gap hours
    get pv + (nv-pv)·Δt ratio with Δt in exact integer µs; edges
    degrade to nearest-neighbor (ffill after the last obs, bfill before
    the first). Observed values are 6dp-rounded BEFORE interpolating,
    so both engines run identical IEEE arithmetic on identical inputs;
    the interp result is then quantized with an explicit
    floor(x·1e6 + 0.5)/1e6 rather than round() — hour-grid Δt ratios
    are dyadic, so interpolants land EXACTLY on 6dp half-way points
    where the engines' native double round() disagree (3 rows at
    sf0.01), while floor on bitwise-identical inputs cannot.
    """
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select(
            "user_id", F.date_trunc("hour", "ts").alias("h"), "ts", "value"
        )
    )
    obs = ev.groupBy("user_id", "h").agg(
        F.round(F.expr("max_by(value, ts)"), 6).alias("v")
    )
    grid = (
        ev.groupBy("user_id")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("v").isNotNull(), F.col("h"))
    j = grid.join(obs, ["user_id", "h"], "left").select(
        "user_id",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_h, ignorenulls=True).over(wp).alias("ph"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_h, ignorenulls=True).over(wn).alias("nh"),
    )
    frac = (
        F.unix_micros("h") - F.unix_micros("ph")
    ).cast("double") / (F.unix_micros("nh") - F.unix_micros("ph"))
    return j.select(
        "user_id",
        "h",
        F.col("v").isNotNull().cast("long").alias("is_observed"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.floor(
                (F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
                * 1_000_000
                + F.lit(0.5)
            )
            / 1_000_000,
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
        .alias("value_interp"),
    )


@query(
    "ts_rollup_hierarchy",
    """
WITH hour AS (
  SELECT date_trunc('hour', ts) AS bucket, count(*) AS n_events,
    sum(CAST(value AS DECIMAL(18,2))) AS sv
  FROM events GROUP BY 1
),
day AS (
  SELECT date_trunc('day', ts) AS bucket, count(*) AS n_events,
    sum(CAST(value AS DECIMAL(18,2))) AS sv
  FROM events GROUP BY 1
)
SELECT 'hour' AS level, bucket, n_events,
  CAST(round(sv, 2) AS DOUBLE) AS sum_value FROM hour
UNION ALL
SELECT 'day' AS level, bucket, n_events,
  CAST(round(sv, 2) AS DOUBLE) AS sum_value FROM day
""",
)
def ts_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: minute → hour → day, each
    coarser level aggregated FROM the next finer one, never from raw
    events — the continuous-aggregate maintenance contract (a day
    re-rolls from 24 hour rows, not from a day of raw facts).

    The Spark side builds the real chain (minute buckets from events,
    hours from minutes, days from hours); the ORACLE aggregates hour
    and day directly from raw events — the hash match is therefore the
    PROOF that the chain is lossless, which is exactly the mergeability
    property that makes incremental rollups valid. It holds because
    count and DECIMAL sum are associative (kept exact through every
    level; rounded once at the edge) — the same property the HLL/bitmap
    rollups (agg_hll_union, agg_bitmap_distinct) extend to distinct
    counts. At 100 TB each level's input is the finer level's output
    (minutes ≈ 2 orders smaller than events, hours 60× smaller again):
    the re-aggregation cost collapses geometrically.
    """
    ev = load(spark, sf_dir, "events")
    minute = ev.groupBy(
        F.date_trunc("minute", "ts").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
    )
    hour = minute.groupBy(
        F.date_trunc("hour", "bucket").alias("bucket")
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))
    day = hour.groupBy(
        F.date_trunc("day", "bucket").alias("bucket")
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))
    out_cols = lambda lvl, df: df.select(  # noqa: E731
        F.lit(lvl).alias("level"),
        "bucket",
        "n_events",
        F.round("sv", 2).cast("double").alias("sum_value"),
    )
    return out_cols("hour", hour).unionByName(out_cols("day", day))


@query(
    "events_bounce_rate",
    """
WITH flagged AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id,
    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq,
    ts
  FROM flagged
),
per_session AS (
  SELECT user_id, session_seq,
    CAST(date_trunc('day', min(ts)) AS DATE) AS day,
    count(*) AS n_events
  FROM sessions GROUP BY 1, 2
)
SELECT day,
  count(*) AS n_sessions,
  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_bounces,
  round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
        / CAST(count(*) AS DOUBLE), 6) AS bounce_rate
FROM per_session GROUP BY day
""",
)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions that contain exactly one
    event, keyed by the session's start day — the engagement-quality
    metric layered on gap-based sessionization (same 30-min timeout and
    lag-flag-cumsum machinery as ts_sessionize, then two tiny
    aggregations on the session frame).

    The metric pass never re-touches raw events: sessions collapse to
    one row each, days to one row each. Bounce definition (n_events=1)
    and day attribution (session START day — a session straddling
    midnight counts once, on the day it began) are pinned in both
    engines; the rate divides identical integers.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts")
    new_s = F.when(
        F.lag("ts").over(w).isNull()
        | ((us - F.lag(us).over(w)) > 1_800_000_000),
        1,
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessions = ev.select(
        "user_id", "ts", F.sum(new_s).over(run).alias("session_seq")
    )
    per_session = sessions.groupBy("user_id", "session_seq").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounce = F.when(F.col("n_events") == 1, 1).otherwise(0)
    return per_session.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(bounce).alias("n_bounces"),
        F.round(
            F.sum(bounce) / F.count(F.lit(1)).cast("double"), 6
        ).alias("bounce_rate"),
    )


@query(
    "events_dedup_first_in_window",
    """
WITH w AS (
  SELECT user_id, event_type, ts, event_id, value,
    make_timestamp(CAST(epoch_us(ts) AS BIGINT)
                   // 1800000000 * 1800000000) AS win_start
  FROM events
)
SELECT user_id, event_type, win_start,
  min(ts) AS first_ts,
  arg_min(event_id, ts) AS first_event_id,
  count(*) - 1 AS n_suppressed
FROM w GROUP BY user_id, event_type, win_start
""",
)
def events_dedup_first_in_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed event dedup: keep the FIRST event per (user, type) per
    30-min tumbling window, with the suppressed-count audit column —
    the batch twin of the streaming dropDuplicatesWithinWatermark
    (streaming/runtime.py dedup_stream), and the standard telemetry
    debounce (retry storms, double-clicks, at-least-once ingestion).

    Window assignment is pure integer arithmetic on epoch µs (floor to
    the 1800 s grid; the oracle reconstructs the naive timestamp with
    make_timestamp(µs), which — unlike to_timestamp→CAST — is
    independent of the oracle session's TimeZone), so the whole op is
    ONE
    partial-aggregatable groupBy: min(ts) + min_by(event_id, ts) picks
    the keeper deterministically ((user,ts) unique in the fixtures),
    and no window function or sort is needed at all — at 100 TB this
    is an aggregation, not an ordering problem.
    """
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    win = F.timestamp_micros(
        (us / 1_800_000_000).cast("long") * 1_800_000_000
    ).cast("timestamp_ntz")
    return (
        ev.select(
            "user_id", "event_type", "ts", "event_id",
            win.alias("win_start"),
        )
        .groupBy("user_id", "event_type", "win_start")
        .agg(
            F.min("ts").alias("first_ts"),
            F.expr("min_by(event_id, ts)").alias("first_event_id"),
            (F.count(F.lit(1)) - F.lit(1)).alias("n_suppressed"),
        )
    )


@query(
    "events_inter_arrival",
    """
WITH gaps AS (
  SELECT event_type,
    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT event_type,
  count(*) AS n_gaps,
  round(quantile_cont(gap_us, 0.5) / 1000000.0, 6) AS p50_sec,
  round(quantile_cont(gap_us, 0.95) / 1000000.0, 6) AS p95_sec,
  round(CAST(sum(gap_us) AS DOUBLE) / count(*) / 1000000.0, 6)
    AS mean_sec
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY event_type
""",
)
def events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type (p50/p95/mean
    seconds between consecutive events) — the traffic-model fingerprint
    behind capacity planning, anomaly baselines and synthetic-load
    generation.

    The gap multiset comes from a TWO-PHASE lag: event_type has only 5
    values, so a window partitioned on it alone is five single-task
    sorts of the whole stream (the documented low-cardinality window
    hazard — measured 9.7 s at the 64× probe, ~6 s after this
    rewrite). Phase 1 lags within (type, day) partitions —
    calendar-bounded, hundreds of parallel tasks; phase 2 adds the one
    cross-midnight gap per (type, day) from a days-sized first/last
    frame (min/max epoch-µs per day, lagged over days). Consecutive-
    in-full-order = consecutive-within-day ∪ day boundaries, so the
    union is exactly the oracle's single-window gap multiset — and the
    aggregate only sees the multiset. Percentiles interpolate over
    exact integer µs (the agg_percentile contract) and the mean
    divides an exact integer sum, so 6dp rounding is engine-exact; at
    100 TB swap the exact percentile for percentile_approx exactly as
    agg_approx_percentile demonstrates.
    """
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    day = F.col("ts").cast("date")
    w_day = Window.partitionBy("event_type", "day").orderBy(
        "ts", "event_id"
    )
    within = (
        ev.select("event_type", day.alias("day"), us.alias("us"), "ts",
                  "event_id")
        .select(
            "event_type",
            (F.col("us") - F.lag("us").over(w_day)).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    ends = ev.groupBy("event_type", day.alias("day")).agg(
        F.min(us).alias("first_us"), F.max(us).alias("last_us")
    )
    w_days = Window.partitionBy("event_type").orderBy("day")
    boundary = (
        ends.select(
            "event_type",
            (
                F.col("first_us") - F.lag("last_us").over(w_days)
            ).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    # checkpoint: the sketch-bracketed exact percentile reads its input
    # twice, and recomputing the lag windows costs more than re-reading
    # the materialized (type, gap) pairs. LAZY deliberately: the gap
    # frame is DATA-SIZED (6.4M rows at the 64× probe) — an eager
    # checkpoint materializes it as its own serial job before the main
    # action (measured 4.9 s → 11.4 s at 64× when tried in r9); the
    # eager-for-concurrent-branches rule applies to KB-sized frames.
    gaps = within.unionAll(boundary).localCheckpoint(eager=False)
    pct = exact_percentiles(
        gaps, ["event_type"], "gap_us", [(0.5, "p50"), (0.95, "p95")]
    )
    base = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(
            F.sum("gap_us").cast("double") / F.count(F.lit(1)) / 1_000_000.0,
            6,
        ).alias("mean_sec"),
    )
    return base.join(F.broadcast(pct), "event_type").select(
        "event_type",
        "n_gaps",
        F.round(F.col("p50") / 1_000_000.0, 6).alias("p50_sec"),
        F.round(F.col("p95") / 1_000_000.0, 6).alias("p95_sec"),
        "mean_sec",
    )


@query(
    "events_concurrency",
    """
WITH spans AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
    min(ts) AS t0, max(ts) AS t1
  FROM events GROUP BY 1, 2
), pts AS (
  SELECT day, t0 AS t, 1 AS delta FROM spans
  UNION ALL SELECT day, t1 AS t, -1 AS delta FROM spans
), run AS (
  SELECT day, sum(delta) OVER (PARTITION BY day ORDER BY t, delta
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM pts
)
SELECT day, CAST(max(c) AS BIGINT) AS max_concurrent,
  CAST(count(*) / 2 AS BIGINT) AS n_spans
FROM run GROUP BY day
""",
)
def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day: the max number of simultaneously
    active users, where a user's activity span is [first event, last
    event] of the day — the classic interval sweep-line (capacity
    planning, license seats, connection-pool sizing).

    Sweep-line as ONE window pass: each span contributes a +1 point at
    its start and a −1 at its end; the running sum of deltas in time
    order is the live concurrency and its per-day max is the answer.
    Tie rule pinned in both engines (ORDER BY t, delta puts −1 first):
    spans touching at a boundary — including single-event zero-length
    spans — do NOT count as overlapping. Scale: the sort is
    PARTITIONED by day (bounded state, no global order), the span
    reduction is a partial-agg groupBy over (user, day), and the sweep
    carries 2 rows per user-day — at 100 TB this is two shuffles of a
    frame bounded by users × days, never by raw events.
    """
    ev = load(spark, sf_dir, "events")
    spans = (
        ev.select(
            "user_id", F.date_trunc("day", "ts").alias("day"), "ts"
        )
        .groupBy("user_id", "day")
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    )
    pts = spans.select(
        "day", F.col("t0").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select("day", F.col("t1").alias("t"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("day")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.select("day", F.sum("delta").over(w).alias("c"))
    return run.groupBy("day").agg(
        F.max("c").cast("bigint").alias("max_concurrent"),
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_spans"),
    )


@query(
    "ts_changepoint",
    """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
    count(*) AS n
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, avg(n) AS mu FROM daily GROUP BY 1
), cusum AS (
  SELECT d.event_type, d.day,
    sum(d.n - s.mu) OVER (PARTITION BY d.event_type ORDER BY d.day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM daily d JOIN stats s ON d.event_type = s.event_type
), mx AS (
  SELECT event_type, day, abs(c) AS a,
    max(abs(c)) OVER (PARTITION BY event_type) AS ma
  FROM cusum
)
SELECT event_type,
  min(CASE WHEN a = ma THEN day END) AS changepoint_day,
  round(max(a), 6) AS max_cusum,
  count(*) AS n_days
FROM mx GROUP BY event_type
""",
)
def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event-type daily series: the day where
    the cumulative deviation from the series mean peaks — the classic
    level-shift locator behind deploy-regression and drift monitors.

    One partial-agg pass builds the daily series; then THREE window
    expressions share a single event_type hash partitioning (mean,
    ordered prefix-sum of deviations, partition max of |cusum|) — one
    shuffle total, state bounded by |types| × |days|. The prefix sum is
    an ORDERED window, so both engines add identical doubles in
    identical order (exact integer counts minus an identically-derived
    mean) — bit-equal cusums; the argmax is tie-pinned to the earliest
    day (min day among maxima) rather than trusting either engine's
    arg_max tie order.
    """
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.date_trunc("day", "ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_part = Window.partitionBy("event_type")
    w_ord = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mu = F.avg("n").over(w_part)
    c = F.sum(F.col("n") - mu).over(w_ord)
    a = F.abs(c)
    mx = daily.select(
        "event_type",
        "day",
        a.alias("a"),
    ).withColumn("ma", F.max("a").over(w_part))
    return mx.groupBy("event_type").agg(
        F.min(F.when(F.col("a") == F.col("ma"), F.col("day"))).alias(
            "changepoint_day"
        ),
        F.round(F.max("a"), 6).alias("max_cusum"),
        F.count(F.lit(1)).alias("n_days"),
    )


@query(
    "ts_autocorr",
    """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, cnt,
    lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY d) AS lag1,
    lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY d) AS lag7
  FROM daily
)
SELECT event_type, lag, round(autocorr, 6) AS autocorr, n_days
FROM (
  SELECT event_type, 1 AS lag, corr(cnt, lag1) AS autocorr,
         count(lag1) AS n_days
  FROM lagged GROUP BY event_type
  UNION ALL
  SELECT event_type, 7 AS lag, corr(cnt, lag7) AS autocorr,
         count(lag7) AS n_days
  FROM lagged GROUP BY event_type
) t
""",
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 autocorrelation of the per-type daily event
    series — the seasonality probe (is there a weekly cycle?) run
    before any forecasting model. Plan: one groupBy to the daily grain
    (the only shuffle that sees raw rows), then a per-type window lag
    (5 types x ~90 days — the windowed data is already thousands of
    times smaller than the input) and a COUNT/CORR re-aggregate. At
    100 TB the daily-grain reduction happens map-side, so the window
    stage is always tiny; this "aggregate to grain, then window the
    grain" shape is the scalable form of every seasonality/trend scan.
    Pearson corr is reassociation-stable to ~1e-12 here; rounded to
    6dp.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "cnt",
        F.lag("cnt", 1).over(w).alias("lag1"),
        F.lag("cnt", 7).over(w).alias("lag7"),
    )
    out = None
    for k in (1, 7):
        part = lagged.groupBy("event_type").agg(
            F.lit(k).alias("lag"),
            F.round(F.corr("cnt", f"lag{k}"), 6).alias("autocorr"),
            F.count(f"lag{k}").alias("n_days"),
        ).select("event_type", "lag", "autocorr", "n_days")
        out = part if out is None else out.unionByName(part)
    return out


@query(
    "orders_backlog",
    """
WITH span AS (
  SELECT o.o_orderkey,
    CAST(date_trunc('month', o.o_orderdate) AS DATE) AS m_open,
    CAST(date_trunc('month', max(l.l_shipdate)) AS DATE)
      + INTERVAL 1 MONTH AS m_after_close
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
deltas AS (
  SELECT m_open AS m, 1 AS delta, 1 AS opened, 0 AS closed FROM span
  UNION ALL
  SELECT CAST(m_after_close AS DATE), -1, 0, 1 FROM span
),
grid AS (
  SELECT unnest(generate_series(
    (SELECT min(m_open) FROM span),
    (SELECT max(CAST(m_after_close AS DATE)) FROM span),
    INTERVAL 1 MONTH)) AS m
),
monthly AS (
  SELECT g.m AS month,
    coalesce(sum(d.delta), 0) AS delta,
    coalesce(sum(d.opened), 0) AS n_opened,
    coalesce(sum(d.closed), 0) AS n_closed
  FROM grid g LEFT JOIN deltas d ON d.m = g.m
  GROUP BY 1
)
SELECT CAST(month AS DATE) AS month,
  CAST(sum(delta) OVER (ORDER BY month
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS n_open,
  CAST(n_opened AS BIGINT) AS n_opened,
  CAST(n_closed AS BIGINT) AS n_closed
FROM monthly
""",
)
def orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly open-order backlog via interval sweep-line: an order is
    open from its order month until the month its last lineitem ships.
    The naive form joins every order to every month it spans (rows x
    span-length blowup); the sweep emits exactly TWO +-1 deltas per
    order, aggregates them to month grain map-side, and takes one
    cumulative sum over the ~30-row month grid. At 100 TB the shuffle
    carries 2 rows/order pre-aggregated to ~dozens of month rows — the
    unbounded-window cumsum runs on the month grain, never the raw
    data, so the single-partition window stage is O(months), not
    O(orders). Month grid is materialized with sequence() so
    zero-delta months still report their carried backlog.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    span = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "o_orderkey",
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("m_open"),
        )
        .agg(
            F.add_months(
                F.to_date(F.date_trunc("month", F.max("l_shipdate"))), 1
            ).alias("m_after_close")
        )
        # LAZY checkpoint (r10): span (the orders⋈lineitem rollup — the
        # expensive subtree) feeds the delta explode AND the grid
        # bounds; the bounds are a 1-row scalar, so COLLECTING them
        # materializes the checkpoint (bounded-collect discipline) and
        # the delta pass is then the only plan consumer — no eager job,
        # no concurrent-branch race, still 2 parquet scans total
        .localCheckpoint(eager=False)
    )
    b = span.agg(
        F.min("m_open").alias("lo"), F.max("m_after_close").alias("hi")
    ).collect()[0]
    if b["lo"] is None:  # no orders: empty grid, empty result
        return local_frame(
            spark, [], "month date, n_open long, n_opened long, n_closed long"
        )
    # both ±1 deltas ride ONE explode per order (the union form
    # re-derived span once per arm)
    deltas = span.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("m_open").alias("m"),
                    F.lit(1).alias("delta"),
                    F.lit(1).alias("opened"),
                    F.lit(0).alias("closed"),
                ),
                F.struct(
                    F.col("m_after_close").alias("m"),
                    F.lit(-1).alias("delta"),
                    F.lit(0).alias("opened"),
                    F.lit(1).alias("closed"),
                ),
            )
        ).alias("__d")
    ).select("__d.*")
    # aggregate to month grain BEFORE touching the grid: the former
    # grid-LEFT-JOIN-deltas shape shuffled every ±1 row onto ~30 month
    # keys (the low-cardinality skew trap) and could never broadcast
    # its data-sized right side; the partial-aggregated month frame is
    # ~dozens of rows and broadcasts
    md = deltas.groupBy(F.col("m").alias("month")).agg(
        F.sum("delta").alias("delta"),
        F.sum("opened").cast("long").alias("opened"),
        F.sum("closed").cast("long").alias("closed"),
    )
    grid = spark.range(1).select(
        F.explode(
            F.expr(
                f"sequence(to_date('{b['lo']}'), to_date('{b['hi']}'),"
                " interval 1 month)"
            )
        ).alias("month")
    )
    monthly = grid.join(F.broadcast(md), "month", "left").select(
        "month",
        F.coalesce(F.col("delta"), F.lit(0)).alias("delta"),
        F.coalesce(F.col("opened"), F.lit(0)).alias("n_opened"),
        F.coalesce(F.col("closed"), F.lit(0)).alias("n_closed"),
    )
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return monthly.select(
        "month",
        F.sum("delta").over(w).cast("long").alias("n_open"),
        "n_opened",
        "n_closed",
    )


@query(
    "ts_weekday_seasonality",
    """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
typed AS (
  SELECT event_type, isodow(d) AS dow, cnt,
    avg(cnt) OVER (PARTITION BY event_type) AS type_avg
  FROM daily
)
SELECT event_type, CAST(dow AS BIGINT) AS dow,
  CAST(count(*) AS BIGINT) AS n_days,
  CAST(sum(cnt) AS BIGINT) AS n_events,
  round(avg(cnt / type_avg), 6) AS seasonal_index
FROM typed
GROUP BY event_type, dow
""",
)
def ts_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index per event type (avg daily count on
    that weekday relative to the type's overall daily average) — the
    multiplicative seasonality table a forecaster divides out before
    trend fitting, and the complement of ts_autocorr's lag-7 signal.
    Same scalable skeleton: one raw-row shuffle down to the daily
    grain, then an unpartitioned-safe window (partitioned BY type, ~90
    rows each) and a 35-row final aggregate. ISO weekday (Mon=1..7)
    via Spark's weekday()+1 ≡ DuckDB's isodow. The index divides two
    averages of the same integer counts; rounded at 6dp.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    typed = daily.select(
        "event_type",
        (F.weekday("d") + 1).cast("long").alias("dow"),
        "cnt",
        F.avg("cnt")
        .over(Window.partitionBy("event_type"))
        .alias("type_avg"),
    )
    return typed.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cnt").alias("n_events"),
        F.round(F.avg(F.col("cnt") / F.col("type_avg")), 6).alias(
            "seasonal_index"
        ),
    )


@query(
    "events_velocity_rule",
    """
WITH counted AS (
  SELECT user_id, ts,
    count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW) AS n_5min
  FROM events
),
per_user AS (
  SELECT user_id, max(n_5min) AS peak_5min, count(*) AS n_events
  FROM counted GROUP BY 1
)
SELECT user_id, CAST(peak_5min AS BIGINT) AS peak_5min,
  CAST(n_events AS BIGINT) AS n_events,
  peak_5min >= 10 AS flagged
FROM per_user
""",
)
def events_velocity_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity rule — the first fraud/abuse heuristic every risk
    pipeline ships: a user's peak event count inside any trailing
    5-minute window, flagged at ≥10 (burst = scripted client,
    credential stuffing, scraper). The trailing count is ONE
    event-time RANGE window per user over integer epoch-µs (the
    win_trailing_1h machinery pointed at risk), then a per-user max —
    both stages share the user_id partitioning, so the rule costs one
    shuffle and state bounded by each user's 5-minute neighborhood.
    The flag threshold is emitted as data (peak_5min) so policy tuning
    is a filter, not a recompute.
    """
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-300_000_000, 0)
    )
    counted = ev.select(
        "user_id", F.count(F.lit(1)).over(w).alias("n_5min")
    )
    per_user = counted.groupBy("user_id").agg(
        F.max("n_5min").alias("peak_5min"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per_user.select(
        "user_id",
        F.col("peak_5min").cast("long").alias("peak_5min"),
        F.col("n_events").cast("long").alias("n_events"),
        (F.col("peak_5min") >= 10).alias("flagged"),
    )


@query(
    "ts_seasonal_decompose",
    """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS cnt
  FROM events GROUP BY 1
),
trend AS (
  SELECT d, cnt,
    CASE WHEN count(*) OVER w = 7 THEN avg(cnt) OVER w END AS trend
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
seas_raw AS (
  SELECT isodow(d) - 1 AS dow, avg(cnt - trend) AS s
  FROM trend WHERE trend IS NOT NULL GROUP BY 1
),
seas AS (
  SELECT dow, s - avg(s) OVER () AS seasonal FROM seas_raw
)
SELECT t.d, CAST(t.cnt AS BIGINT) AS cnt,
  round(t.trend, 4) AS trend,
  round(se.seasonal, 4) AS seasonal,
  round(t.cnt - t.trend - se.seasonal, 4) AS resid
FROM trend t JOIN seas se ON isodow(t.d) - 1 = se.dow
""",
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily event
    series: trend = centered 7-day moving average (full windows only —
    edge days report NULL trend/resid rather than a biased partial
    mean), seasonal = weekday mean of the detrended series re-centered
    to sum to zero, residual = remainder. The anomaly-triage
    preprocessor: events_anomaly flags spikes, this explains whether
    they're weekday rhythm or genuine drift. Grain-then-window: raw
    rows partial-aggregate to the ~30-row daily frame once, every
    window/join after runs on that bounded grain (horizon-bounded, not
    row-bounded — the ts_autocorr discipline). Weekday keys use
    Monday=0 in both engines (Spark `weekday` ≍ DuckDB `isodow - 1`);
    the seasonal frame joins back broadcast. 4dp rounding sits far
    above the ~1e-12 float-reassociation noise of the tiny averages.
    """
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(F.date_trunc("day", "ts").cast("date").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trend = daily.select(
        "d",
        "cnt",
        F.when(
            F.count(F.lit(1)).over(w) == 7, F.avg("cnt").over(w)
        ).alias("trend"),
    )
    seas_raw = (
        trend.filter(F.col("trend").isNotNull())
        .groupBy(F.weekday("d").alias("dow"))
        .agg(F.avg(F.col("cnt") - F.col("trend")).alias("s"))
    )
    seas = seas_raw.select(
        "dow",
        (F.col("s") - F.avg("s").over(Window.partitionBy())).alias(
            "seasonal"
        ),
    )
    return (
        trend.join(
            F.broadcast(seas), F.weekday(F.col("d")) == F.col("dow")
        )
        .select(
            "d",
            F.col("cnt").cast("long").alias("cnt"),
            F.round("trend", 4).alias("trend"),
            F.round("seasonal", 4).alias("seasonal"),
            F.round(
                F.col("cnt") - F.col("trend") - F.col("seasonal"), 4
            ).alias("resid"),
        )
    )


@query(
    "ts_forecast_snaive",
    """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, cnt,
    lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY d) AS snaive,
    lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY d) AS naive
  FROM daily
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_eval,
  round(avg(abs(cnt - snaive)), 4) AS mae_snaive,
  round(avg(abs(cnt - naive)), 4) AS mae_naive,
  round(sqrt(avg(CAST((cnt - snaive) * (cnt - snaive) AS DOUBLE))), 4)
    AS rmse_snaive,
  round(1 - avg(abs(cnt - snaive)) / avg(abs(cnt - naive)), 6)
    AS skill_vs_naive
FROM lagged
WHERE snaive IS NOT NULL AND naive IS NOT NULL
GROUP BY event_type
""",
)
def ts_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest per event type: predict each
    day's count with the same weekday last week (snaive) and with
    yesterday (naive), then score MAE/RMSE and the skill ratio
    1 − MAE_snaive/MAE_naive on the days where BOTH forecasts exist
    (identical eval sets, or the comparison is meaningless). The
    capacity-planning baseline every forecasting effort must beat —
    and the honest yardstick: positive skill means weekly seasonality
    is real (ts_autocorr's lag-7 signal, cashed out as forecast
    accuracy). One raw-row shuffle to the daily grain; both lags ride
    ONE event_type window partitioning; errors are exact integers
    until the final averages.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("d"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "cnt",
        F.lag("cnt", 7).over(w).alias("snaive"),
        F.lag("cnt", 1).over(w).alias("naive"),
    ).filter(F.col("snaive").isNotNull() & F.col("naive").isNotNull())
    err_s = F.col("cnt") - F.col("snaive")
    err_n = F.col("cnt") - F.col("naive")
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.round(F.avg(F.abs(err_s)), 4).alias("mae_snaive"),
        F.round(F.avg(F.abs(err_n)), 4).alias("mae_naive"),
        F.round(
            F.sqrt(F.avg((err_s * err_s).cast("double"))), 4
        ).alias("rmse_snaive"),
        F.round(
            1 - F.avg(F.abs(err_s)) / F.avg(F.abs(err_n)), 6
        ).alias("skill_vs_naive"),
    )


@query(
    "ts_rolling_slope",
    """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         epoch(CAST(date_trunc('day', ts) AS DATE)) / 86400 AS x,
         count(*) AS y
  FROM events GROUP BY 1, 2, 3
),
win AS (
  SELECT event_type, d,
    count(*) OVER w AS n,
    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
    sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, d,
  round((n * sxy - sx * sy)
        / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_per_day
FROM win
WHERE n = 7
""",
)
def ts_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day OLS trend slope of daily event counts per type —
    the leading-indicator number ("is traffic accelerating?") behind
    every growth/regression dashboard, and the windowed sibling of
    agg_linreg's global fit. The de-noised formulation: slope from
    closed-form moment sums (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) where x is
    the integer epoch-day — FIVE windowed sums sharing ONE
    event_type-partitioned 7-row frame over the daily grain, all exact
    integers until the final division, so both engines divide
    identical numbers. Partial windows (first 6 days) are dropped —
    a 3-point "trend" is noise wearing a slope. Raw events shuffle
    once (the grain groupBy); everything after is grain-sized.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("d"),
    ).agg(F.count(F.lit(1)).alias("y"))
    x = (F.unix_timestamp(F.col("d").cast("timestamp")) / 86400).cast(
        "long"
    )
    daily = daily.withColumn("x", x)
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    win = daily.select(
        "event_type",
        "d",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    ).filter(F.col("n") == 7)
    return win.select(
        "event_type",
        "d",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
            ).cast("double"),
            6,
        ).alias("slope_per_day"),
    )


@query(
    "ts_cross_correlation",
    """
WITH d AS (
  SELECT CAST(ts AS DATE) AS d,
         count(CASE WHEN event_type = 'view' THEN 1 END) AS x,
         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS y
  FROM events GROUP BY 1
),
cal AS (
  SELECT unnest(generate_series(
      (SELECT min(d) FROM d), (SELECT max(d) FROM d),
      INTERVAL 1 DAY))::DATE AS d
),
s AS (
  SELECT c.d, coalesce(x, 0) AS x, coalesce(y, 0) AS y
  FROM cal c LEFT JOIN d ON d.d = c.d
),
lags AS (SELECT unnest(range(-3, 4)) AS lag),
p AS (
  SELECT l.lag, a.x AS x, b.y AS y
  FROM lags l
  CROSS JOIN s a
  JOIN s b ON b.d = a.d + CAST(l.lag AS INTEGER)
),
g AS (
  SELECT lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM p GROUP BY 1
)
SELECT CAST(lag AS INTEGER) AS lag_days,
  CAST(n AS BIGINT) AS n_days,
  round((n * sxy - sx * sy)
        / sqrt((n * sxx - sx * sx)
               * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS xcorr
FROM g ORDER BY lag_days
""",
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily view series and the
    daily purchase series (lags −3…+3 days): does traffic LEAD
    conversions, and by how many days — the lead-lag diagnostic next
    to ts_autocorr (which correlates a series with itself).

    Scale shape: the raw stream collapses to one row per day in a
    single partial-aggregatable pass (conditional counts — one scan
    serves both series); the calendar densifies gaps to zero so a
    silent day doesn't splice distant days together. The lag pairing
    is a 7-value lags dimension cross-joined onto the ~|days| series
    and equi-joined on the shifted date — fan-out 7·|days|, trivially
    broadcastable. All moments are exact integer sums, so Pearson r
    computes from identical integers in both engines and 6dp rounding
    is display only. Per-lag n shrinks at the edges (no wraparound):
    n = |days| − |lag|.
    """
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y"),
    )
    cal = (
        d.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("d"))
    )
    s = (
        cal.join(d, "d", "left")
        .select(
            "d",
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    lags = spark.range(1).select(
        F.explode(F.sequence(F.lit(-3), F.lit(3))).alias("lag")
    )
    a = s.alias("a")
    b = s.alias("b")
    p = (
        F.broadcast(lags.alias("l"))
        .crossJoin(a)
        .join(
            b,
            F.col("b.d")
            == F.date_add(F.col("a.d"), F.col("l.lag").cast("int")),
        )
        .select(F.col("l.lag").alias("lag"), F.col("a.x").alias("x"),
                F.col("b.y").alias("y"))
    )
    x, y = F.col("x"), F.col("y")
    g = p.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        g.select(
            F.col("lag").cast("int").alias("lag_days"),
            n.cast("long").alias("n_days"),
            F.round(num / F.sqrt(vx * vy.cast("double")), 6).alias(
                "xcorr"
            ),
        )
        .orderBy("lag_days")
    )


@query("ts_forecast_holt")
def ts_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend,
    α=0.5, β=0.3) over the daily count series of every event type,
    forecasting 7 days past the observation window — the
    trend-capable upgrade of ts_forecast_snaive (which can only
    repeat seasonal history).

    Rows-only by design: the recursion l_t = αy_t + (1−α)(l_{t−1} +
    b_{t−1}) is inherently sequential per series, so there is no SQL
    oracle; correctness rests on the run-to-run determinism guard
    plus tests/test_forecast.py recomputing the recursion in plain
    Python to 1e-9 and bounding the in-sample one-step MAE by the
    naive random-walk baseline.

    Scale shape: the parallel unit is the SERIES (applyInPandas keyed
    by event_type — at 100 TB you forecast millions of metrics, one
    short array each, embarrassing parallelism after one
    partial-aggregatable day-count rollup). The per-series state is
    two floats; the kernel is a self-contained closure (foreign-cwd
    workers import no repo modules).
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("y"))

    def kernel(pdf):
        import pandas as pd

        alpha, beta, horizon = 0.5, 0.3, 7
        pdf = pdf.sort_values("d")
        ys = pdf["y"].astype("float64").tolist()
        last_d = pdf["d"].iloc[-1]
        # Degenerate-series guard (ADVICE r4): a single observation has
        # no trend and no one-step errors — emit a flat forecast with
        # NULL fit_mae instead of IndexError/ZeroDivisionError.
        if len(ys) < 2:
            return pd.DataFrame(
                {
                    "event_type": pdf["event_type"].iloc[0],
                    "d": [
                        last_d + pd.Timedelta(days=h)
                        for h in range(1, horizon + 1)
                    ],
                    "forecast": [round(ys[0], 6)] * horizon,
                    "fit_mae": None,
                }
            )
        level, trend = ys[0], ys[1] - ys[0]
        abs_err = 0.0
        for y in ys[1:]:
            pred = level + trend
            abs_err += abs(y - pred)
            new_level = alpha * y + (1 - alpha) * (level + trend)
            trend = beta * (new_level - level) + (1 - beta) * trend
            level = new_level
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[0],
                "d": [
                    last_d + pd.Timedelta(days=h)
                    for h in range(1, horizon + 1)
                ],
                "forecast": [
                    round(level + h * trend, 6)
                    for h in range(1, horizon + 1)
                ],
                "fit_mae": round(abs_err / (len(ys) - 1), 6),
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        kernel, "event_type string, d date, forecast double, fit_mae double"
    )


@query(
    "events_ewma_chart",
    """
WITH d AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS x
  FROM events GROUP BY 1
),
idx AS (
  SELECT d, x,
         row_number() OVER (ORDER BY d) - 1 AS t
  FROM d
),
-- z_t for lambda = 1/2: z_t = 2^(-t-1) * (2*x_0 + sum_{i=1..t} x_i*2^i)
-- every term is an exact integer and 2^(-t-1) is an exact dyadic
-- scale, so the recursion evaluates bit-identically in both engines
cum AS (
  SELECT d, x, t,
    sum(CASE WHEN t = 0 THEN 2 * x
             ELSE CAST(x * power(2, t) AS BIGINT) END)
      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) AS s
  FROM idx
),
mo AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx FROM d
),
st AS (
  SELECT CAST(sx AS DOUBLE) / n AS mu,
    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))
      AS sigma
  FROM mo
)
SELECT d,
  CAST(x AS BIGINT) AS x,
  round(s / power(2, t + 1), 6) AS ewma,
  round(mu, 6) AS center,
  round(sigma * sqrt((1 - power(2, -2 * CAST(t AS DOUBLE) - 2)) / 3.0),
        6) AS sigma_z,
  CAST(abs(s / power(2, t + 1) - mu)
       > 3 * sigma * sqrt((1 - power(2, -2 * CAST(t AS DOUBLE) - 2))
                          / 3.0)
    AS INTEGER) AS out_of_control
FROM cum CROSS JOIN st
ORDER BY d
""",
)
def events_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over the daily event volume (λ = 1/2):
    exponentially-weighted mean z_t with time-varying 3σ_z limits
    σ·√(λ/(2−λ)·(1−(1−λ)^{2t})) — SPC member #2 beside
    events_error_pchart (p-chart controls a proportion; EWMA detects
    small sustained LEVEL shifts a Shewhart chart misses).

    The numeric trick that makes a recursive smoother hash-exact:
    λ = 1/2 makes every weight a dyadic rational, so the recursion
    unrolls to z_t = 2^(−t−1)·(2x₀ + Σ x_i·2^i) — an exact integer
    running sum (bounded: counts·2^30 ≪ 2^53 for a 30-day window)
    times an exact power-of-two scale. No libm pow-of-arbitrary-base
    anywhere on the value path (Math.pow and C pow are only
    1-ulp-accurate and MAY disagree across engines; powers of two and
    IEEE sqrt are exact/correctly-rounded, so every column and the
    unrounded out-of-control comparison match bit-for-bit). One
    day-grain pass, a ~30-row ordered window, a 1-row moment
    broadcast.
    """
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    wo = Window.orderBy("d")
    idx = d.select(
        "d", "x", (F.row_number().over(wo) - 1).alias("t")
    )
    # Exactness guard (ADVICE r4, shift clamped per ADVICE r5): x·2^t is
    # only exact while it stays under 2^53; enforce the docstring's
    # window bound instead of assuming it. shiftright(2^53, t) ==
    # floor(2^53 / 2^t) is an exact integer ceiling for x — but Spark
    # masks a long shift count mod 64, so an unclamped t ≥ 64 would wrap
    # back to large thresholds; least(t, 54) pins the threshold at 0 for
    # ALL t ≥ 54, so long series fail loudly rather than silently losing
    # bits. assert_true returns NULL on success, so
    # `term + coalesce(guard, 0)` is bit-identical to term.
    guard = F.assert_true(
        F.col("x")
        <= F.expr("shiftright(9007199254740992L, cast(least(t, 54) as int))"),
        F.lit(
            "events_ewma_chart: x*2^t exceeds 2^53 — series too long "
            "for the exact dyadic unroll; re-shape to a per-series "
            "applyInPandas recursion for windows beyond ~50 points"
        ),
    )
    term = F.when(F.col("t") == 0, 2 * F.col("x")).otherwise(
        (F.col("x") * F.pow(F.lit(2.0), F.col("t"))).cast("long")
    ) + F.coalesce(guard.cast("long"), F.lit(0))
    cum = idx.select(
        "d",
        "x",
        "t",
        F.sum(term)
        .over(
            Window.orderBy("t").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .alias("s"),
    )
    mo = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx = F.col("n"), F.col("sx")
    st = mo.select(
        (sx.cast("double") / n).alias("mu"),
        F.sqrt(
            (n * F.col("sxx") - sx * sx).cast("double")
            / (n.cast("double") * (n - 1))
        ).alias("sigma"),
    )
    z = F.col("s") / F.pow(F.lit(2.0), F.col("t") + 1)
    decay = F.sqrt(
        (
            1
            - F.pow(
                F.lit(2.0), -2 * F.col("t").cast("double") - 2
            )
        )
        / 3.0
    )
    return (
        cum.crossJoin(F.broadcast(st))
        .select(
            "d",
            F.col("x").cast("long").alias("x"),
            F.round(z, 6).alias("ewma"),
            F.round(F.col("mu"), 6).alias("center"),
            F.round(F.col("sigma") * decay, 6).alias("sigma_z"),
            (
                F.abs(z - F.col("mu"))
                > 3 * F.col("sigma") * decay
            ).cast("int").alias("out_of_control"),
        )
        .orderBy("d")
    )


@query(
    "ts_profile_similarity",
    """
WITH h AS (
  SELECT event_type, CAST(extract(hour FROM ts) AS INTEGER) AS hr,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         sum(a.n * b.n) AS dot,
         sum(a.n * a.n) AS na2,
         sum(b.n * b.n) AS nb2
  FROM h a
  JOIN h b ON a.hr = b.hr AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b,
  round(dot / sqrt(CAST(na2 AS DOUBLE) * nb2), 6) AS cosine
FROM p
ORDER BY type_a, type_b
""",
)
def ts_profile_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-shape similarity between event types: cosine between
    their 24-hour activity profiles — do errors spike when clicks
    spike (shared load-driven shape) or on their own schedule? The
    time-domain companion of ts_cross_correlation (which aligns two
    series across days; this compares within-day SHAPES) and
    events_type_affinity (which overlaps audiences; this overlaps
    rhythms).

    Scale shape: the stream collapses to the |types|×24 hourly grid —
    one partial-aggregatable pass, everything after is arithmetic on
    ≤120 rows: self-join on hour (fan-out C(5,2) per hour), moments
    as exact integer products (counts² — bigint-safe far past sf100),
    one sqrt per pair. The caveat the sum trick encodes: per-pair
    norms sum ONLY over hours where both types have rows — the dense
    5×24 grid here makes that the full norm; on sparse grids densify
    first (ts_cross_correlation's calendar discipline).
    """
    ev = load(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.hour("ts").cast("int").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("n"))
    a, b = h.alias("a"), h.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.hr") == F.col("b.hr"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.sum(F.col("a.n") * F.col("b.n")).alias("dot"),
            F.sum(F.col("a.n") * F.col("a.n")).alias("na2"),
            F.sum(F.col("b.n") * F.col("b.n")).alias("nb2"),
        )
    )
    return p.select(
        "type_a",
        "type_b",
        F.round(
            F.col("dot")
            / F.sqrt(F.col("na2").cast("double") * F.col("nb2")),
            6,
        ).alias("cosine"),
    ).orderBy("type_a", "type_b")


@query(
    "orders_seasonal_index",
    """
WITH m AS (
  SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS y,
         CAST(extract(month FROM o_orderdate) AS INTEGER) AS mo,
         count(*) AS n,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1, 2
),
mm AS (
  SELECT mo,
         count(*) AS n_years,
         sum(n) AS n_orders,
         sum(rev) AS rev
  FROM m GROUP BY 1
),
tot AS (
  SELECT sum(rev) AS trev, sum(n_years) AS tmonths FROM mm
)
SELECT mo AS month,
  CAST(n_years AS BIGINT) AS n_years,
  CAST(n_orders AS BIGINT) AS n_orders,
  CAST(round(rev, 2) AS DOUBLE) AS revenue,
  round((CAST(rev AS DOUBLE) / n_years)
        / (CAST(trev AS DOUBLE) / tmonths), 6) AS seasonal_index
FROM mm CROSS JOIN tot
ORDER BY month
""",
)
def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly seasonal index of order revenue over the 6½-year
    history: each calendar month's average-per-occurrence revenue
    relative to the overall monthly average (1.0 = neutral; the
    classic retail seasonality table a planner divides out before
    comparing months) — the month-grain, orders-side sibling of
    ts_weekday_seasonality, averaged per occurrence so the partial
    final year (data ends mid-2001) doesn't deflate the uncovered
    months.

    Scale shape: one partial-aggregatable pass to the (year, month)
    decimal grain, a 12-row re-agg, a 1-row broadcast total. Money
    stays DECIMAL until the index division; integer counts everywhere
    else.
    """
    orders = load(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("y"),
        F.month("o_orderdate").cast("int").alias("mo"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
    )
    mm = m.groupBy("mo").agg(
        F.count(F.lit(1)).alias("n_years"),
        F.sum("n").alias("n_orders"),
        F.sum("rev").alias("rev"),
    )
    # totals via an unbounded window over the 12-row frame — a totals
    # crossJoin would re-derive the grain and scan orders twice
    wa = Window.orderBy("mo").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return mm.select(
        F.col("mo").alias("month"),
        F.col("n_years").cast("long").alias("n_years"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
        F.round(
            (F.col("rev").cast("double") / F.col("n_years"))
            / (
                F.sum("rev").over(wa).cast("double")
                / F.sum("n_years").over(wa)
            ),
            6,
        ).alias("seasonal_index"),
    ).orderBy("month")


@query(
    "ts_theil_sen",
    """
WITH m AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi,
    sum(CAST(floor(round(o_totalprice * 100)) AS BIGINT)) / 100.0 AS rev
  FROM orders GROUP BY 1
),
slopes AS (
  SELECT (b.rev - a.rev) / (b.mi - a.mi) AS slope
  FROM m a JOIN m b ON a.mi < b.mi
),
fit AS (
  SELECT
    (SELECT count(*) FROM m) AS n_months,
    count(*) AS n_pairs,
    quantile_cont(slope, 0.5) AS ts_slope
  FROM slopes
)
SELECT CAST(n_months AS BIGINT) AS n_months,
  CAST(n_pairs AS BIGINT) AS n_pairs,
  round(ts_slope, 6) AS ts_slope,
  round((SELECT quantile_cont(m.rev - fit.ts_slope * m.mi, 0.5) FROM m),
        4) AS ts_intercept,
  round((SELECT regr_slope(rev, mi) FROM m), 6) AS ols_slope
FROM fit
""",
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of monthly revenue: the median of all
    pairwise month-over-month slopes, with the median-residual
    intercept and the OLS slope alongside (the robust/classical gap IS
    the outlier diagnostic). The breakdown point is 29% — one crazy
    month cannot move it, which is why ops dashboards prefer it over
    OLS for run-rate trends.

    Scale: the O(k²) pair enumeration runs on the MONTHLY rollup — k
    is calendar-bounded (~36 rows → ~630 pairs at any data scale), so
    the quadratic part is a broadcast self-join over a KB-sized frame;
    the only full-scan work is the one partial-aggregated monthly
    rollup. Determinism: monthly revenues are exact cents, slopes are
    exact-double ratios of identical operands, and both engines
    interpolate the median identically (the agg_percentile contract).
    """
    orders = load(spark, sf_dir, "orders")
    m = (
        orders.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("mi")
        )
        .agg(F.sum(cents_long("o_totalprice")).alias("cents"))
        .select("mi", (F.col("cents") / F.lit(100.0)).alias("rev"))
        .localCheckpoint(eager=False)
    )
    a = m.select(F.col("mi").alias("mia"), F.col("rev").alias("reva"))
    b = m.select(F.col("mi").alias("mib"), F.col("rev").alias("revb"))
    slopes = a.join(
        F.broadcast(b), F.col("mia") < F.col("mib")
    ).select(
        (
            (F.col("revb") - F.col("reva")) / (F.col("mib") - F.col("mia"))
        ).alias("slope")
    )
    fit = slopes.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("percentile(slope, 0.5)").alias("ts_slope"),
    )
    months = m.agg(
        F.count(F.lit(1)).alias("n_months"),
        F.round(F.expr("regr_slope(rev, mi)"), 6).alias("ols_slope"),
    )
    resid = (
        m.crossJoin(F.broadcast(fit))
        .agg(
            F.expr(
                "percentile(rev - ts_slope * mi, 0.5)"
            ).alias("ts_intercept_raw")
        )
    )
    return (
        fit.crossJoin(F.broadcast(months))
        .crossJoin(F.broadcast(resid))
        .select(
            F.col("n_months").cast("long").alias("n_months"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.round(F.col("ts_slope"), 6).alias("ts_slope"),
            F.round(F.col("ts_intercept_raw"), 4).alias("ts_intercept"),
            "ols_slope",
        )
    )


@query(
    "events_cusum_chart",
    """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS x
  FROM events GROUP BY 1
),
s AS (
  SELECT day, x,
    row_number() OVER (ORDER BY day) AS t,
    sum(x) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS run_sum,
    sum(x) OVER () AS total,
    count(*) OVER () AS n,
    sum(x * x) OVER () AS total2
  FROM daily
)
SELECT day, CAST(x AS BIGINT) AS x,
  round(run_sum - t * (CAST(total AS DOUBLE) / n), 4) AS cusum,
  round((run_sum - t * (CAST(total AS DOUBLE) / n))
        / (sqrt(CAST(total2 AS DOUBLE) / n
                - (CAST(total AS DOUBLE) / n) * (CAST(total AS DOUBLE) / n))
           * sqrt(CAST(n AS DOUBLE))), 6) AS cusum_std,
  (abs((run_sum - t * (CAST(total AS DOUBLE) / n))
       / (sqrt(CAST(total2 AS DOUBLE) / n
               - (CAST(total AS DOUBLE) / n) * (CAST(total AS DOUBLE) / n))
          * sqrt(CAST(n AS DOUBLE)))) > 1.358) AS drifted
FROM s
""",
)
def events_cusum_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift chart over daily event volume: the cumulative sum of
    deviations from the series mean, standardized by σ√n so the
    excursion maximum follows the Brownian-bridge law under H0 — the
    change-DETECTION twin of events_ewma_chart (EWMA reacts to recent
    shifts, CUSUM accumulates small persistent ones), flagged at the
    95% critical value 1.358.

    Determinism: the running and total sums are INTEGER counts (exact
    in any order), the mean/σ arithmetic applies identical IEEE ops to
    identical operands in both engines, and t·μ uses the exact integer
    rank — so 4/6dp rounds are belt-and-braces, not load-bearing.
    Scale: one partial-agg daily rollup; every window runs over the
    calendar-bounded daily frame (the unpartitioned windows are over
    ~35 rows — at 100 TB the frame is still only days-in-retention).
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    w_run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    s = daily.select(
        "day",
        "x",
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.sum("x").over(w_run).alias("run_sum"),
        F.sum("x").over(w_all).alias("total"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum(F.col("x") * F.col("x")).over(w_all).alias("total2"),
    )
    mu = F.col("total").cast("double") / F.col("n")
    cusum = F.col("run_sum") - F.col("t") * mu
    sigma = F.sqrt(F.col("total2").cast("double") / F.col("n") - mu * mu)
    std = cusum / (sigma * F.sqrt(F.col("n").cast("double")))
    return s.select(
        "day",
        F.col("x").cast("long").alias("x"),
        F.round(cusum, 4).alias("cusum"),
        F.round(std, 6).alias("cusum_std"),
        (F.abs(std) > 1.358).alias("drifted"),
    )


@query(
    "events_imr_chart",
    """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS x
  FROM events GROUP BY 1
),
mr AS (
  SELECT day, x,
    abs(x - lag(x) OVER (ORDER BY day)) AS mr
  FROM daily
),
s AS (
  SELECT day, x, mr,
    avg(CAST(x AS DOUBLE)) OVER () AS xbar,
    avg(CAST(mr AS DOUBLE)) OVER () AS mrbar
  FROM mr
)
SELECT day, CAST(x AS BIGINT) AS x, CAST(mr AS BIGINT) AS mr,
  round(xbar, 4) AS center,
  round(xbar + 2.66 * mrbar, 4) AS ucl_x,
  round(xbar - 2.66 * mrbar, 4) AS lcl_x,
  round(3.267 * mrbar, 4) AS ucl_mr,
  (x > xbar + 2.66 * mrbar OR x < xbar - 2.66 * mrbar) AS x_out,
  (mr IS NOT NULL AND mr > 3.267 * mrbar) AS mr_out
FROM s
""",
)
def events_imr_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Individuals / moving-range (I-MR) control chart on daily event
    volume — the SPC chart for n=1 subgroups, completing the quartet
    with events_error_pchart (proportions), events_ewma_chart (small
    sustained shifts) and events_cusum_chart (accumulated drift). The
    moving range |x_t − x_{t−1}| estimates short-term σ without
    subgroups; limits use the standard d2-derived constants 2.66 and
    3.267 (literals on both sides).

    Determinism: x and mr are exact integers; x̄ and M̄R are integer
    sums over the same row sets divided identically, so every limit
    comparison sees bit-identical doubles. Scale: one partial-agg
    daily rollup; the lag and the chart constants run over the
    calendar-bounded daily frame.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    mr = daily.select(
        "day",
        "x",
        F.abs(
            F.col("x") - F.lag("x").over(Window.orderBy("day"))
        ).alias("mr"),
    )
    w_all = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    s = mr.select(
        "day",
        "x",
        "mr",
        F.avg(F.col("x").cast("double")).over(w_all).alias("xbar"),
        F.avg(F.col("mr").cast("double")).over(w_all).alias("mrbar"),
    )
    ucl_x = F.col("xbar") + 2.66 * F.col("mrbar")
    lcl_x = F.col("xbar") - 2.66 * F.col("mrbar")
    ucl_mr = 3.267 * F.col("mrbar")
    return s.select(
        "day",
        F.col("x").cast("long").alias("x"),
        F.col("mr").cast("long").alias("mr"),
        F.round(F.col("xbar"), 4).alias("center"),
        F.round(ucl_x, 4).alias("ucl_x"),
        F.round(lcl_x, 4).alias("lcl_x"),
        F.round(ucl_mr, 4).alias("ucl_mr"),
        ((F.col("x") > ucl_x) | (F.col("x") < lcl_x)).alias("x_out"),
        (F.col("mr").isNotNull() & (F.col("mr") > ucl_mr)).alias("mr_out"),
    )


@query(
    "ts_hurst_rs",
    """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS x
  FROM events GROUP BY 1
),
idx AS (
  SELECT x, row_number() OVER (ORDER BY h) - 1 AS i FROM hourly
),
blk AS (
  SELECT ms.m, idx.i // ms.m AS b, idx.x, idx.i
  FROM idx CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS m) ms
),
stats AS (
  SELECT m, b, count(*) AS n, sum(x) AS s, sum(x * x) AS ss
  FROM blk GROUP BY 1, 2
),
fullb AS (
  SELECT * FROM stats
  WHERE n = m AND CAST(ss AS DOUBLE) / n
        - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) > 0
),
cum AS (
  SELECT bl.m, bl.b,
    sum(bl.x) OVER (PARTITION BY bl.m, bl.b ORDER BY bl.i)
      - row_number() OVER (PARTITION BY bl.m, bl.b ORDER BY bl.i)
        * (CAST(f.s AS DOUBLE) / f.n) AS cd
  FROM blk bl JOIN fullb f ON bl.m = f.m AND bl.b = f.b
),
rng AS (
  SELECT m, b, max(cd) - min(cd) AS r FROM cum GROUP BY 1, 2
),
rstat AS (
  SELECT r.m,
    r.r / sqrt(CAST(f.ss AS DOUBLE) / f.n
               - (CAST(f.s AS DOUBLE) / f.n)
                 * (CAST(f.s AS DOUBLE) / f.n)) AS rs
  FROM rng r JOIN fullb f ON r.m = f.m AND r.b = f.b
),
curve AS (
  SELECT m, CAST(count(*) AS BIGINT) AS n_blocks,
         round(avg(rs), 6) AS mean_rs
  FROM rstat GROUP BY 1
)
SELECT m, n_blocks, mean_rs,
  round((SELECT regr_slope(ln(mean_rs), ln(m)) FROM curve), 6)
    AS hurst_exponent
FROM curve ORDER BY m
""",
)
def ts_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the hourly event-volume series via classical
    rescaled-range (R/S) analysis: split the series into blocks of
    m ∈ {8,16,32,64} hours, per block compute R (range of cumulative
    deviations from the block mean) over S (population σ), average per
    m, and fit ln(R/S) ~ H·ln(m) — H ≈ 0.5 is memoryless, H > 0.5
    long-range-dependent (bursty load that does NOT average out, the
    capacity-planning regime where naive Poisson sizing fails),
    complementing ts_autocorr (fixed-lag) with the scaling view.

    Determinism: hourly counts are exact integers; cumulative
    deviations subtract an exact-integer-ratio mean, so per-row cd
    doubles are identical in both engines (the unique hour index pins
    window order); per-m means round to 6dp BEFORE the ln-ln slope so
    the 4-point regression consumes identical literals. Scale: one
    partial-aggregated hour rollup, then all arithmetic on the
    bounded (hours × 4) frame — the corpus is touched once.
    """
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.select(F.date_trunc("hour", F.col("ts")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    idx = hourly.select(
        "x", (F.row_number().over(Window.orderBy("h")) - 1).alias("i")
    )
    ms = local_frame(spark, [(8,), (16,), (32,), (64,)], "m int")
    blk = idx.crossJoin(F.broadcast(ms)).select(
        "m", (F.col("i") / F.col("m")).cast("long").alias("b"), "x", "i"
    )
    stats = blk.groupBy("m", "b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mean * mean
    fullb = stats.filter((F.col("n") == F.col("m")) & (var > 0)).select(
        "m", "b", "n", "s", "ss"
    )
    w = Window.partitionBy("m", "b").orderBy("i")
    cum = blk.join(fullb, ["m", "b"]).select(
        "m",
        "b",
        (
            F.sum("x").over(w)
            - F.row_number().over(w)
            * (F.col("s").cast("double") / F.col("n"))
        ).alias("cd"),
    )
    rng = cum.groupBy("m", "b").agg(
        (F.max("cd") - F.min("cd")).alias("r")
    )
    rstat = rng.join(fullb, ["m", "b"]).select(
        "m", (F.col("r") / F.sqrt(var)).alias("rs")
    )
    curve = rstat.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.round(F.avg("rs"), 6).alias("mean_rs"),
    )
    hurst = curve.agg(
        F.round(
            F.regr_slope(F.log("mean_rs"), F.log("m")), 6
        ).alias("hurst_exponent")
    )
    return (
        curve.crossJoin(F.broadcast(hurst))
        .select("m", "n_blocks", "mean_rs", "hurst_exponent")
        .orderBy("m")
    )


@query(
    "ts_stl_strength",
    """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS cnt
  FROM events GROUP BY 1
),
trend AS (
  SELECT d, cnt,
    CASE WHEN count(*) OVER w = 7 THEN avg(cnt) OVER w END AS trend
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
seas_raw AS (
  SELECT isodow(d) - 1 AS dow, avg(cnt - trend) AS s
  FROM trend WHERE trend IS NOT NULL GROUP BY 1
),
seas AS (
  SELECT dow, s - avg(s) OVER () AS seasonal FROM seas_raw
),
comp AS (
  SELECT round(t.trend, 4) AS tr, round(se.seasonal, 4) AS se,
    round(t.cnt - t.trend - se.seasonal, 4) AS r
  FROM trend t JOIN seas se ON isodow(t.d) - 1 = se.dow
  WHERE t.trend IS NOT NULL
),
v AS (
  SELECT count(*) AS n,
    sum(r) AS sr, sum(r * r) AS srr,
    sum(se + r) AS ssr, sum((se + r) * (se + r)) AS ssrr,
    sum(tr + r) AS str_, sum((tr + r) * (tr + r)) AS strr
  FROM comp
)
SELECT
  CAST(n AS BIGINT) AS n_days,
  round(greatest(0, 1 - (srr / n - (sr / n) * (sr / n))
                      / (ssrr / n - (ssr / n) * (ssr / n))), 6)
    AS seasonal_strength,
  round(greatest(0, 1 - (srr / n - (sr / n) * (sr / n))
                      / (strr / n - (str_ / n) * (str_ / n))), 6)
    AS trend_strength
FROM v
""",
)
def ts_stl_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal and trend STRENGTH of the daily event series (Hyndman's
    F_s = max(0, 1 − Var(R)/Var(S+R)) and F_t with T+R) — the scalar
    summary of ts_seasonal_decompose that answers 'is this series
    weekday-driven or trend-driven?' before anyone reads 30 rows of
    components; the routing signal between snaive and drift forecasts
    (ts_forecast_snaive assumes F_s high).

    Same decomposition CTEs as ts_seasonal_decompose (grain-then-
    window on the bounded daily frame), with components ROUNDED to 4dp
    BEFORE the variance fold so both engines reduce identical literals
    (the ts_hurst_rs discipline); variances come from integer-free but
    identical (Σ, Σ²) folds over ≤30 rows, ratios behind 6dp rounds.
    """
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(F.date_trunc("day", "ts").cast("date").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trend = daily.select(
        "d",
        "cnt",
        F.when(F.count(F.lit(1)).over(w) == 7, F.avg("cnt").over(w)).alias(
            "trend"
        ),
    )
    seas_raw = (
        trend.filter(F.col("trend").isNotNull())
        .groupBy(F.weekday("d").alias("dow"))
        .agg(F.avg(F.col("cnt") - F.col("trend")).alias("s"))
    )
    seas = seas_raw.select(
        "dow",
        (F.col("s") - F.avg("s").over(Window.partitionBy())).alias(
            "seasonal"
        ),
    )
    comp = (
        trend.filter(F.col("trend").isNotNull())
        .join(F.broadcast(seas), F.weekday("d") == F.col("dow"))
        .select(
            F.round("trend", 4).alias("tr"),
            F.round("seasonal", 4).alias("se"),
            F.round(
                F.col("cnt") - F.col("trend") - F.col("seasonal"), 4
            ).alias("r"),
        )
    )
    sr_ = F.col("se") + F.col("r")
    tr_ = F.col("tr") + F.col("r")
    v = comp.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("sr"),
        F.sum(F.col("r") * F.col("r")).alias("srr"),
        F.sum(sr_).alias("ssr"),
        F.sum(sr_ * sr_).alias("ssrr"),
        F.sum(tr_).alias("str_"),
        F.sum(tr_ * tr_).alias("strr"),
    )
    n = F.col("n")

    def var(ss, s):
        return F.col(ss) / n - (F.col(s) / n) * (F.col(s) / n)

    return v.select(
        n.cast("long").alias("n_days"),
        F.round(
            F.greatest(F.lit(0), 1 - var("srr", "sr") / var("ssrr", "ssr")),
            6,
        ).alias("seasonal_strength"),
        F.round(
            F.greatest(
                F.lit(0), 1 - var("srr", "sr") / var("strr", "str_")
            ),
            6,
        ).alias("trend_strength"),
    )


@query("ts_forecast_holt_winters")
def ts_forecast_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (level + trend + weekly season, alpha=0.5,
    beta=0.3, gamma=0.3, m=7) over each event type's daily count
    series, forecasting 7 days ahead -- completes the forecast ladder:
    ts_forecast_snaive repeats season, ts_forecast_holt tracks trend,
    this tracks both (ts_stl_strength is the router that picks).

    Rows-only by design (sequential recursion per series, the
    ts_forecast_holt rationale); tests/test_forecast.py recomputes the
    recursion in plain Python to 1e-6 and bounds the in-sample
    one-step MAE against the random-walk and seasonal-naive baselines.

    Scale shape: identical to ts_forecast_holt -- one
    partial-aggregatable day-count rollup, then applyInPandas keyed by
    series (millions of independent short arrays at 100 TB); per-series
    state is m+2 floats; self-contained kernel closure (foreign-cwd
    workers import no repo modules).
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("y"))

    def kernel(pdf):
        import pandas as pd

        alpha, beta, gamma, m, horizon = 0.5, 0.3, 0.3, 7, 7
        pdf = pdf.sort_values("d")
        # Dense calendar reindex: a day with zero events is absent from
        # the rollup, and positional t % m indexing would permanently
        # shift the seasonal phase past the gap (and the last_d + h
        # forecast dates assume a gapless tail). Fill missing days with
        # 0 so row position == calendar day and the weekly slot stays
        # phase-locked.
        days = pd.to_datetime(pdf["d"])
        full = pd.date_range(days.min(), days.max(), freq="D")
        ys = (
            pd.Series(pdf["y"].astype("float64").values, index=days)
            .reindex(full, fill_value=0.0)
            .tolist()
        )
        last_d = pdf["d"].iloc[-1]
        et = pdf["event_type"].iloc[0]
        ds = [last_d + pd.Timedelta(days=h) for h in range(1, horizon + 1)]
        # Degenerate-series guard (the ts_forecast_holt discipline):
        # fewer than two full seasons cannot initialize the seasonal
        # profile -- emit a flat forecast with NULL fit_mae.
        if len(ys) < 2 * m:
            flat = round(ys[-1], 6) if ys else 0.0
            return pd.DataFrame(
                {
                    "event_type": et,
                    "d": ds,
                    "forecast": [flat] * horizon,
                    "fit_mae": None,
                }
            )
        mean1 = sum(ys[:m]) / m
        mean2 = sum(ys[m : 2 * m]) / m
        level, trend = mean1, (mean2 - mean1) / m
        season = [ys[i] - mean1 for i in range(m)]
        abs_err, n_err = 0.0, 0
        for t in range(m, len(ys)):
            pred = level + trend + season[t % m]
            abs_err += abs(ys[t] - pred)
            n_err += 1
            new_level = alpha * (ys[t] - season[t % m]) + (1 - alpha) * (
                level + trend
            )
            trend = beta * (new_level - level) + (1 - beta) * trend
            season[t % m] = gamma * (ys[t] - new_level) + (
                1 - gamma
            ) * season[t % m]
            level = new_level
        n = len(ys)
        return pd.DataFrame(
            {
                "event_type": et,
                "d": ds,
                "forecast": [
                    round(
                        level + h * trend + season[(n + h - 1) % m], 6
                    )
                    for h in range(1, horizon + 1)
                ],
                "fit_mae": round(abs_err / n_err, 6),
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        kernel, "event_type string, d date, forecast double, fit_mae double"
    )


@query(
    "ts_ohlc_bars",
    """
WITH e AS (
  SELECT event_type, CAST(ts AS DATE) AS d, value,
    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                       ORDER BY ts, event_id) AS rn_a,
    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                       ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, d,
  max(CASE WHEN rn_a = 1 THEN value END) AS open,
  max(value) AS high,
  min(value) AS low,
  max(CASE WHEN rn_d = 1 THEN value END) AS close,
  CAST(count(*) AS BIGINT) AS n_events,
  round(avg(value), 4) AS avg_value
FROM e
GROUP BY event_type, d
ORDER BY event_type, d
""",
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar downsampling — the financial-candlestick resample
    (open/high/low/close/volume per event type per day), the
    order-aware rollup that plain min/max aggregation cannot express
    because OPEN and CLOSE depend on the within-bar event order, not
    the value order. (event_id breaks ts ties, so first/last are total
    orders and the bars are engine-deterministic.)

    Scale shape: the window partitions on (event_type, day) — the
    natural high-cardinality time-bucket key, so per-partition sorts
    stay bar-sized no matter the total volume (the exact opposite of
    the win_range_ntile 3-key pathology), and the bar aggregation
    reuses the same shuffle grain. open/close ride max(CASE rn=1)
    so one pass produces all six bar columns; raw values pass through
    unrounded (no arithmetic → bit-identical), only the mean rounds.
    """
    ev = load(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    wa = Window.partitionBy("event_type", d.alias("d")).orderBy(
        "ts", "event_id"
    )
    wd = Window.partitionBy("event_type", d.alias("d")).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    e = ev.select(
        "event_type",
        d.alias("d"),
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        e.groupBy("event_type", "d")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("event_type", "d")
    )


_PERIODOGRAM_PERIODS = (3, 5, 7, 14, 30)


@query(
    "ts_periodogram",
    f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS x
  FROM events GROUP BY 1
),
idx AS (
  SELECT x, date_diff('day', (SELECT min(d) FROM daily), d) AS t
  FROM daily
),
m AS (SELECT avg(x) AS mu, count(*) AS n FROM idx),
per AS (SELECT * FROM (VALUES
  {", ".join(f"({p})" for p in _PERIODOGRAM_PERIODS)}) AS p(period)),
comp AS (
  SELECT p.period,
    sum((i.x - m.mu) * cos(2 * pi() * i.t / p.period)) AS cs,
    sum((i.x - m.mu) * sin(2 * pi() * i.t / p.period)) AS sn,
    max(m.n) AS n
  FROM idx i CROSS JOIN m CROSS JOIN per p
  GROUP BY p.period
),
pw AS (
  SELECT period, round((cs * cs + sn * sn) * 2 / n, 4) AS power
  FROM comp
),
tot AS (SELECT sum(power) AS tp FROM pw)
SELECT period, power,
  round(power / tot.tp, 6) AS power_share,
  power = (SELECT max(power) FROM pw) AS is_peak
FROM pw CROSS JOIN tot
ORDER BY period
""",
)
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fourier periodogram of the daily event count at the
    candidate periods {_PERIODOGRAM_PERIODS} — the spectral detector
    that finds WHICH cycle dominates, where ts_weekday_seasonality
    assumes the week and ts_seasonal_decompose is told its period:
    power(p) = (Σx̃·cos(2πt/p))² + (Σx̃·sin(2πt/p))² · 2/n over the
    mean-centered series (centering kills DC leakage into long
    periods). The fixture's weekly cycle shows up as an unambiguous
    p=7 peak (37% of candidate power at sf0.01). Powers are rounded
    BEFORE the share/peak derivations; libm cos/sin is the only
    transcendental and its ≤2-ulp cross-engine drift is 8 orders
    below the 4dp lattice.

    Scale shape: the day rollup is the only full-data pass; the DFT
    is a 5-period broadcast fan-out over the bounded day frame (one
    map-side sum per period), never a per-event trig call. More
    periods = wider tiny fan-out, same single scan.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    # ONE linear chain (r12; was a 4-broadcast chain = 14 jobs): the
    # day frame is calendar-bounded (≤366 rows at any SF), so min(d),
    # mu/n and the power totals all ride GLOBAL windows over it instead
    # of separate broadcast-build jobs — single-partition windows on a
    # KB frame are free, and the one data-sized pass stays the day
    # rollup. The candidate periods expand via an inline array explode
    # (no createDataFrame+broadcast).
    wg = Window.partitionBy()
    idx = daily.select(
        "x",
        F.datediff("d", F.min("d").over(wg)).alias("t"),
        F.avg("x").over(wg).alias("mu"),
        F.count(F.lit(1)).over(wg).alias("n"),
    )
    two_pi = 2 * 3.141592653589793
    comp = (
        idx.select(
            "x",
            "t",
            "mu",
            "n",
            F.explode(
                F.array(
                    *[
                        F.lit(p).cast("int")
                        for p in _PERIODOGRAM_PERIODS
                    ]
                )
            ).alias("period"),
        )
        .groupBy("period")
        .agg(
            F.sum(
                (F.col("x") - F.col("mu"))
                * F.cos(F.lit(two_pi) * F.col("t") / F.col("period"))
            ).alias("cs"),
            F.sum(
                (F.col("x") - F.col("mu"))
                * F.sin(F.lit(two_pi) * F.col("t") / F.col("period"))
            ).alias("sn"),
            F.max("n").alias("n"),
        )
    )
    pw = comp.select(
        "period",
        F.round(
            (F.col("cs") * F.col("cs") + F.col("sn") * F.col("sn"))
            * 2
            / F.col("n"),
            4,
        ).alias("power"),
    )
    return (
        pw.select(
            "period",
            "power",
            F.round(
                F.col("power") / F.sum("power").over(wg), 6
            ).alias("power_share"),
            (F.col("power") == F.max("power").over(wg)).alias("is_peak"),
        )
        .orderBy("period")
    )


_LB_LAGS = 7
_LB_CHI2_95_DF7 = 14.067140


@query(
    "ts_ljung_box",
    f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, count(*) AS n,
    avg(CAST(cnt AS DOUBLE)) AS mu,
    sum(CAST(cnt AS DOUBLE) * cnt) - sum(CAST(cnt AS DOUBLE)) * avg(CAST(cnt AS DOUBLE)) AS ss
  FROM daily GROUP BY 1
),
lagged AS (
  SELECT event_type, cnt,
    {", ".join(
        f"lag(cnt, {k}) OVER (PARTITION BY event_type ORDER BY d) AS l{k}"
        for k in range(1, _LB_LAGS + 1)
    )}
  FROM daily
),
acf AS (
  SELECT g.event_type, s.n,
    {", ".join(
        f"round(sum((g.cnt - s.mu) * (g.l{k} - s.mu)) / max(s.ss), 6) AS r{k}"
        for k in range(1, _LB_LAGS + 1)
    )}
  FROM lagged g JOIN stats s USING (event_type)
  GROUP BY g.event_type, s.n
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
  round(n * (n + 2.0) * (
    {" + ".join(f"r{k} * r{k} / (n - {k})" for k in range(1, _LB_LAGS + 1))}
  ), 6) AS q_stat,
  CAST({_LB_LAGS} AS BIGINT) AS df,
  round(n * (n + 2.0) * (
    {" + ".join(f"r{k} * r{k} / (n - {k})" for k in range(1, _LB_LAGS + 1))}
  ), 6) > {_LB_CHI2_95_DF7} AS reject_white_noise
FROM acf ORDER BY event_type
""",
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau whiteness test over each event type's
    daily count series, lags 1..7 — the residual-diagnostics companion
    the forecast ladder was missing: ts_autocorr reads single lags,
    this folds ALL of them into Q = n(n+2)·Σ r̂ₖ²/(n−k) and asks "is
    there ANY autocorrelation structure left?" (the standard
    post-forecast-fit check; on raw counts it doubles as a
    seasonality detector that stat-tests what ts_weekday_seasonality
    eyeballs).

    Determinism: the ACF numerators/denominator reduce over ~30 exact
    integer counts; each r̂ₖ is 6dp-rounded BEFORE the Q fold (the
    ts_stl_strength discipline: both engines fold identical literals,
    so libm/reassociation noise cannot reach the statistic), and the
    verdict compares the ROUNDED Q to the χ²₇ 5% bound. Scale shape:
    the ts_autocorr template — one map-side-combinable groupBy to the
    daily grain, ONE window pass carrying all 7 lags, a broadcast of
    the 5-row moment frame, 5-row output.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("cnt").cast("double")).alias("mu"),
        (
            F.sum(F.col("cnt").cast("double") * F.col("cnt"))
            - F.sum(F.col("cnt").cast("double"))
            * F.avg(F.col("cnt").cast("double"))
        ).alias("ss"),
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "cnt",
        *[
            F.lag("cnt", k).over(w).alias(f"l{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    acf = (
        lagged.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "n")
        .agg(
            *[
                F.round(
                    F.sum(
                        (F.col("cnt") - F.col("mu"))
                        * (F.col(f"l{k}") - F.col("mu"))
                    )
                    / F.max("ss"),
                    6,
                ).alias(f"r{k}")
                for k in range(1, _LB_LAGS + 1)
            ]
        )
    )
    n = F.col("n")
    q = F.round(
        n
        * (n + 2.0)
        * sum(
            F.col(f"r{k}") * F.col(f"r{k}") / (n - k)
            for k in range(1, _LB_LAGS + 1)
        ),
        6,
    )
    return acf.select(
        "event_type",
        n.cast("long").alias("n_days"),
        q.alias("q_stat"),
        F.lit(_LB_LAGS).cast("long").alias("df"),
        (q > _LB_CHI2_95_DF7).alias("reject_white_noise"),
    ).orderBy("event_type")


_RC_WIN = 14  # trailing days for the rolling correlation


@query(
    "ts_rolling_corr",
    f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY 1
),
rolled AS (
  SELECT d,
    count(*) OVER w AS n,
    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
    sum(x * y) OVER w AS sxy,
    sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN {_RC_WIN - 1} PRECEDING
               AND CURRENT ROW)
)
SELECT d, CAST(n AS BIGINT) AS n_days,
  round((n * sxy - sx * sy) /
        nullif(sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)), 0),
        6) AS roll_corr
FROM rolled WHERE n = {_RC_WIN} ORDER BY d
""",
)
def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-14-day rolling Pearson correlation between the view and
    click daily volumes — the metric-coupling monitor (two KPIs that
    normally move together DE-correlating is an incident signal long
    before either crosses an absolute threshold; the pairs-trading
    primitive under another name), extending ts_cross_correlation's
    single whole-series number into a time series of its own.

    Determinism: daily x/y are exact integers, every windowed sum is
    an exact-integer sum (ROWS frame, no float accumulation), and the
    correlation assembles from the integer moments in one closed form
    per row — the only float ops are one sqrt and one divide behind a
    6dp round. Warm-up rows (n < 14) are dropped on both engines.
    Scale shape: map-side day rollup (the ts_autocorr discipline),
    then ONE unpartitioned-but-bounded window over the ≤|days| frame —
    bounded by the calendar, never by the data.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("y"),
    )
    w = (
        Window.orderBy("d").rowsBetween(-(_RC_WIN - 1), Window.currentRow)
    )
    rolled = daily.select(
        "d",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return (
        rolled.filter(n == _RC_WIN)
        .select(
            "d",
            n.cast("long").alias("n_days"),
            F.round(num / F.nullif(den, F.lit(0.0)), 6).alias(
                "roll_corr"
            ),
        )
        .orderBy("d")
    )


@query(
    "ts_mase_eval",
    """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
paired AS (
  SELECT a.event_type, a.d, a.n,
         b.n AS n_lag7,
         abs(a.n - b.n) AS abs_err
  FROM daily a
  JOIN daily b
    ON a.event_type = b.event_type AND b.d = a.d - 7
),
split AS (
  SELECT event_type,
    count(CASE WHEN d <  DATE '2024-01-24' THEN 1 END) AS n_train,
    count(CASE WHEN d >= DATE '2024-01-24' THEN 1 END) AS n_test,
    sum(CASE WHEN d <  DATE '2024-01-24' THEN abs_err END) AS sae_train,
    sum(CASE WHEN d >= DATE '2024-01-24' THEN abs_err END) AS sae_test,
    sum(CASE WHEN d >= DATE '2024-01-24'
        THEN 2.0 * abs_err / (n + n_lag7) END) AS ssmape_test
  FROM paired GROUP BY event_type
)
SELECT event_type,
  CAST(n_test AS BIGINT) AS n_test_days,
  round(sae_test / CAST(n_test AS DOUBLE), 4) AS mae_test,
  round((sae_test / CAST(n_test AS DOUBLE))
        / (sae_train / CAST(n_train AS DOUBLE)), 6) AS mase,
  round(ssmape_test / n_test, 6) AS smape_test
FROM split
""",
)
def ts_mase_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy evaluation for the seasonal-naive baseline:
    MASE and sMAPE of the lag-7 ("same weekday last week") forecast of
    daily event counts, per event type, on a held-out final week. MASE
    (Hyndman-Koehler) divides the test MAE by the TRAIN-period MAE of
    the same seasonal-naive — scale-free, defined when counts hit
    zero (unlike MAPE), and directly comparable across types; a
    MASE < 1 means the holdout week was EASIER than the training
    weeks for this baseline, so a model must beat it by more than the
    printed ratio to claim skill. Completes the forecasting family —
    ts_forecast_snaive/holt/holt_winters produce forecasts, this row
    scores one — mirroring the eval discipline text_langid_eval
    applies to the language classifier.

    Scale shape: raw events contract to the (type, day) count grain
    FIRST (map-side combine; key space = types × days, tiny at any SF);
    the lag-7 pairing is an equijoin of that grain against itself on
    (type, d−7) — engine-exact date arithmetic, no row-frame window
    that would mis-lag across calendar gaps — and the per-type rollup
    runs on integer |errors| so every double is born in the final
    divisions. One key-grain shuffle + one tiny join at any scale.
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
    lagged = daily.select(
        "event_type",
        F.date_add(F.col("d"), 7).alias("d"),
        F.col("n").alias("n_lag7"),
    )
    paired = daily.join(lagged, ["event_type", "d"]).withColumn(
        "abs_err", F.abs(F.col("n") - F.col("n_lag7"))
    )
    cut = F.col("d") >= F.lit("2024-01-24").cast("date")
    split = paired.groupBy("event_type").agg(
        F.sum(F.when(~cut, 1).otherwise(0)).alias("n_train"),
        F.sum(F.when(cut, 1).otherwise(0)).alias("n_test"),
        F.sum(F.when(~cut, F.col("abs_err"))).alias("sae_train"),
        F.sum(F.when(cut, F.col("abs_err"))).alias("sae_test"),
        F.sum(
            F.when(
                cut,
                F.lit(2.0)
                * F.col("abs_err")
                / (F.col("n") + F.col("n_lag7")),
            )
        ).alias("ssmape_test"),
    )
    mae_test = F.col("sae_test") / F.col("n_test").cast("double")
    mae_train = F.col("sae_train") / F.col("n_train").cast("double")
    return split.select(
        "event_type",
        F.col("n_test").cast("long").alias("n_test_days"),
        F.round(mae_test, 4).alias("mae_test"),
        F.round(mae_test / mae_train, 6).alias("mase"),
        F.round(F.col("ssmape_test") / F.col("n_test"), 6).alias(
            "smape_test"
        ),
    )


@query(
    "ts_bollinger_bands",
    """
WITH daily AS (
  SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS d,
    sum(CAST(floor(round(l_extendedprice * 100)) AS BIGINT)) AS rev_c
  FROM lineitem GROUP BY 1
),
roll AS (
  SELECT d, rev_c,
    count(*) OVER w AS n,
    sum(CAST(rev_c AS HUGEINT)) OVER w AS s1,
    sum(CAST(rev_c AS HUGEINT) * rev_c) OVER w AS s2
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
bands AS (
  SELECT d, rev_c, n,
    CAST(s1 AS DOUBLE) / n / 100.0 AS mid,
    sqrt((n * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
         / (CAST(n AS DOUBLE) * (n - 1))) / 100.0 AS sd
  FROM roll WHERE n = 20
)
SELECT d,
  round(rev_c / 100.0, 2) AS revenue,
  round(mid, 2) AS band_mid,
  round(mid - 2 * sd, 2) AS band_lo,
  round(mid + 2 * sd, 2) AS band_hi,
  CASE WHEN rev_c / 100.0 > mid + 2 * sd THEN 'above'
       WHEN rev_c / 100.0 < mid - 2 * sd THEN 'below'
       ELSE 'inside' END AS breach
FROM bands
WHERE rev_c / 100.0 > mid + 2 * sd OR rev_c / 100.0 < mid - 2 * sd
""",
)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breaches on daily shipped revenue: a 20-day
    rolling mean ± 2 rolling-σ envelope, emitting only the days that
    close OUTSIDE the band. The volatility-adaptive member of the
    control-chart family: events_imr_chart's limits come from the
    average moving range (fixed width), events_ewma_chart tracks a
    smoothed level — Bollinger widens in volatile regimes and
    tightens in calm ones, so a breach means "extreme FOR THE RECENT
    REGIME", the right trigger for revenue-spike review on seasonal
    data.

    Determinism: daily revenue is an exact integer-cents sum; the
    rolling Σx and Σx² run over those integers (decimal(38,0) on the
    Spark side, HUGEINT in the oracle — the stat_cuped overflow
    discipline, since cents² at 64× exceeds int64), so mean and σ are
    born from bit-identical integer window sums; breach classification
    compares UNROUNDED. Scale shape: lineitem contracts map-side to
    the bounded day grain; the window runs on |days| rows. The
    global-ordered window is a single task over ~2.4k rows — at a
    wider grain the win_ntile_twophase binning discipline applies
    unchanged.
    """
    li = load(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date(F.date_trunc("day", "l_shipdate")).alias("d"),
            F.floor(F.round(F.col("l_extendedprice") * 100))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("rev_c"))
    )
    w = Window.orderBy("d").rowsBetween(-19, 0)
    roll = daily.select(
        "d",
        "rev_c",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(F.col("rev_c").cast("decimal(38,0)")).over(w).alias("s1"),
        F.sum(
            (F.col("rev_c").cast("decimal(38,0)") * F.col("rev_c"))
        ).over(w).alias("s2"),
    ).filter(F.col("n") == 20)
    mid = F.col("s1").cast("double") / F.col("n") / 100.0
    sd = (
        F.sqrt(
            (
                F.col("n") * F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double")
            )
            / (F.col("n").cast("double") * (F.col("n") - 1))
        )
        / 100.0
    )
    rev = F.col("rev_c") / 100.0
    return (
        roll.select(
            "d",
            F.round(rev, 2).alias("revenue"),
            F.round(mid, 2).alias("band_mid"),
            F.round(mid - 2 * sd, 2).alias("band_lo"),
            F.round(mid + 2 * sd, 2).alias("band_hi"),
            F.when(rev > mid + 2 * sd, "above")
            .when(rev < mid - 2 * sd, "below")
            .otherwise("inside")
            .alias("breach"),
            (rev > mid + 2 * sd).alias("_hi"),
            (rev < mid - 2 * sd).alias("_lo"),
        )
        .filter(F.col("_hi") | F.col("_lo"))
        .drop("_hi", "_lo")
    )
