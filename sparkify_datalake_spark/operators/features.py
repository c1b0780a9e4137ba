"""Feature-preparation operators (SURVEY §2 I-ter family): one-hot
encoding, quantile discretization, and a pairwise correlation matrix —
the tabular feature-engineering pass an ML training pipeline runs
before export, expressed as pure Catalyst compositions (no UDFs).

Scale notes (100 TB):
- one-hot is a map-side projection: zero shuffles, whole-stage codegen,
  column pruning reaches the scan.
- the quantile discretizer FIT shown here uses an exact global ntile
  (one total-order sort) for engine-exact determinism; at cluster scale
  the same fit runs as approx percentiles (`percentile_approx`, see
  agg_approx_percentile) or the two-phase ntile (win_ntile_twophase) —
  the APPLY side is always a map-side CASE over broadcast boundaries.
- the correlation matrix is one partial-aggregatable pass: every
  Pearson cell needs only (n, Σx, Σy, Σxy, Σx², Σy²) moments, so 100 TB
  costs one scan + a 1-row final merge, never a per-pair re-scan.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkify_datalake_spark.operators.percentiles import exact_percentiles
from sparkify_datalake_spark.registry import query
from sparkify_datalake_spark.sources.load import (
    column_minmax,
    load,
    local_frame,
    scan_width,
    table_rows,
    widen_if_starved,
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@query(
    "feat_onehot",
    "SELECT c_custkey, "
    + ", ".join(
        f"CAST(c_mktsegment = '{s}' AS BIGINT) AS seg_{s.lower()}"
        for s in _SEGMENTS
    )
    + " FROM customer",
)
def feat_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot encode the (low-cardinality) market segment into
    indicator columns — the categorical-to-numeric step before export
    to a trainer.

    The vocabulary is pinned (sorted segment list) rather than inferred
    per-run: a stable feature space across pipeline runs is the
    contract one-hot must keep, and pinning it keeps the transform a
    pure map-side projection — no distinct() scan, no shuffle, and the
    scan reads exactly two columns. Unseen categories encode as all
    zeros (the standard handle-invalid=keep choice).
    """
    cust = load(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        *[
            (F.col("c_mktsegment") == s).cast("long").alias(f"seg_{s.lower()}")
            for s in _SEGMENTS
        ],
    )


@query(
    "feat_quantile_bucket",
    """
WITH b AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders
)
SELECT bucket, count(*) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM b GROUP BY bucket
""",
)
def feat_quantile_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-discretizer FIT: decile boundaries of order totalprice
    as (bucket, count, lo, hi) — the 10-row table a bucketizer
    broadcasts back for the map-side APPLY.

    ntile over a TOTAL order (price with orderkey tiebreak) is the
    SQL-standard definition both engines share bit-for-bit, which makes
    the fit hash-checkable. The single global sort is the documented
    scale hazard of exact ntile: at 100 TB the same 10-row output comes
    from `percentile_approx` (constant memory, one pass) or the
    two-phase per-range ntile (win_ntile_twophase) — exactness of the
    boundaries is never worth a terabyte sort in production, and the
    apply side is indifferent to how the boundaries were fit.
    """
    # r11 rewrite (guide §2.4 — the win_ntile_twophase discipline): the
    # former plan was ntile over a TOTAL order, i.e. one task sorting
    # every order row (9.6M at the 64× probe, 11.5 s). But this query's
    # output needs only 10 COUNTS (pure NTILE arithmetic once n is
    # known) and 20 ORDER STATISTICS (each bucket's lo/hi price). So:
    # (1) one map-side aggregate over band-width price bins — the bin
    # table is bounded by the price DOMAIN over the band, not by rows —
    # collected with its counts; (2) NTILE(10) rank boundaries computed
    # exactly in the driver (first n%10 tiles get the extra row — SQL
    # semantics); (3) a second scan filtered to ONLY the ≤20 bins that
    # contain a boundary rank sorts those small bins and picks the
    # boundary prices; (4) the 10-row result re-enters as literals with
    # the same round(·, 2) expressions. Exactness is rank arithmetic,
    # not sampling — tests pin new ≡ old ntile plan at two SFs.
    # Below 2M footer rows the single-task sort beats the bin path's
    # two collect jobs (sf0.1 measured 0.38 s sort vs 0.83 s binned),
    # so the old plan is kept verbatim at bench scale — the same
    # zero-job metadata gate as graph.user_edges.
    orders = load(spark, sf_dir, "orders")
    if table_rows(sf_dir, "orders") < 2_000_000:
        b = orders.select(
            "o_totalprice",
            F.ntile(10)
            .over(Window.orderBy("o_totalprice", "o_orderkey"))
            .alias("bucket"),
        )
        return b.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    return _quantile_bucket_binned(spark, orders)


def _quantile_bucket_binned(spark: SparkSession, orders: DataFrame) -> DataFrame:
    """feat_quantile_bucket's scale path (see the gate above) —
    separately callable so tests can pin binned ≡ global-ntile at
    fixture scales the gate would route to the sort."""
    band = 1000.0
    k = 10
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.floor(F.col("o_totalprice") / F.lit(band)).cast("long").alias(
            "bin"
        ),
    )
    bin_rows = sorted(
        (r["bin"], r["cnt"])
        for r in base.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    if not bin_rows:
        # Empty input: no buckets at all (ADVICE r11 — the >=2M-row
        # gate never routes an empty table here, but the helper is
        # callable directly and next() on an empty iter raised).
        return local_frame(
            spark, [], "bucket int, n long, lo double, hi double"
        )
    n = sum(c for _, c in bin_rows)
    small, rem = divmod(n, k)
    # bucket j (1-based) spans global ranks [start_j, end_j]
    spans = []
    start = 1
    for j in range(1, k + 1):
        size = small + (1 if j <= rem else 0)
        if size == 0:
            continue
        spans.append((j, start, start + size - 1, size))
        start += size
    # map each needed global rank -> (bin, within-bin rank)
    needed_ranks = sorted({r for _, lo, hi, _ in spans for r in (lo, hi)})
    rank_loc = {}
    off = 0
    it = iter(bin_rows)
    cur_bin, cur_cnt = next(it)
    for r in needed_ranks:
        while r > off + cur_cnt:
            off += cur_cnt
            cur_bin, cur_cnt = next(it)
        rank_loc[r] = (cur_bin, r - off)
    needed_bins = sorted({b for b, _ in rank_loc.values()})
    in_bin = (
        F.row_number()
        .over(
            Window.partitionBy("bin").orderBy("o_totalprice", "o_orderkey")
        )
        .alias("rn")
    )
    want_pairs = set(rank_loc.values())
    pair_filter = None
    for b, rr in sorted(want_pairs):
        cond = (F.col("bin") == b) & (F.col("rn") == rr)
        pair_filter = cond if pair_filter is None else (pair_filter | cond)
    picked = {
        (r["bin"], r["rn"]): r["o_totalprice"]
        for r in base.where(F.col("bin").isin(needed_bins))
        .select("bin", "o_totalprice", in_bin)
        .where(pair_filter)
        .collect()
    }
    out = local_frame(
        spark,
        [
            (j, size, picked[rank_loc[lo]], picked[rank_loc[hi]])
            for j, lo, hi, size in spans
        ],
        "bucket int, n long, lo_raw double, hi_raw double",
    )
    return out.select(
        "bucket",
        "n",
        F.round("lo_raw", 2).alias("lo"),
        F.round("hi_raw", 2).alias("hi"),
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query(
    "corr_matrix",
    " UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
        f"round(corr({a}, {b}), 6) AS pearson_r FROM lineitem"
        for a, b in combinations(_CORR_COLS, 2)
    ),
)
def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation over the lineitem measures as a
    tall (col_a, col_b, r) frame — the feature-redundancy screen run
    before model training.

    All C(4,2)=6 cells come out of ONE aggregation pass: `corr` is
    moment-based (n, Σx, Σy, Σxy, Σx², Σy²), so every cell partial-
    aggregates map-side and the final merge touches 6 numbers — the
    plan is one scan + one 1-row exchange, and adding columns grows the
    aggregate width, never the pass count. The 1-row wide result is
    unpivoted to the tall frame with `stack` (zero extra jobs).
    Pearson r is invariant to the n vs n-1 variance convention, so the
    6dp round is engine-exact.
    """
    li = load(spark, sf_dir, "lineitem")
    pairs = list(combinations(_CORR_COLS, 2))
    wide = li.agg(
        *[
            F.corr(a, b).alias(f"r_{i}")
            for i, (a, b) in enumerate(pairs)
        ]
    )
    stack_expr = ", ".join(
        f"'{a}', '{b}', round(r_{i}, 6)" for i, (a, b) in enumerate(pairs)
    )
    return wide.selectExpr(
        f"stack({len(pairs)}, {stack_expr}) AS (col_a, col_b, pearson_r)"
    )


@query(
    "agg_linreg",
    """
SELECT l_returnflag,
  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
  round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
  regr_count(l_extendedprice, l_quantity) AS n
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple linear regression (price on quantity per return
    flag) via the SQL-standard REGR_* aggregates — the closed-form
    model fit that, like corr_matrix, is pure moment arithmetic: slope,
    intercept, R² and count all derive from (n, Σx, Σy, Σxy, Σx², Σy²),
    so the whole fit partial-aggregates map-side and costs one scan +
    one tiny exchange at any scale. This is the degenerate-but-common
    end of distributed ML: anything moment-expressible belongs in the
    engine as an aggregate, not in a training loop. 6dp rounding
    absorbs the ~1e-12 relative double-summation-order difference
    between engines.
    """
    li = load(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.regr_count(y, x).alias("n"),
    )


@query(
    "feat_ewma",
    """
WITH lists AS (
  SELECT event_id, user_id,
    array_agg(value) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS l
  FROM events
)
SELECT event_id, user_id,
  round(
    list_reduce(list_transform(range(1, len(l) + 1),
                i -> l[i] * (0.5 ** (len(l) - i))), (a, b) -> a + b)
    / list_reduce(list_transform(range(1, len(l) + 1),
                  i -> 0.5 ** (len(l) - i)), (a, b) -> a + b),
    6) AS ewma
FROM lists
""",
)
def feat_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's value
    stream (decay ½ per event, bounded 10-event frame, adjust-style
    normalization) — the time-decay feature every behavioral model
    wants, and deliberately NOT a Python loop: the frame rides one
    entity-keyed window (collect over ROWS 9 PRECEDING) and the
    weighted fold runs as higher-order functions inside codegen.

    Engine-exactness is arranged, not hoped for: decay ½ makes every
    weight an exact power of two (pow(0.5,k) is exact in IEEE 754, and
    multiplying by it only shifts the exponent), both engines fold the
    SAME oldest-first order (Spark's aggregate from 0.0 ≡ DuckDB's
    list_reduce seeded with the first element, since 0+x₁ is exact), so
    numerator and denominator are bit-identical before the 6dp display
    round. The 10-event truncation bounds per-row state; the unbounded
    recursive EWMA is the streaming variant (applyInPandasWithState
    territory, cf. streaming/runtime.py) — batch pipelines use exactly
    this windowed form so that backfills are reproducible.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    lists = ev.select(
        "event_id",
        "user_id",
        F.collect_list("value").over(w).alias("l"),
    )
    num = (
        "aggregate(zip_with(l, sequence(0, size(l) - 1), "
        "(v, i) -> v * power(0.5D, size(l) - 1 - i)), 0D, (a, x) -> a + x)"
    )
    den = (
        "aggregate(sequence(0, size(l) - 1), 0D, "
        "(a, i) -> a + power(0.5D, size(l) - 1 - i))"
    )
    return lists.select(
        "event_id",
        "user_id",
        F.round(F.expr(f"{num} / {den}"), 6).alias("ewma"),
    )


_TE_SMOOTH = 10


@query(
    "feat_target_encode",
    f"""
WITH g AS (
  SELECT c.c_mktsegment, count(*) AS n,
    sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS s
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
)
SELECT c_mktsegment, n,
  round(CAST(s AS DOUBLE) / n, 4) AS raw_mean,
  round((CAST(s AS DOUBLE) + {_TE_SMOOTH}
           * (CAST(sum(s) OVER () AS DOUBLE) / sum(n) OVER ()))
        / (n + {_TE_SMOOTH}), 4) AS encoded
FROM g
""",
)
def feat_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of the market segment against order
    value — the high-cardinality-categorical workhorse one-hot can't
    serve: each category maps to a shrunk mean,
    (Σtarget + m·global_mean)/(n + m), so rare categories pull toward
    the prior instead of memorizing noise.

    The FIT is one partial-aggregatable pass over the fact join
    (broadcast dim; DECIMAL sums for order-independence) producing one
    row per category; the global mean derives from the same aggregates
    via an unpartitioned window over |categories| rows — no second fact
    scan. Divisions run on identical doubles in both engines (exact
    decimal sums cast once), so 4dp rounding is engine-exact. The APPLY
    is a broadcast map-side join of this table, same as every encoder
    here.
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    g = (
        orders.join(
            F.broadcast(cust),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        )
    )
    wall = Window.partitionBy()
    global_mean = F.sum("s").over(wall).cast("double") / F.sum("n").over(wall)
    return g.select(
        "c_mktsegment",
        "n",
        F.round(F.col("s").cast("double") / F.col("n"), 4).alias("raw_mean"),
        F.round(
            (F.col("s").cast("double") + _TE_SMOOTH * global_mean)
            / (F.col("n") + _TE_SMOOTH),
            4,
        ).alias("encoded"),
    )


@query(
    "feat_minmax",
    """
SELECT event_id, event_type,
  CASE WHEN max(value) OVER w = min(value) OVER w THEN 0.5
       ELSE round((value - min(value) OVER w)
                  / (max(value) OVER w - min(value) OVER w), 6)
  END AS value_scaled
FROM events
WINDOW w AS (PARTITION BY event_type)
""",
)
def feat_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max scaling to [0,1] — feat_zscore's sibling for
    bounded-range features (embedding inputs, pixel-like signals),
    with the degenerate constant-group case pinned to 0.5 explicitly
    (an unguarded formula is 0/0 → NULL/NaN divergence between
    engines). Same single entity-keyed window pass as zscore; at
    100 TB the same two-job groupBy-stats + broadcast-back rewrite
    applies. min/max are exact (no summation), so the one division is
    on identical doubles — 6dp round is belt-and-braces.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    lo, hi = F.min("value").over(w), F.max("value").over(w)
    return ev.select(
        "event_id",
        "event_type",
        F.when(hi == lo, 0.5)
        .otherwise(F.round((F.col("value") - lo) / (hi - lo), 6))
        .alias("value_scaled"),
    )


_HASH_BUCKETS = 64


@query(
    "feat_hashing_trick",
    f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
  FROM documents
)
SELECT doc_id,
  CAST(('0x' || substring(md5(t), 1, 4))::BIGINT % {_HASH_BUCKETS}
       AS BIGINT) AS bucket,
  count(*) AS n
FROM tok GROUP BY 1, 2
""",
)
def feat_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the 'hashing trick'): tokens hash into a fixed
    {_HASH_BUCKETS}-bucket vocabulary-free feature space, emitted as
    COO-form (doc_id, bucket, count) sparse rows — the ML-ingest shape
    that needs no vocabulary build, no broadcast dictionary, and no
    second pass, which is why it is the default featurizer at corpus
    scale.

    Bucket = md5 of the token (engine-portable, unlike xxhash64 which
    DuckDB lacks) truncated to 16 bits mod buckets — Spark computes it
    with conv(hex,16,10), the oracle with a 0x-literal cast, same
    integer either way (the fn_surrogate_key discipline). One explode +
    one partial-aggregatable groupBy; output is bounded by
    docs × buckets regardless of corpus size.
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("t"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5("t"), 1, 4), 16, 10).cast("bigint"),
        F.lit(_HASH_BUCKETS),
    )
    return (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "stat_chi2_independence",
    """
WITH obs AS (
  SELECT lang, source, count(*) AS o
  FROM documents GROUP BY 1, 2
),
margins AS (
  SELECT lang, source, o,
    sum(o) OVER (PARTITION BY lang) AS row_n,
    sum(o) OVER (PARTITION BY source) AS col_n,
    sum(o) OVER () AS n
  FROM obs
)
SELECT
  CAST(sum(o) AS BIGINT) AS n_docs,
  CAST(count(*) AS BIGINT) AS n_cells,
  CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1)
       AS BIGINT) AS dof,
  round(sum(
    (o - row_n * col_n / CAST(n AS DOUBLE))
    * (o - row_n * col_n / CAST(n AS DOUBLE))
    / (row_n * col_n / CAST(n AS DOUBLE))
  ), 6) AS chi2
FROM margins
""",
)
def stat_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of lang × source over documents —
    the categorical-drift / sampling-bias audit (is language mix
    independent of ingestion source?). Contingency counts are one
    groupBy (5×20 cells); the margins are windows over that tiny cell
    frame, so raw rows are touched exactly once and the statistic is a
    35-cell sum. Computed from raw co-counts identically in both
    engines (no library chi2 with differing continuity corrections);
    the dof column lets a caller look up the p-value. Rounded at 6dp —
    the cell frame is small enough that summation order effects are
    below 1e-10.
    """
    docs = load(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    margins = obs.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(Window.partitionBy("lang")).alias("row_n"),
        F.sum("o").over(Window.partitionBy("source")).alias("col_n"),
        F.sum("o").over(
            Window.partitionBy()
        ).alias("n"),
    )
    e = F.col("row_n") * F.col("col_n") / F.col("n").cast("double")
    return margins.agg(
        F.sum("o").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_cells"),
        (
            (F.count_distinct("lang") - 1)
            * (F.count_distinct("source") - 1)
        ).alias("dof"),
        F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6).alias(
            "chi2"
        ),
    )


@query(
    "agg_moments",
    """
WITH s AS (
  SELECT o_orderpriority,
    count(*) AS n,
    sum(o_totalprice) AS s1,
    sum(o_totalprice * o_totalprice) AS s2,
    sum(o_totalprice * o_totalprice * o_totalprice) AS s3,
    sum(o_totalprice * o_totalprice * o_totalprice * o_totalprice) AS s4
  FROM orders GROUP BY 1
)
SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
  round(s1 / n, 4) AS mean,
  round(sqrt(s2 / n - (s1 / n) * (s1 / n)), 4) AS std_pop,
  round(
    (s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
    / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skewness,
  round(
    (s4 / n - 4 * (s1 / n) * (s3 / n)
     + 6 * (s1 / n) * (s1 / n) * (s2 / n)
     - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
    / pow(s2 / n - (s1 / n) * (s1 / n), 2) - 3, 6) AS excess_kurtosis
FROM s
""",
)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per group from raw power
    sums — distribution-shape profiling (is revenue per priority
    heavy-tailed?). Deliberately NOT the built-in skewness()/
    kurtosis(): engines disagree on bias-correction conventions
    (sample-G1 vs population-g1), so both sides compute the identical
    moment formula from s1..s4. The four power sums are one partial
    aggregation (the mergeable-moment shape, same as agg_stats);
    shuffle carries 5 groups × 6 numbers. Caveat worth its docstring:
    raw power sums of large values lose precision (s4 ~ 1e24 eats 30
    of the double's 53 mantissa bits) — fine at 4-6dp on 1e5-scale
    prices, and the scale path is Welford/co-moment merging, which
    agg_stats demonstrates.
    """
    orders = load(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    s = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    m = s1 / n
    var = s2 / n - m * m
    skew = (s3 / n - 3 * m * (s2 / n) + 2 * m * m * m) / F.pow(var, 1.5)
    kurt = (
        s4 / n - 4 * m * (s3 / n) + 6 * m * m * (s2 / n) - 3 * m * m * m * m
    ) / F.pow(var, 2) - 3
    return s.select(
        "o_orderpriority",
        n.cast("long").alias("n"),
        F.round(m, 4).alias("mean"),
        F.round(F.sqrt(var), 4).alias("std_pop"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
    )


@query(
    "stat_abtest_ztest",
    """
WITH assigned AS (
  SELECT user_id,
    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
         <= '7' THEN 'A' ELSE 'B' END AS variant,
    max(CASE WHEN event_type = 'purchase' AND value > 100 THEN 1
        ELSE 0 END) AS converted
  FROM events GROUP BY 1
),
arms AS (
  SELECT variant, count(*) AS n, sum(converted) AS x,
    sum(converted) / CAST(count(*) AS DOUBLE) AS rate
  FROM assigned GROUP BY 1
),
wide AS (
  SELECT
    max(CASE WHEN variant = 'A' THEN n END) AS n_a,
    max(CASE WHEN variant = 'A' THEN x END) AS x_a,
    max(CASE WHEN variant = 'A' THEN rate END) AS rate_a,
    max(CASE WHEN variant = 'B' THEN n END) AS n_b,
    max(CASE WHEN variant = 'B' THEN x END) AS x_b,
    max(CASE WHEN variant = 'B' THEN rate END) AS rate_b
  FROM arms
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS x_a,
  round(rate_a, 6) AS rate_a,
  CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS x_b,
  round(rate_b, 6) AS rate_b,
  round(rate_b - rate_a, 6) AS lift_abs,
  round((rate_b - rate_a) / sqrt(
    ((x_a + x_b) / CAST(n_a + n_b AS DOUBLE))
    * (1 - (x_a + x_b) / CAST(n_a + n_b AS DOUBLE))
    * (1.0 / n_a + 1.0 / n_b)), 6) AS z_stat
FROM wide
""",
)
def stat_abtest_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B experiment: users assigned to
    arms by a deterministic md5 split (the same stable-bucketing
    discipline as sample_hash_pct — assignment survives reruns and
    engine swaps, which real experiment pipelines require), conversion
    = any purchase over 100. A degenerate experiment (pooled rate 0
    or 1 — e.g. at the 64× probe every user eventually clears the
    value gate) has ZERO pooled variance: the z statistic is NULL
    then, via try_divide, which mirrors DuckDB's division-by-zero →
    NULL semantics where ANSI Spark would raise DIVIDE_BY_ZERO.
    The per-user reduce is one user-keyed aggregate,
    the arms table is 2 rows, and the pooled-variance z statistic is
    closed-form arithmetic on 6 numbers — so the whole test costs one
    shuffle of events at any scale. z > 1.96 ⇒ 95% two-sided
    significance; the statistic is emitted rather than a p-value so
    callers choose their own threshold.
    """
    ev = load(spark, sf_dir, "events")
    assigned = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 100),
                1,
            ).otherwise(0)
        ).alias("converted")
    ).select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
            <= "7",
            "A",
        )
        .otherwise("B")
        .alias("variant"),
        "converted",
    )
    arms = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").alias("x"),
        (F.sum("converted") / F.count(F.lit(1)).cast("double")).alias(
            "rate"
        ),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == "A", F.col("x"))).alias("x_a"),
        F.max(F.when(F.col("variant") == "A", F.col("rate"))).alias(
            "rate_a"
        ),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == "B", F.col("x"))).alias("x_b"),
        F.max(F.when(F.col("variant") == "B", F.col("rate"))).alias(
            "rate_b"
        ),
    )
    pooled = (F.col("x_a") + F.col("x_b")) / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    return wide.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("x_a").cast("long").alias("x_a"),
        F.round("rate_a", 6).alias("rate_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("x_b").cast("long").alias("x_b"),
        F.round("rate_b", 6).alias("rate_b"),
        F.round(F.col("rate_b") - F.col("rate_a"), 6).alias("lift_abs"),
        F.round(
            F.try_divide(
                F.col("rate_b") - F.col("rate_a"),
                F.sqrt(
                    pooled
                    * (1 - pooled)
                    * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
                ),
            ),
            6,
        ).alias("z_stat"),
    )


@query(
    "stat_iqr_outliers",
    """
WITH q AS (
  SELECT o_orderpriority,
    quantile_cont(o_totalprice, 0.25) AS q1,
    quantile_cont(o_totalprice, 0.75) AS q3
  FROM orders GROUP BY 1
)
SELECT o.o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_orders,
  round(any_value(q.q1), 2) AS q1,
  round(any_value(q.q3), 2) AS q3,
  CAST(sum(CASE WHEN o.o_totalprice < q.q1 - 1.5 * (q.q3 - q.q1)
                  OR o.o_totalprice > q.q3 + 1.5 * (q.q3 - q.q1)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
  round(sum(CASE WHEN o.o_totalprice < q.q1 - 1.5 * (q.q3 - q.q1)
                   OR o.o_totalprice > q.q3 + 1.5 * (q.q3 - q.q1)
             THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
    AS outlier_frac
FROM orders o JOIN q ON o.o_orderpriority = q.o_orderpriority
GROUP BY o.o_orderpriority
""",
)
def stat_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census per group: counts outside
    [Q1 − 1.5·IQR, Q3 + 1.5·IQR] — the box-plot rule, the
    quartile-based sibling of agg_mad's median-based robust screen.
    Exact interpolated quartiles (percentile ≍ quantile_cont, the
    agg_percentile discipline) collapse to a 5-row frame — group-key
    cardinality, a bounded driver-held model — collected and re-entered
    as literal map lookups, so the fence pass is a plain single-scan
    aggregate with no broadcast join (the agg_mad discipline); fences
    compare on UNROUNDED quartiles so a display round can't flip a
    boundary row. Two passes over orders by necessity (fences depend
    on the group quartiles), and at 100 TB percentile_approx makes
    pass one sketch-mergeable.
    """
    orders = load(spark, sf_dir, "orders")
    q_rows = exact_percentiles(
        orders,
        ["o_orderpriority"],
        "o_totalprice",
        [(0.25, "q1"), (0.75, "q3")],
    ).collect()
    q1_map = F.create_map(
        *[
            F.lit(x)
            for r in q_rows
            for x in (r["o_orderpriority"], float(r["q1"]))
        ]
    )
    q3_map = F.create_map(
        *[
            F.lit(x)
            for r in q_rows
            for x in (r["o_orderpriority"], float(r["q3"]))
        ]
    )
    q1 = q1_map[F.col("o_orderpriority")]
    q3 = q3_map[F.col("o_orderpriority")]
    iqr = q3 - q1
    is_out = (
        (F.col("o_totalprice") < q1 - 1.5 * iqr)
        | (F.col("o_totalprice") > q3 + 1.5 * iqr)
    ).cast("int")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.any_value(q1), 2).alias("q1"),
        F.round(F.any_value(q3), 2).alias("q3"),
        F.sum(is_out).cast("long").alias("n_outliers"),
        F.round(
            F.sum(is_out) / F.count(F.lit(1)).cast("double"), 6
        ).alias("outlier_frac"),
    )


@query(
    "stat_welch_ttest",
    """
WITH s AS (
  SELECT
    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_a,
    count(CASE WHEN event_type = 'click' THEN 1 END) AS n_b,
    avg(CASE WHEN event_type = 'purchase' THEN value END) AS m_a,
    avg(CASE WHEN event_type = 'click' THEN value END) AS m_b,
    var_samp(CASE WHEN event_type = 'purchase' THEN value END) AS v_a,
    var_samp(CASE WHEN event_type = 'click' THEN value END) AS v_b
  FROM events
  WHERE event_type IN ('purchase', 'click')
)
SELECT
  CAST(n_a AS BIGINT) AS n_a,
  CAST(n_b AS BIGINT) AS n_b,
  round(m_a, 4) AS mean_a,
  round(m_b, 4) AS mean_b,
  round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 6) AS t_stat,
  round(
    (v_a / n_a + v_b / n_b) * (v_a / n_a + v_b / n_b)
    / ((v_a / n_a) * (v_a / n_a) / (n_a - 1)
       + (v_b / n_b) * (v_b / n_b) / (n_b - 1)),
    4) AS dof_welch
FROM s
""",
)
def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test: does the purchase
    `value` distribution differ in mean from clicks? The experiment
    readout for continuous metrics, complementing stat_abtest_ztest's
    proportion test. ONE conditional-aggregate pass computes both
    samples' (n, mean, var) — no split-then-join, no second scan —
    and the t statistic plus Welch-Satterthwaite dof are scalar
    arithmetic on the 1-row moment frame, so 100 TB costs exactly one
    partial-aggregated scan. Means round at 4dp; t at 6dp (inputs are
    O(1e-12)-stable averages, far inside the rounding grain); the dof
    column is what a caller feeds the t-distribution CDF.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )

    def only(t: str) -> Column:
        return F.when(F.col("event_type") == t, F.col("value"))

    s = ev.agg(
        F.count(only("purchase")).alias("n_a"),
        F.count(only("click")).alias("n_b"),
        F.avg(only("purchase")).alias("m_a"),
        F.avg(only("click")).alias("m_b"),
        F.var_samp(only("purchase")).alias("v_a"),
        F.var_samp(only("click")).alias("v_b"),
    )
    se2 = F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    return s.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round("m_a", 4).alias("mean_a"),
        F.round("m_b", 4).alias("mean_b"),
        F.round((F.col("m_a") - F.col("m_b")) / F.sqrt(se2), 6).alias(
            "t_stat"
        ),
        F.round(
            se2
            * se2
            / (
                (F.col("v_a") / F.col("n_a"))
                * (F.col("v_a") / F.col("n_a"))
                / (F.col("n_a") - 1)
                + (F.col("v_b") / F.col("n_b"))
                * (F.col("v_b") / F.col("n_b"))
                / (F.col("n_b") - 1)
            ),
            4,
        ).alias("dof_welch"),
    )


@query(
    "stat_ks_test",
    """
WITH grid AS (
  SELECT round(value, 2) AS v,
    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS a,
    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS b
  FROM events
  WHERE event_type IN ('purchase', 'click')
  GROUP BY 1
),
cdf AS (
  SELECT
    sum(a) OVER (ORDER BY v) AS ca,
    sum(b) OVER (ORDER BY v) AS cb,
    sum(a) OVER () AS na,
    sum(b) OVER () AS nb
  FROM grid
)
SELECT
  CAST(any_value(na) AS BIGINT) AS n_a,
  CAST(any_value(nb) AS BIGINT) AS n_b,
  round(max(abs(
    ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE))), 6) AS ks_d,
  round(sqrt(any_value(na) * any_value(nb)
             / CAST(any_value(na) + any_value(nb) AS DOUBLE))
        * max(abs(ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE))),
        6) AS ks_stat
FROM cdf
""",
)
def stat_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the purchase and
    click `value` distributions — the whole-shape drift detector that
    catches what a mean test (stat_welch_ttest) can't. Computed on the
    2dp-quantized value grid (binned KS): raw rows partial-aggregate
    to per-bin counts first, so the ordered CDF window runs over a
    frame bounded by the VALUE DOMAIN (~33k cells for this 0–330
    range), never by row count — the same grain-then-window discipline
    as ts_autocorr. Cumulative sums are exact integers; the final
    divisions produce identical doubles in both engines, so max|ΔCDF|
    is deterministic to the bit and 6dp rounding is cosmetic. ks_stat
    is the sqrt(n·m/(n+m))-scaled statistic a caller compares against
    the Kolmogorov critical values.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    grid = (
        ev.select(F.round("value", 2).alias("v"), "event_type")
        .groupBy("v")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("a"),
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("b"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    cdf = grid.select(
        F.sum("a").over(w).alias("ca"),
        F.sum("b").over(w).alias("cb"),
        F.sum("a").over(tot).alias("na"),
        F.sum("b").over(tot).alias("nb"),
    )
    d = F.abs(
        F.col("ca") / F.col("na").cast("double")
        - F.col("cb") / F.col("nb").cast("double")
    )
    return cdf.agg(
        F.any_value("na").cast("long").alias("n_a"),
        F.any_value("nb").cast("long").alias("n_b"),
        F.round(F.max(d), 6).alias("ks_d"),
        F.round(
            F.sqrt(
                F.any_value("na")
                * F.any_value("nb")
                / (F.any_value("na") + F.any_value("nb")).cast("double")
            )
            * F.max(d),
            6,
        ).alias("ks_stat"),
    )


@query(
    "stat_benford",
    """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS BIGINT) AS digit
  FROM orders
),
obs AS (
  SELECT digit, count(*) AS n, sum(count(*)) OVER () AS total
  FROM d GROUP BY 1
)
SELECT digit,
  CAST(n AS BIGINT) AS n,
  round(n / CAST(total AS DOUBLE), 6) AS obs_frac,
  round(log10(1 + 1.0 / digit), 6) AS benford_frac,
  round(n / CAST(total AS DOUBLE) - log10(1 + 1.0 / digit), 6)
    AS excess
FROM obs
ORDER BY digit
""",
)
def stat_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-numbers screen (synthetic/tampered financial data
    rarely matches the log-curve digit frequencies). The first
    significant digit comes from integer-string arithmetic
    (floor → BIGINT → first char), NOT floor(x/10^floor(log10 x)):
    the string path is exact in both engines while libm log10 can
    straddle an ulp at exact powers of ten. One partial-aggregated
    groupBy to a ≤9-row frame; expected frequencies are constants;
    `excess` is the per-digit deviation a fraud reviewer scans.
    Output ordered by digit — a 9-row bounded sort.
    """
    orders = load(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("long")
    obs = (
        orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("total", F.sum("n").over(Window.partitionBy()))
    )
    benford = F.log10(1 + 1.0 / F.col("digit"))
    return obs.select(
        "digit",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.col("total").cast("double"), 6).alias(
            "obs_frac"
        ),
        F.round(benford, 6).alias("benford_frac"),
        F.round(
            F.col("n") / F.col("total").cast("double") - benford, 6
        ).alias("excess"),
    ).orderBy("digit")


@query(
    "corr_spearman",
    """
WITH joint AS (
  SELECT l_quantity AS x, l_discount AS y, count(*) AS n
  FROM lineitem GROUP BY 1, 2
),
rx AS (
  SELECT x,
    sum(sum(n)) OVER (ORDER BY x) - sum(n) + (sum(n) + 1) / 2.0 AS r
  FROM joint GROUP BY x
),
ry AS (
  SELECT y,
    sum(sum(n)) OVER (ORDER BY y) - sum(n) + (sum(n) + 1) / 2.0 AS r
  FROM joint GROUP BY y
),
m AS (
  SELECT j.n, rx.r AS rx, ry.r AS ry
  FROM joint j JOIN rx ON j.x = rx.x JOIN ry ON j.y = ry.y
)
SELECT
  CAST(sum(n) AS BIGINT) AS n_rows,
  round(
    (sum(n * rx * ry) - sum(n * rx) * sum(n * ry) / sum(n))
    / sqrt((sum(n * rx * rx) - sum(n * rx) * sum(n * rx) / sum(n))
           * (sum(n * ry * ry) - sum(n * ry) * sum(n * ry) / sum(n))),
    6) AS spearman_rho
FROM m
""",
)
def corr_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and discount — the
    monotonic-association probe that Pearson (corr_matrix) misses on
    nonlinear-but-ordered relationships. The scale-shaped formulation:
    NO per-row global rank sort. Rows partial-aggregate to the joint
    (x, y, n) grid (bounded by the two value domains); tie-averaged
    ranks ("midranks") per distinct value come from cumulative counts
    over the tiny marginal frames; and Spearman = weighted Pearson of
    the midranks with the joint counts as weights — all sums over the
    grid, one raw-data shuffle total. Midranks are exact .0/.5
    rationals and the weighted moments are exact until the final
    division, so 6dp rounding is cosmetic.
    """
    li = load(spark, sf_dir, "lineitem")
    joint = (
        li.select(
            F.col("l_quantity").alias("x"), F.col("l_discount").alias("y")
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def midrank(df: DataFrame, key: str) -> DataFrame:
        per = df.groupBy(key).agg(F.sum("n").alias("cnt"))
        w = Window.orderBy(key).rowsBetween(Window.unboundedPreceding, 0)
        return per.select(
            key,
            (
                F.sum("cnt").over(w)
                - F.col("cnt")
                + (F.col("cnt") + 1) / 2.0
            ).alias("r"),
        )

    rx = midrank(joint, "x").withColumnRenamed("r", "rx")
    ry = midrank(joint, "y").withColumnRenamed("r", "ry")
    m = joint.join(F.broadcast(rx), "x").join(F.broadcast(ry), "y")
    n, x, y = F.col("n"), F.col("rx"), F.col("ry")
    sn = F.sum(n)
    sx, sy = F.sum(n * x), F.sum(n * y)
    sxy = F.sum(n * x * y)
    sxx, syy = F.sum(n * x * x), F.sum(n * y * y)
    return m.agg(
        sn.cast("long").alias("n_rows"),
        F.round(
            (sxy - sx * sy / sn)
            / F.sqrt((sxx - sx * sx / sn) * (syy - sy * sy / sn)),
            6,
        ).alias("spearman_rho"),
    )


@query(
    "stat_mannwhitney",
    """
WITH s AS (
  SELECT event_type, value FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
),
per AS (
  SELECT value,
         count(*) AS cnt,
         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS cnt_a
  FROM s GROUP BY value
),
rk AS (
  SELECT cnt, cnt_a,
         2 * sum(cnt) OVER (ORDER BY value
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW)
           - cnt + 1 AS arank2
  FROM per
),
g AS (
  SELECT sum(cnt_a) AS n_a,
         sum(cnt - cnt_a) AS n_b,
         sum(cnt_a * arank2) / 2.0 AS r_a,
         sum(cnt * cnt * cnt - cnt) AS tie_term
  FROM rk
)
SELECT
  CAST(n_a AS BIGINT) AS n_a,
  CAST(n_b AS BIGINT) AS n_b,
  round(r_a - n_a * (n_a + 1) / 2.0, 1) AS u_stat,
  round(
    (r_a - n_a * (n_a + 1) / 2.0 - n_a * n_b / 2.0)
    / sqrt(
        n_a * n_b / 12.0
        * ((n_a + n_b + 1)
           - tie_term
             / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE))),
    6) AS z_stat
FROM g
""",
)
def stat_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: purchase vs click
    `value`, with the tie-corrected normal approximation — the
    nonparametric sibling of stat_welch_ttest for when the metric is
    skewed and a means test misleads.

    Scale shape: ranks are NEVER assigned to raw rows. The stream
    collapses to per-distinct-value counts first (partial-aggregatable
    groupBy, the only full-data shuffle), and midranks derive from a
    running sum over the DISTINCT values — the global-order window
    touches |distinct| rows, not |data|, the same two-phase discipline
    as corr_spearman. All arithmetic stays integer until the final
    division: 2·midrank = 2·cum − cnt + 1 is exact, so the rank sum,
    tie term, and therefore U and z are bit-identical across engines
    (6dp rounding is display, not a tolerance).
    """
    ev = load(spark, sf_dir, "events")
    s = ev.filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    )
    per = s.groupBy("value").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "cnt_a"
        ),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    rk = per.select(
        "cnt",
        "cnt_a",
        (2 * F.sum("cnt").over(w) - F.col("cnt") + 1).alias("arank2"),
    )
    g = rk.agg(
        F.sum("cnt_a").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a")).alias("n_b"),
        (F.sum(F.col("cnt_a") * F.col("arank2")) / 2.0).alias("r_a"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_term"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    u = F.col("r_a") - n_a * (n_a + 1) / 2.0
    n = n_a + n_b
    sigma = F.sqrt(
        n_a * n_b / 12.0
        * ((n + 1) - F.col("tie_term") / (n * (n - 1)).cast("double"))
    )
    return g.select(
        n_a.cast("long").alias("n_a"),
        n_b.cast("long").alias("n_b"),
        F.round(u, 1).alias("u_stat"),
        F.round((u - n_a * n_b / 2.0) / sigma, 6).alias("z_stat"),
    )


_WILSON_Z = 1.959963984540054  # two-sided 95%


@query(
    "stat_wilson_ci",
    f"""
WITH g AS (
  SELECT event_type,
         count(*) AS n,
         sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS k
  FROM events
  GROUP BY 1
)
SELECT event_type,
  CAST(n AS BIGINT) AS n_events,
  CAST(k AS BIGINT) AS n_hits,
  round(k / CAST(n AS DOUBLE), 6) AS p_hat,
  round(
    (k / CAST(n AS DOUBLE)
       + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
     - {_WILSON_Z} * sqrt(
         (k / CAST(n AS DOUBLE)) * (1 - k / CAST(n AS DOUBLE)) / n
         + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
    / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_lo,
  round(
    (k / CAST(n AS DOUBLE)
       + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
     + {_WILSON_Z} * sqrt(
         (k / CAST(n AS DOUBLE)) * (1 - k / CAST(n AS DOUBLE)) / n
         + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
    / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_hi
FROM g
ORDER BY event_type
""",
)
def stat_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score 95% confidence interval for the per-event-type
    'high-value' rate (value > 100) — the interval estimate the
    testing family was missing (stat_abtest_ztest decides, this
    quantifies): Wilson beats the naive Wald interval near 0/1 and at
    small n, which is exactly where conversion metrics live.

    One partial-aggregatable pass produces (n, k) per type; the
    interval is closed-form arithmetic on those two integers, so both
    engines compute identical doubles and 6dp rounding is display
    only. At 100 TB this is a single map-side-combined shuffle of
    5 keys — the cheapest shape an aggregate can have.
    """
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("value") > 100, 1).otherwise(0)
        ).alias("k"),
    )
    n = F.col("n").cast("double")
    p = F.col("k") / n
    z = F.lit(_WILSON_Z)
    z2 = z * z
    center = p + z2 / (2 * n)
    half = z * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
    denom = 1 + z2 / n
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.col("k").cast("long").alias("n_hits"),
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    ).orderBy("event_type")


@query(
    "stat_cuped_adjustment",
    """
WITH u AS (
  SELECT user_id, user_id % 2 AS arm,
    sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS xc,
    sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS yc
  FROM events GROUP BY 1, 2
),
pool AS (
  SELECT count(*) AS n,
         sum(xc) AS sx, sum(yc) AS sy,
         sum(xc * yc) AS sxy, sum(xc * xc) AS sxx,
         sum(yc * yc) AS syy
  FROM u
),
th AS (
  SELECT
    CAST(CAST(n AS DECIMAL(38,0)) * CAST(sxy AS DECIMAL(38,0))
         - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
      AS DOUBLE) AS cov_n,
    CAST(CAST(n AS DECIMAL(38,0)) * CAST(sxx AS DECIMAL(38,0))
         - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
      AS DOUBLE) AS varx_n,
    CAST(CAST(n AS DECIMAL(38,0)) * CAST(syy AS DECIMAL(38,0))
         - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
      AS DOUBLE) AS vary_n,
    CAST(sx AS DOUBLE) / n AS xbar_c
  FROM pool
)
SELECT arm,
  CAST(count(*) AS BIGINT) AS n_users,
  round(CAST(sum(yc) AS DOUBLE) / count(*) / 100, 2) AS mean_y,
  round(
    CAST(sum(yc) AS DOUBLE) / count(*) / 100
    - (cov_n / varx_n)
      * (CAST(sum(xc) AS DOUBLE) / count(*) - xbar_c) / 100,
    2) AS mean_y_cuped,
  round(cov_n / varx_n, 6) AS theta,
  round(cov_n * cov_n / (varx_n * vary_n), 6) AS var_reduction
FROM u CROSS JOIN th
GROUP BY arm, cov_n, varx_n, vary_n, xbar_c
ORDER BY arm
""",
)
def stat_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout: per-user
    pre-period spend (days 1–15) as the covariate X, experiment-period
    spend (days 16–30) as the metric Y, arms assigned
    deterministically by user parity. θ = cov(X,Y)/var(X) is fitted
    POOLED (the standard, unbiased-under-randomization choice), each
    arm's mean shifts by θ·(X̄_arm − X̄_pool), and var_reduction = ρ²
    is the fraction of metric variance the covariate removes — the
    technique that lets an experiment reach significance with ~1/(1−ρ²)
    fewer users (stat_abtest_ztest decides; this shrinks its σ).

    Numeric discipline: the 2dp `value` becomes exact integer CENTS,
    so every user aggregate and every pooled moment is an exact
    integer; moment COMBINATIONS route through DECIMAL(38,0) (long
    would overflow n·Σx² beyond ~sf1; DuckDB's HUGEINT sums need the
    same widening on the Spark side) and only the final exact integers
    cast to double — bit-identical ratios, 6dp display rounding. One
    partial-aggregatable pass to the user grain, a 1-row broadcast of
    the pooled moments, then a 2-row arm rollup.
    """
    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    cut = F.col("ts").cast("date") < F.lit("2024-01-16").cast("date")
    u = ev.groupBy(
        "user_id", (F.col("user_id") % 2).alias("arm")
    ).agg(
        F.sum(F.when(cut, cents).otherwise(0)).alias("xc"),
        F.sum(F.when(~cut, cents).otherwise(0)).alias("yc"),
    )
    d38 = "decimal(38,0)"
    pool = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xc").alias("sx"),
        F.sum("yc").alias("sy"),
        F.sum(F.col("xc") * F.col("yc")).alias("sxy"),
        F.sum(F.col("xc") * F.col("xc")).alias("sxx"),
        F.sum(F.col("yc") * F.col("yc")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    th = pool.select(
        (
            n.cast(d38) * F.col("sxy").cast(d38)
            - sx.cast(d38) * sy.cast(d38)
        ).cast("double").alias("cov_n"),
        (
            n.cast(d38) * F.col("sxx").cast(d38)
            - sx.cast(d38) * sx.cast(d38)
        ).cast("double").alias("varx_n"),
        (
            n.cast(d38) * F.col("syy").cast(d38)
            - sy.cast(d38) * sy.cast(d38)
        ).cast("double").alias("vary_n"),
        (sx.cast("double") / n).alias("xbar_c"),
    )
    theta = F.col("cov_n") / F.col("varx_n")
    mean_y = F.sum("yc").cast("double") / F.count(F.lit(1)) / 100
    mean_x_c = F.sum("xc").cast("double") / F.count(F.lit(1))
    return (
        u.crossJoin(F.broadcast(th))
        .groupBy("arm", "cov_n", "varx_n", "vary_n", "xbar_c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(mean_y, 2).alias("mean_y"),
            F.round(
                mean_y
                - theta * (mean_x_c - F.col("xbar_c")) / 100,
                2,
            ).alias("mean_y_cuped"),
        )
        .select(
            "arm",
            "n_users",
            "mean_y",
            "mean_y_cuped",
            F.round(theta, 6).alias("theta"),
            F.round(
                F.col("cov_n") * F.col("cov_n")
                / (F.col("varx_n") * F.col("vary_n")),
                6,
            ).alias("var_reduction"),
        )
        .orderBy("arm")
    )


_Z_ALPHA = 1.959963984540054  # two-sided 5%
_Z_BETA = 0.8416212335729143  # 80% power


@query(
    "stat_power_analysis",
    f"""
WITH g AS (
  SELECT event_type, count(*) AS n,
         sum(CAST(round(value * 100) AS BIGINT)) AS s,
         sum(CAST(round(value * 100) AS BIGINT)
             * CAST(round(value * 100) AS BIGINT)) AS ss
  FROM events GROUP BY 1
),
m AS (
  SELECT event_type, n,
    CAST(s AS DOUBLE) / n / 100 AS mu,
    sqrt(CAST(CAST(n AS DECIMAL(38,0)) * CAST(ss AS DECIMAL(38,0))
              - CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))
           AS DOUBLE)
         / (CAST(n AS DOUBLE) * (n - 1))) / 100 AS sigma
  FROM g
)
SELECT event_type,
  CAST(n AS BIGINT) AS n_events,
  round(mu, 2) AS mean_value,
  round(sigma, 4) AS stddev,
  CAST(ceil(2 * sigma * sigma
            * {(_Z_ALPHA + _Z_BETA)!r} * {(_Z_ALPHA + _Z_BETA)!r}
            / ((0.01 * mu) * (0.01 * mu))) AS BIGINT)
    AS n_per_arm_mde1,
  CAST(ceil(2 * sigma * sigma
            * {(_Z_ALPHA + _Z_BETA)!r} * {(_Z_ALPHA + _Z_BETA)!r}
            / ((0.05 * mu) * (0.05 * mu))) AS BIGINT)
    AS n_per_arm_mde5,
  CAST(ceil(2 * sigma * sigma
            * {(_Z_ALPHA + _Z_BETA)!r} * {(_Z_ALPHA + _Z_BETA)!r}
            / ((0.10 * mu) * (0.10 * mu))) AS BIGINT)
    AS n_per_arm_mde10
FROM m
ORDER BY event_type
""",
)
def stat_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sizing from observed metric variance: per event
    type, the minimum per-arm sample to detect a 1% / 5% / 10%
    relative lift in mean value at α=5% (two-sided) with 80% power —
    n = 2σ²(z_{{α/2}}+z_β)²/δ². Closes the experimentation suite's
    loop: stat_power_analysis sizes it, stat_abtest_ztest decides it,
    stat_wilson_ci quantifies it, stat_cuped_adjustment shrinks the σ
    this formula charges for.

    Numeric discipline: 2dp values become exact integer cents, the
    (n, Σx, Σx²) moments are exact integer sums, and the variance
    combination routes through DECIMAL(38,0) (long overflows n·Σx²
    past ~sf1 — the stat_cuped_adjustment lesson). Every double then
    derives from identical exact integers in both engines, so ceil()
    lands on the same side everywhere and the sample sizes are
    hash-exact. One partial-aggregatable pass, closed-form finisher.
    """
    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents * cents).alias("ss"),
    )
    d38 = "decimal(38,0)"
    n, s = F.col("n"), F.col("s")
    mu = s.cast("double") / n / 100
    sigma = (
        F.sqrt(
            (
                n.cast(d38) * F.col("ss").cast(d38)
                - s.cast(d38) * s.cast(d38)
            ).cast("double")
            / (n.cast("double") * (n - 1))
        )
        / 100
    )
    # explicit multiply (not **2): the oracle inlines literal*literal,
    # and IEEE multiply of identical doubles is the bit-exact twin
    zsum2 = (_Z_ALPHA + _Z_BETA) * (_Z_ALPHA + _Z_BETA)
    def n_arm(mde: float):
        return F.ceil(
            2 * sigma * sigma * F.lit(zsum2) / ((mde * mu) * (mde * mu))
        ).cast("long")
    return g.select(
        "event_type",
        n.cast("long").alias("n_events"),
        F.round(mu, 2).alias("mean_value"),
        F.round(sigma, 4).alias("stddev"),
        n_arm(0.01).alias("n_per_arm_mde1"),
        n_arm(0.05).alias("n_per_arm_mde5"),
        n_arm(0.10).alias("n_per_arm_mde10"),
    ).orderBy("event_type")


@query(
    "stat_anova_oneway",
    """
WITH g AS (
  SELECT event_type, count(*) AS n,
         sum(CAST(round(value * 100) AS BIGINT)) AS s,
         sum(CAST(round(value * 100) AS BIGINT)
             * CAST(round(value * 100) AS BIGINT)) AS ss
  FROM events GROUP BY 1
),
tot AS (
  SELECT sum(n) AS nt, sum(s) AS st, sum(ss) AS sst,
         count(*) AS k,
         sum(CAST(s AS DOUBLE) * s / n) AS group_sq
  FROM g
)
SELECT
  CAST(k AS BIGINT) AS n_groups,
  CAST(nt AS BIGINT) AS n_total,
  round((group_sq - CAST(st AS DOUBLE) * st / nt) / 10000, 2)
    AS ss_between,
  round((CAST(sst AS DOUBLE) - group_sq) / 10000, 2) AS ss_within,
  round(
    ((group_sq - CAST(st AS DOUBLE) * st / nt) / (k - 1))
    / ((CAST(sst AS DOUBLE) - group_sq) / (nt - k)), 6) AS f_stat,
  round((group_sq - CAST(st AS DOUBLE) * st / nt)
        / (CAST(sst AS DOUBLE) - CAST(st AS DOUBLE) * st / nt), 6)
    AS eta_squared
FROM tot
""",
)
def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across all five event types on `value`: F
    statistic + η² effect size from the between/within sum-of-squares
    identity — the ≥3-group completion of the two-sample tests
    (stat_welch_ttest compares a pair; this asks 'does type matter AT
    ALL' before pairwise drilling, and η² says how much).

    Numeric discipline: per-group (n, Σx, Σx²) in exact integer cents
    from one partial-aggregatable pass; the only non-integer reduction
    is Σ s²/n over the 5-row group frame — a 5-term double sum whose
    order Spark cannot vary (single 1-row aggregate of a 5-row input,
    and both engines reduce the identical 5 doubles), then closed-form
    ratios. The /10000 rescale returns the SS columns to value² units.
    """
    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents * cents).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.sum("ss").alias("sst"),
        F.count(F.lit(1)).alias("k"),
        F.sum(
            F.col("s").cast("double") * F.col("s") / F.col("n")
        ).alias("group_sq"),
    )
    nt, st, sst = F.col("nt"), F.col("st"), F.col("sst")
    k, gsq = F.col("k"), F.col("group_sq")
    ssb = gsq - st.cast("double") * st / nt
    ssw = sst.cast("double") - gsq
    sstot = sst.cast("double") - st.cast("double") * st / nt
    return tot.select(
        k.cast("long").alias("n_groups"),
        nt.cast("long").alias("n_total"),
        F.round(ssb / 10000, 2).alias("ss_between"),
        F.round(ssw / 10000, 2).alias("ss_within"),
        F.round((ssb / (k - 1)) / (ssw / (nt - k)), 6).alias("f_stat"),
        F.round(ssb / sstot, 6).alias("eta_squared"),
    )


@query(
    "stat_pairwise_ttest_bonferroni",
    """
WITH g AS (
  SELECT event_type, count(*) AS n,
         sum(CAST(round(value * 100) AS BIGINT)) AS s,
         sum(CAST(round(value * 100) AS BIGINT)
             * CAST(round(value * 100) AS BIGINT)) AS ss
  FROM events GROUP BY 1
),
m AS (
  SELECT event_type, n,
    CAST(s AS DOUBLE) / n / 100 AS mu,
    (CAST(CAST(n AS DECIMAL(38,0)) * CAST(ss AS DECIMAL(38,0))
          - CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))
       AS DOUBLE)
     / (CAST(n AS DOUBLE) * (n - 1))) / 10000 AS var_v
  FROM g
),
p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
         round(a.mu - b.mu, 4) AS mean_diff,
         (a.mu - b.mu) / sqrt(a.var_v / a.n + b.var_v / b.n) AS t
  FROM m a JOIN m b ON a.event_type < b.event_type
)
SELECT type_a, type_b, n_a, n_b, mean_diff,
  round(t, 6) AS t_stat,
  CAST(abs(t) > 3.124 AS INTEGER) AS significant_bonferroni
FROM p
ORDER BY type_a, type_b
""",
)
def stat_pairwise_ttest_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All C(5,2)=10 pairwise Welch t statistics on value across event
    types with a Bonferroni-corrected significance flag (α=5%/10 →
    per-test α=0.5% → two-sided z≈3.124 at these sample sizes) — the
    drill-down step after stat_anova_oneway says 'type matters': which
    pairs actually differ, with the multiple-comparisons penalty the
    naive 10-tests-at-5% approach ignores.

    Scale shape: ONE pass builds the 5-row per-type (n, Σ cents,
    Σ cents²) moment frame (DECIMAL(38,0) variance combination — the
    established overflow discipline); the pair grid is a self-join of
    5 rows. The significance flag compares the UNROUNDED t against the
    critical constant, so display rounding can't flip a verdict
    differently per engine.
    """
    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents * cents).alias("ss"),
    )
    d38 = "decimal(38,0)"
    n, s = F.col("n"), F.col("s")
    m = g.select(
        "event_type",
        "n",
        (s.cast("double") / n / 100).alias("mu"),
        (
            (
                n.cast(d38) * F.col("ss").cast(d38)
                - s.cast(d38) * s.cast(d38)
            ).cast("double")
            / (n.cast("double") * (n - 1))
            / 10000
        ).alias("var_v"),
    )
    # both sides of the pair grid consume the SAME 5-row moment frame:
    # materialize it once so events scans once (the round's lesson)
    m = m.localCheckpoint(eager=False)
    a, b = m.alias("a"), m.alias("b")
    t = (F.col("a.mu") - F.col("b.mu")) / F.sqrt(
        F.col("a.var_v") / F.col("a.n") + F.col("b.var_v") / F.col("b.n")
    )
    return (
        a.join(b, F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.n").cast("long").alias("n_a"),
            F.col("b.n").cast("long").alias("n_b"),
            F.round(F.col("a.mu") - F.col("b.mu"), 4).alias("mean_diff"),
            F.round(t, 6).alias("t_stat"),
            (F.abs(t) > 3.124).cast("int").alias(
                "significant_bonferroni"
            ),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "feat_woe_iv",
    """
WITH c AS (
  SELECT o_orderpriority AS category,
    sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_bad,
    sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS n_good
  FROM orders GROUP BY 1
),
t AS (SELECT category, n_bad, n_good,
        sum(n_bad) OVER () AS tot_bad,
        sum(n_good) OVER () AS tot_good
      FROM c)
SELECT category,
  CAST(n_good AS BIGINT) AS n_good,
  CAST(n_bad AS BIGINT) AS n_bad,
  round(ln((n_good / CAST(tot_good AS DOUBLE))
           / (n_bad / CAST(tot_bad AS DOUBLE))), 6) AS woe,
  round(((n_good / CAST(tot_good AS DOUBLE))
         - (n_bad / CAST(tot_bad AS DOUBLE)))
        * ln((n_good / CAST(tot_good AS DOUBLE))
             / (n_bad / CAST(tot_bad AS DOUBLE))), 8) AS iv_component
FROM t
WHERE n_good > 0 AND n_bad > 0
""",
)
def feat_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding + information value per category —
    the credit-scoring / risk-model feature transform (WOE replaces a
    categorical level with ln(P(level|good)/P(level|bad)); summing
    (pg−pb)·WOE over levels gives the feature's IV, the classic
    keep/drop screen). Event definition: order status 'F' is the
    "bad" outcome, o_orderpriority the encoded categorical.

    One partial-aggregated scan to the |categories|-row grid; the
    class totals come from an unpartitioned window over that grid
    (feat_target_encode's no-second-fact-scan discipline — 5 rows, so
    the single-partition window is free). Zero-count cells are
    excluded (standard WOE practice: bins with an empty class get
    merged upstream) — which also makes ln's argument strictly
    positive in both engines. Counts are exact integers, the ratios
    divide identical doubles, and 6/8dp rounding absorbs libm's
    ≤1-ulp ln drift (the agg_entropy argument). At 100 TB: one
    map-side-combinable fact pass, KB-sized everything after.
    """
    orders = load(spark, sf_dir, "orders")
    bad = (F.col("o_orderstatus") == "F").cast("int")
    c = orders.groupBy(
        F.col("o_orderpriority").alias("category")
    ).agg(
        F.sum(bad).alias("n_bad"),
        F.sum(1 - bad).alias("n_good"),
    )
    w_all = Window.partitionBy()
    pg = F.col("n_good") / F.sum("n_good").over(w_all).cast("double")
    pb = F.col("n_bad") / F.sum("n_bad").over(w_all).cast("double")
    woe = F.log(pg / pb)
    return (
        c.select(
            "category",
            F.col("n_good").cast("long").alias("n_good"),
            F.col("n_bad").cast("long").alias("n_bad"),
            F.round(woe, 6).alias("woe"),
            F.round((pg - pb) * woe, 8).alias("iv_component"),
        )
        .where((F.col("n_good") > 0) & (F.col("n_bad") > 0))
    )


@query(
    "feat_robust_scaler",
    """
SELECT event_type,
  CAST(count(value) AS BIGINT) AS n,
  round(quantile_cont(value, 0.25), 6) AS q1,
  round(quantile_cont(value, 0.50), 6) AS median,
  round(quantile_cont(value, 0.75), 6) AS q3,
  round(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 6)
    AS iqr
FROM events
GROUP BY event_type
""",
)
def feat_robust_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RobustScaler FIT per event type: median and IQR of the value
    column — the outlier-immune alternative to feat_zscore's mean/σ
    (one fat-tailed session doesn't move quartiles). The apply side is
    the same broadcast-back map as every scaler here: (value − median)
    / iqr with an iqr=0 → 0.5 degenerate pin, identical in shape to
    feat_minmax's constant-group guard.

    The three quantiles come from exact_percentiles (sketch-bracketed
    selection, two parallel scans, KB shuffles) — NOT the built-in
    object-hash percentile whose per-group single-reducer merge is the
    documented 64×-probe scale-killer; exactness matches quantile_cont
    interpolation so the fit is hash-checked.

    Semantics note (r9 change, confirmed r10): ``n`` counts NON-NULL
    values (count(value), the free ride on the percentile pick
    aggregate), not rows. events.value is non-nullable in every
    fixture SF (0 nulls in parquet stats at sf0.001/0.01/0.1) so the
    two are equal here; on a hypothetical all-null group the engine
    omits the group (no rankable values) while count(*) semantics
    would emit n>0 with NULL quartiles — a scaler can't be FIT on a
    group with no values, so omission is the intended behavior.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    pct = exact_percentiles(
        ev,
        ["event_type"],
        "value",
        [(0.25, "q1r"), (0.5, "medr"), (0.75, "q3r")],
        # n rides the selection pass for free (count(value) — the
        # values actually fitted); the former shape paid a third full
        # scan + join for it.
        counts=[("value", "n")],
    )
    return pct.select(
        "event_type",
        "n",
        F.round(F.col("q1r"), 6).alias("q1"),
        F.round(F.col("medr"), 6).alias("median"),
        F.round(F.col("q3r"), 6).alias("q3"),
        F.round(F.col("q3r") - F.col("q1r"), 6).alias("iqr"),
    )


@query(
    "stat_jarque_bera",
    """
WITH s AS (
  SELECT o_orderpriority,
    count(*) AS n,
    sum(o_totalprice) AS s1,
    sum(o_totalprice * o_totalprice) AS s2,
    sum(o_totalprice * o_totalprice * o_totalprice) AS s3,
    sum(o_totalprice * o_totalprice * o_totalprice * o_totalprice) AS s4
  FROM orders GROUP BY 1
),
m AS (
  SELECT o_orderpriority, n,
    (s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
      / pow(s2 / n - (s1 / n) * (s1 / n), 1.5) AS skew,
    (s4 / n - 4 * (s1 / n) * (s3 / n)
     + 6 * (s1 / n) * (s1 / n) * (s2 / n)
     - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
      / pow(s2 / n - (s1 / n) * (s1 / n), 2) - 3 AS exkurt
  FROM s
)
SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
  round(skew, 6) AS skewness,
  round(exkurt, 6) AS excess_kurtosis,
  round(n / 6.0 * (skew * skew + exkurt * exkurt / 4.0), 4) AS jb_stat,
  (round(n / 6.0 * (skew * skew + exkurt * exkurt / 4.0), 4) > 5.991465)
    AS reject_normal
FROM m
""",
)
def stat_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test per group: JB = n/6·(S² + K²/4) from
    population skewness S and excess kurtosis K, against the χ²(2) 95%
    critical value — the screen that answers "can I use z-intervals on
    this segment?" before stat_abtest_ztest/stat_welch_ttest assume
    yes. Shares agg_moments' raw-power-sum formulation (one partial
    aggregation, identical moment arithmetic both engines — NOT the
    builtin skewness/kurtosis, whose bias conventions differ); the χ²
    threshold enters as the same literal on both sides, compared
    against the ROUNDED statistic so near-threshold rows can't flip on
    summation-order noise, and rejection on heavy-tailed revenue data
    is the expected (and informative) outcome. Scale note (as
    agg_moments documents): raw power sums (s4 ~1e23 per row) lose
    precision at very large n — the 100 TB path is pairwise co-moment
    merging (Chan et al.), which this oracle-mirroring formulation
    trades away for cross-engine bit-agreement at fixture scales.
    """
    orders = load(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    s = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    m = s1 / n
    var = s2 / n - m * m
    skew = (s3 / n - 3 * m * (s2 / n) + 2 * m * m * m) / F.pow(var, 1.5)
    kurt = (
        s4 / n - 4 * m * (s3 / n) + 6 * m * m * (s2 / n) - 3 * m * m * m * m
    ) / F.pow(var, 2) - 3
    jb = n / F.lit(6.0) * (skew * skew + kurt * kurt / F.lit(4.0))
    return s.select(
        "o_orderpriority",
        n.cast("long").alias("n"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
        F.round(jb, 4).alias("jb_stat"),
        # compare the ROUNDED statistic (both engines): JB grows
        # linearly with n while the raw power sums' summation order
        # differs between engines, so the unrounded comparison could
        # flip near the threshold at large SFs even with 6dp-identical
        # skew/kurtosis
        (F.round(jb, 4) > F.lit(5.991465)).alias("reject_normal"),
    )


@query(
    "stat_brown_forsythe",
    """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
),
z AS (
  SELECT e.event_type,
    CAST(round(abs(e.value - m.med) * 200) AS BIGINT) AS z
  FROM events e JOIN med m ON e.event_type = m.event_type
),
g AS (
  SELECT event_type, count(*) AS n, sum(z) AS s, sum(z * z) AS ss
  FROM z GROUP BY 1
),
tot AS (
  SELECT sum(n) AS nt, count(*) AS k,
         sum(CAST(s AS DOUBLE) * s / n) AS group_sq,
         sum(CAST(s AS DOUBLE)) AS st, sum(CAST(ss AS DOUBLE)) AS sst,
         max(CAST(s AS DOUBLE) / n) AS max_dev,
         min(CAST(s AS DOUBLE) / n) AS min_dev
  FROM g
)
SELECT
  CAST(k AS BIGINT) AS n_groups,
  CAST(nt AS BIGINT) AS n_total,
  round(((group_sq - st * st / nt) / (k - 1))
        / ((sst - group_sq) / (nt - k)), 6) AS w_stat,
  round(max_dev / min_dev, 6) AS dev_ratio
FROM tot
""",
)
def stat_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test for equal variances across the five event
    types: a one-way ANOVA on |x − group MEDIAN| (Levene's W with the
    robust center) — the homogeneity-of-variance gate run BEFORE
    trusting stat_anova_oneway/stat_welch_ttest defaults, plus the
    max/min mean-deviation ratio as the effect size.

    Numeric discipline: group medians come from exact_percentiles (the
    sketch-bracketed exact-selection engine — cross-engine interpolated-
    median equality is already hash-proven by agg_percentile/agg_mad);
    deviations are then rounded to HALF-cents (×200 — a median of
    cent-exact doubles lands on the half-cent lattice) so every
    downstream sum is an exact integer, and the W statistic reduces the
    5-row group frame exactly as stat_anova_oneway does. Scale: one
    median pass + one integer-aggregated pass, both partial-aggregated;
    the 5-row median frame broadcasts back.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = exact_percentiles(ev, ["event_type"], "value", [(0.5, "med")])
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.round(F.abs(F.col("value") - F.col("med")) * 200)
        .cast("long")
        .alias("z"),
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z").alias("s"),
        F.sum(F.col("z") * F.col("z")).alias("ss"),
    )
    sd, nd = F.col("s").cast("double"), F.col("n")
    tot = g.agg(
        F.sum("n").alias("nt"),
        F.count(F.lit(1)).alias("k"),
        F.sum(sd * F.col("s") / nd).alias("group_sq"),
        F.sum(sd).alias("st"),
        F.sum(F.col("ss").cast("double")).alias("sst"),
        F.max(sd / nd).alias("max_dev"),
        F.min(sd / nd).alias("min_dev"),
    )
    nt, k = F.col("nt"), F.col("k")
    gsq, st, sst = F.col("group_sq"), F.col("st"), F.col("sst")
    return tot.select(
        k.cast("long").alias("n_groups"),
        nt.cast("long").alias("n_total"),
        F.round(
            ((gsq - st * st / nt) / (k - 1)) / ((sst - gsq) / (nt - k)), 6
        ).alias("w_stat"),
        F.round(F.col("max_dev") / F.col("min_dev"), 6).alias("dev_ratio"),
    )


@query(
    "stat_grubbs_max",
    """
WITH c AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
g AS (
  SELECT event_type, count(*) AS n, sum(cents) AS s,
         sum(cents * cents) AS ss
  FROM c GROUP BY 1
),
m AS (
  SELECT c.event_type, max(abs(c.cents * g.n - g.s)) AS mdev
  FROM c JOIN g ON c.event_type = g.event_type
  GROUP BY 1
)
SELECT g.event_type,
  CAST(g.n AS BIGINT) AS n,
  round(CAST(m.mdev AS DOUBLE) / g.n / 100, 2) AS max_absdev,
  round((CAST(m.mdev AS DOUBLE) / g.n)
        / sqrt((g.ss - CAST(g.s AS DOUBLE) * g.s / g.n) / (g.n - 1)),
        6) AS g_stat
FROM g JOIN m ON g.event_type = m.event_type
""",
)
def stat_grubbs_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' extreme-studentized-deviate statistic per event type:
    G = max|x − x̄| / s — the parametric single-outlier screen
    complementing stat_iqr_outliers (quartile fences flag the bulk
    tail; G asks whether the single most extreme point is implausible
    under normality, the first question after a feed glitch).

    Exact-integer trick: max|x − s/n| rescales to max|x·n − s| — an
    exact BIGINT per row (cents ≤ 1e8, n ≤ 1e7 at sf10: within int64
    headroom; beyond that the documented path is the DECIMAL(38,0)
    co-moment discipline of stat_cuped_adjustment) — so both engines
    reduce identical integers and only the final two divisions are
    doubles. Two partial-aggregated passes (moments, then the max-dev
    fold with the 5-row moment frame broadcast back).
    """
    c = load(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    g = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )
    m = (
        c.join(F.broadcast(g), "event_type")
        .select(
            "event_type",
            F.abs(F.col("cents") * F.col("n") - F.col("s")).alias("dev"),
        )
        .groupBy("event_type")
        .agg(F.max("dev").alias("mdev"))
    )
    sd = F.col("s").cast("double")
    return g.join(m, "event_type").select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("mdev").cast("double") / F.col("n") / 100, 2).alias(
            "max_absdev"
        ),
        F.round(
            (F.col("mdev").cast("double") / F.col("n"))
            / F.sqrt(
                (F.col("ss") - sd * F.col("s") / F.col("n"))
                / (F.col("n") - 1)
            ),
            6,
        ).alias("g_stat"),
    )


@query(
    "stat_runs_test",
    """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS x
  FROM events GROUP BY 1
),
med AS (SELECT quantile_cont(x, 0.5) AS m FROM hourly),
signs AS (
  SELECT h, x > m.m AS up FROM hourly CROSS JOIN med m
  WHERE x <> m.m
),
seq AS (
  SELECT up, lag(up) OVER (ORDER BY h) AS prev FROM signs
),
agg AS (
  SELECT count(*) AS n,
    sum(CASE WHEN up THEN 1 ELSE 0 END) AS n1,
    sum(CASE WHEN up THEN 0 ELSE 1 END) AS n2,
    1 + sum(CASE WHEN prev IS NOT NULL AND up <> prev THEN 1 ELSE 0 END)
      AS runs
  FROM seq
)
SELECT
  CAST(n AS BIGINT) AS n_points,
  CAST(n1 AS BIGINT) AS n_above,
  CAST(n2 AS BIGINT) AS n_below,
  CAST(runs AS BIGINT) AS n_runs,
  round((runs - (2.0 * n1 * n2 / n + 1))
        / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
               / (CAST(n AS DOUBLE) * n * (n - 1))), 6) AS z_stat,
  abs(round((runs - (2.0 * n1 * n2 / n + 1))
        / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
               / (CAST(n AS DOUBLE) * n * (n - 1))), 6)) <= 1.96
    AS looks_random
FROM agg
""",
)
def stat_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of the hourly event
    volume: dichotomize each hour as above/below the series median
    (median-equal points dropped, standard practice), count sign runs,
    and z-score against the null E[R] = 2n₁n₂/n + 1 — too FEW runs
    means trending/clustered load (the regime ts_hurst_rs quantifies),
    too many means oscillation; |z| ≤ 1.96 passes. The nonparametric
    sequencing check beside stat_ks_test's distributional one.

    One partial-aggregated hour rollup (the only corpus pass), the
    exact median via the percentile engine, a lag window over the
    bounded hours frame, and closed-form integer arithmetic — the
    decision compares the ROUNDED z to the critical literal on both
    sides (the stat_jarque_bera discipline).
    """
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.select(F.date_trunc("hour", F.col("ts")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    med = exact_percentiles(
        hourly.select(F.lit(1).alias("g"), "x"), ["g"], "x", [(0.5, "m")]
    ).select("m")
    signs = (
        hourly.crossJoin(F.broadcast(med))
        .filter(F.col("x") != F.col("m"))
        .select("h", (F.col("x") > F.col("m")).alias("up"))
    )
    seq = signs.select(
        "up", F.lag("up").over(Window.orderBy("h")).alias("prev")
    )
    agg = seq.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("up"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("up"), 0).otherwise(1)).alias("n2"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("up") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        ).alias("runs"),
    )
    n, n1, n2, runs = (F.col(c) for c in ("n", "n1", "n2", "runs"))
    mu = 2.0 * n1 * n2 / n + 1
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
        / (n.cast("double") * n * (n - 1))
    )
    z = F.round((runs - mu) / F.sqrt(var), 6)
    return agg.select(
        n.cast("long").alias("n_points"),
        n1.cast("long").alias("n_above"),
        n2.cast("long").alias("n_below"),
        runs.cast("long").alias("n_runs"),
        z.alias("z_stat"),
        (F.abs(z) <= 1.96).alias("looks_random"),
    )


_PSI_DECILES = [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]


@query(
    "stat_psi_drift",
    """
WITH bounds AS (
  SELECT min(o_orderdate) AS lo, max(o_orderdate) AS hi FROM orders
),
tagged AS (
  SELECT o_totalprice AS x,
    epoch(o_orderdate) * 2 <= epoch(b.lo) + epoch(b.hi) AS early
  FROM orders CROSS JOIN bounds b
),
qs AS (
  SELECT quantile_cont(x, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS q
  FROM tagged WHERE early
),
binned AS (
  SELECT early,
    1 + len(list_filter(qs.q, b -> x > b)) AS bin
  FROM tagged CROSS JOIN qs
),
cnt AS (
  SELECT bin,
    sum(CASE WHEN early THEN 1 ELSE 0 END) AS n_ref,
    sum(CASE WHEN early THEN 0 ELSE 1 END) AS n_cur
  FROM binned GROUP BY 1
),
tot AS (
  SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM cnt
)
SELECT c.bin,
  CAST(c.n_ref AS BIGINT) AS n_ref,
  CAST(c.n_cur AS BIGINT) AS n_cur,
  round((CAST(c.n_cur AS DOUBLE) / t.tc)
        - (CAST(c.n_ref AS DOUBLE) / t.tr), 6) AS frac_delta,
  round(((CAST(c.n_cur AS DOUBLE) / t.tc)
         - (CAST(c.n_ref AS DOUBLE) / t.tr))
        * ln((CAST(c.n_cur AS DOUBLE) / t.tc)
             / (CAST(c.n_ref AS DOUBLE) / t.tr)), 6) AS psi_term
FROM cnt c CROSS JOIN tot t
ORDER BY c.bin
""",
)
def stat_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability index of order values, early half vs late
    half of the date range: decile boundaries fit on the EARLY
    (reference) period, both periods bucketed against them, and the
    per-bin PSI terms (Δp · ln ratio) whose sum is the headline PSI —
    the standard ML-ops drift monitor (PSI < 0.1 stable, > 0.25
    retrain) completing stat_ks_test (two fixed cohorts) with the
    train-vs-serve temporal framing.

    The period split is a pure row predicate on the COLLECTED (lo, hi)
    date bounds (2·epoch ≤ lo+hi — integer arithmetic, no double
    midpoint); decile boundaries come from the exact percentile engine
    on the reference half and are likewise collected — both frames are
    1-row driver-held scalars (the bounded-collect discipline), so the
    split predicate and the 9-literal bucketing fuse into the scans as
    plain literals instead of riding crossJoin-broadcast layers into
    all four passes; all counts integer, PSI terms exact-integer
    ratios behind 6dp rounds.
    """
    o = load(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    # date bounds from the parquet footer statistics (zero Spark jobs —
    # the same metadata predicate pushdown reads); Spark-agg fallback
    # when any row group lacks min/max stats
    bounds = column_minmax(sf_dir, "orders", "o_orderdate")
    if bounds is not None:
        from datetime import timezone

        thr = sum(
            int(b.replace(tzinfo=timezone.utc).timestamp())
            for b in bounds
        )
    else:
        thr = o.agg(
            (
                F.unix_timestamp(F.min("o_orderdate"))
                + F.unix_timestamp(F.max("o_orderdate"))
            ).alias("t")
        ).collect()[0]["t"]
    if thr is None:
        # Empty orders: min/max are NULL and the collected scalar is
        # None — degrade to an empty result frame (the lazy-plan
        # shape this had before the bounded-collect rewrite) instead
        # of raising TypeError at plan-build time.
        return local_frame(
            spark,
            [],
            "bin int, n_ref long, n_cur long, "
            "frac_delta double, psi_term double",
        )
    early = F.unix_timestamp("o_orderdate") * 2 <= F.lit(int(thr))
    tagged = o.select(F.col("o_totalprice").alias("x"), early.alias("early"))
    ref = tagged.filter("early").select(F.lit(1).alias("g"), "x")
    q_row = exact_percentiles(
        ref, ["g"], "x", [(p, f"q{i}") for i, p in enumerate(_PSI_DECILES)]
    ).collect()[0]
    q_arr = F.array(*[F.lit(float(q_row[f"q{i}"])) for i in range(9)])
    binned = tagged.select(
        "early",
        (
            1
            + F.size(F.filter(q_arr, lambda b: F.col("x") > b))
        ).alias("bin"),
    )
    cnt = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("early"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("early"), 0).otherwise(1)).alias("n_cur"),
    )
    # totals via a global window over the 10-row bin frame: one plan,
    # one consumer of the bucket scan — the former checkpoint + totals
    # agg + crossJoin triple (r7's 2.64 s tail, then an eager-
    # checkpoint job) is a single window function on ≤10 rows.
    w_all = Window.partitionBy()
    tr = F.sum("n_ref").over(w_all)
    tc = F.sum("n_cur").over(w_all)
    p_ref = F.col("n_ref").cast("double") / tr
    p_cur = F.col("n_cur").cast("double") / tc
    return (
        cnt
        .select(
            "bin",
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            F.round(p_cur - p_ref, 6).alias("frac_delta"),
            F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias(
                "psi_term"
            ),
        )
        .orderBy("bin")
    )


@query(
    "stat_kruskal_wallis",
    """
WITH pv AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS v, l_returnflag AS g,
         count(*) AS c
  FROM lineitem GROUP BY 1, 2
),
tv AS (SELECT v, sum(c) AS t FROM pv GROUP BY 1),
rk AS (
  SELECT v, t,
    2 * sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) - t + 1 AS arank2
  FROM tv
),
pg AS (
  SELECT pv.g, sum(pv.c) AS n_j, sum(pv.c * rk.arank2) AS s2_j
  FROM pv JOIN rk ON pv.v = rk.v GROUP BY 1
),
tot AS (SELECT sum(n_j) AS nt, count(*) AS k FROM pg),
tie AS (SELECT sum(t * t * t - t) AS tt FROM tv),
pg2 AS (
  SELECT g, n_j, s2_j, nt, k,
    (s2_j - n_j * (nt + 1)) / (2.0 * n_j) AS d
  FROM pg CROSS JOIN tot
),
gsum AS (SELECT sum(n_j * d * d) AS ssq FROM pg2)
SELECT pg2.g AS l_returnflag,
  CAST(pg2.n_j AS BIGINT) AS n_group,
  round(pg2.s2_j / (2.0 * pg2.n_j), 6) AS mean_rank,
  round(12.0 / (pg2.nt * (pg2.nt + 1)) * gsum.ssq, 6) AS h_stat,
  round(12.0 / (pg2.nt * (pg2.nt + 1)) * gsum.ssq
        / (1 - tie.tt / (CAST(pg2.nt AS DOUBLE) * pg2.nt * pg2.nt
                         - pg2.nt)), 6) AS h_corrected,
  CAST(pg2.k - 1 AS BIGINT) AS df,
  round(12.0 / (pg2.nt * (pg2.nt + 1)) * gsum.ssq
        / (1 - tie.tt / (CAST(pg2.nt AS DOUBLE) * pg2.nt * pg2.nt
                         - pg2.nt)), 6) > 5.991465 AS reject_5pct
FROM pg2 CROSS JOIN gsum CROSS JOIN tie
ORDER BY l_returnflag
""",
)
def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test: does the l_quantity distribution differ
    across the three return-flag populations? The k-sample
    generalization of stat_mannwhitney (k=2) and the nonparametric
    sibling of stat_anova_oneway, with the full tie correction
    C = 1 - SUM(t^3 - t)/(N^3 - N) -- mandatory here because quantity
    is a 50-value integer lattice, so EVERY observation is tied.

    Scale shape (the corr_spearman/mannwhitney two-phase discipline):
    ranks are never assigned to raw rows -- one partial-aggregatable
    groupBy collapses the stream to (value, group) counts, midranks
    derive from a running sum over the 50-row DISTINCT-value frame,
    and everything downstream is KB-sized. Numerical shape: H is
    computed in the CENTERED form 12/(N(N+1)) * SUM n_j*d_j^2 with
    d_j = (S2_j - n_j(N+1)) / (2 n_j) where S2_j = SUM c*arank2 is an
    exact integer rank-sum double -- the textbook SUM R_j^2/n_j form
    cancels two ~3(N+1)-sized terms and its summation-order noise
    (~1e-4 at sf0.1) could flip the 6dp rounding, while the centered
    numerator is exact integer arithmetic and the residual float work
    is O(H) magnitude. chi2(2) 95% critical compared against the
    ROUNDED statistic (the jarque_bera discipline). At ~2e9 rows the
    long rank-sums approach 2^63; the 100 TB path switches S2_j to
    decimal(38,0) -- same plan, wider lattice.
    """
    li = load(spark, sf_dir, "lineitem")
    # localCheckpoint: pv (<=150 rows) feeds four consumers (tv, pg,
    # tot, tie) and Spark re-derives common subtrees per consumer --
    # without the checkpoint the full lineitem scan+shuffle runs ~5x
    # (measured 5.0 s -> 0.6 s at sf0.1)
    pv = (
        li.groupBy(
            F.round(F.col("l_quantity")).cast("long").alias("v"),
            F.col("l_returnflag").alias("g"),
        ).agg(F.count(F.lit(1)).alias("c"))
    ).localCheckpoint()
    # tv is a ≤50-row rollup of the already-checkpointed pv — deriving
    # it per consumer is one tiny stage; its former EAGER checkpoint
    # cost a full extra action (r12).
    tv = pv.groupBy("v").agg(F.sum("c").alias("t"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    rk = tv.select(
        "v",
        "t",
        (2 * F.sum("t").over(w) - F.col("t") + 1).alias("arank2"),
    )
    pg = (
        pv.join(rk.select("v", "arank2"), "v")
        .groupBy("g")
        .agg(
            F.sum("c").alias("n_j"),
            F.sum(F.col("c") * F.col("arank2")).alias("s2_j"),
        )
    )
    wg = Window.partitionBy()
    # t³ overflows long once per-value tie counts pass ~2M (hit at the
    # 64× probe: t ≈ 768k ⇒ Σt³ ≈ 2.3e19 > 2^63). Route the cube
    # through DECIMAL — cast t BEFORE the first multiply, because even
    # t*t alone overflows BIGINT past t ≈ 3.04e9 (a 100 TB lattice value
    # holds ~1.2e10 rows). DuckDB's HUGEINT sums are exact natively, and
    # both engines then round the same exact integer to double at the
    # single division in the tie correction.
    # decimal(13,0) (ADVICE r8): the 12,0 cast itself overflowed first
    # (t > 1e12 → ANSI error / silent NULL dropping the tie term). At
    # 13,0 the cast survives to 1e13 and the cube chain (13·13 → p27,
    # 27·13+1 caps at p38 scale 0) stays EXACT for t up to ~4.6e12 —
    # past that Spark 4's ANSI mode fails LOUDLY instead of silently.
    t_dec = F.col("t").cast("decimal(13,0)")
    tie = tv.agg(
        F.sum(t_dec * t_dec * t_dec - t_dec).alias("tt")
    )
    # tot and glob ride GLOBAL windows over the ≤3-row pg frame instead
    # of two broadcast-build jobs (r12); tie stays the one broadcast
    # (it aggregates the sibling tv grain, not pg).
    pg2 = pg.withColumn("nt", F.sum("n_j").over(wg)).withColumn(
        "k", F.count(F.lit(1)).over(wg)
    ).withColumn(
        "d",
        (F.col("s2_j") - F.col("n_j") * (F.col("nt") + 1))
        / (2.0 * F.col("n_j")),
    )
    res = pg2.withColumn(
        "ssq", F.sum(F.col("n_j") * F.col("d") * F.col("d")).over(wg)
    ).crossJoin(F.broadcast(tie))
    nt = F.col("nt")
    h = 12.0 / (nt * (nt + 1)) * F.col("ssq")
    hc = h / (
        1
        - F.col("tt").cast("double") / (nt.cast("double") * nt * nt - nt)
    )
    return res.select(
        F.col("g").alias("l_returnflag"),
        F.col("n_j").cast("long").alias("n_group"),
        F.round(F.col("s2_j") / (2.0 * F.col("n_j")), 6).alias("mean_rank"),
        F.round(h, 6).alias("h_stat"),
        F.round(hc, 6).alias("h_corrected"),
        (F.col("k") - 1).cast("long").alias("df"),
        (F.round(hc, 6) > F.lit(5.991465)).alias("reject_5pct"),
    ).orderBy("l_returnflag")


@query(
    "stat_kendall_tau",
    """
WITH s AS (
  SELECT l_orderkey * 10 + l_linenumber AS pk,
    CAST(round(l_quantity) AS BIGINT) AS x,
    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem WHERE l_orderkey <= 400
),
p AS (
  SELECT sign(b.x - a.x) AS dx, sign(b.y - a.y) AS dy
  FROM s a JOIN s b ON a.pk < b.pk
),
g AS (
  SELECT count(*) AS n0,
    sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS nc,
    sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS nd,
    sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS tx,
    sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS ty
  FROM p
),
n AS (SELECT count(*) AS ns FROM s)
SELECT CAST(n.ns AS BIGINT) AS n_sample,
  CAST(g.n0 AS BIGINT) AS n_pairs,
  CAST(g.nc AS BIGINT) AS n_concordant,
  CAST(g.nd AS BIGINT) AS n_discordant,
  CAST(g.tx AS BIGINT) AS n_ties_x,
  CAST(g.ty AS BIGINT) AS n_ties_y,
  round((g.nc - g.nd)
        / sqrt(CAST(g.n0 - g.tx AS DOUBLE) * (g.n0 - g.ty)), 6) AS tau_b
FROM g CROSS JOIN n
""",
)
def stat_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between quantity and extended
    price, by exact pair counting on a bounded key-range sample -- the
    robust ordinal-association measure beside corr_spearman (which IS
    the full-scale monotone-correlation path: Spearman's value-grain
    rank algebra scales, Kendall's pair enumeration cannot). tau-b
    applies the tie adjustment in both margins -- required here since
    quantity is a 50-value lattice (every x is tied many times).

    Pinned-sample discipline (dedup_near_exact): l_orderkey <= 400
    selects ~1.6k lineitems at EVERY scale factor (keys are dense from
    0), so the all-pairs stage is ~1.3M comparisons regardless of SF
    -- O(sample^2) by definition of the op, never data-sized. The
    self-join broadcasts the right side and the pair kernel is pure
    codegen (sign/sum, no UDF). Integer lattices on both axes (exact
    cents, rounded quantity) make every sign() exact, so nc/nd/ties
    are integers and the only float op is the final normalization.
    """
    li = load(spark, sf_dir, "lineitem")
    s = li.filter(F.col("l_orderkey") <= 400).select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("pk"),
        F.round(F.col("l_quantity")).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    # single parquet file -> 1 input partition; a broadcast nested-loop
    # join keeps its left side's partitioning, so without this the
    # ~1.3M-pair sign/sum stage would run as one task on one core
    s = s.repartition(16)
    a, b = s.alias("a"), s.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.pk") < F.col("b.pk")
    ).select(
        F.signum(F.col("b.x") - F.col("a.x")).alias("dx"),
        F.signum(F.col("b.y") - F.col("a.y")).alias("dy"),
    )
    g = pairs.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(
            F.when(F.col("dx") * F.col("dy") > 0, 1).otherwise(0)
        ).alias("nc"),
        F.sum(
            F.when(F.col("dx") * F.col("dy") < 0, 1).otherwise(0)
        ).alias("nd"),
        F.sum(F.when(F.col("dx") == 0, 1).otherwise(0)).alias("tx"),
        F.sum(F.when(F.col("dy") == 0, 1).otherwise(0)).alias("ty"),
    )
    n = s.agg(F.count(F.lit(1)).alias("ns"))
    tau = (F.col("nc") - F.col("nd")) / F.sqrt(
        (F.col("n0") - F.col("tx")).cast("double")
        * (F.col("n0") - F.col("ty"))
    )
    return g.crossJoin(F.broadcast(n)).select(
        F.col("ns").cast("long").alias("n_sample"),
        F.col("n0").cast("long").alias("n_pairs"),
        F.col("nc").cast("long").alias("n_concordant"),
        F.col("nd").cast("long").alias("n_discordant"),
        F.col("tx").cast("long").alias("n_ties_x"),
        F.col("ty").cast("long").alias("n_ties_y"),
        F.round(tau, 6).alias("tau_b"),
    )


# Abramowitz & Stegun 26.2.17 normal-CDF constants -- the SAME literal
# polynomial on both engines (neither Spark SQL nor DuckDB ships erf),
# so cross-engine agreement is by construction, not by libm luck.
_AD_T = 0.2316419
_AD_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_AD_SQRT_2PI = 2.5066282746310002


@query(
    "stat_anderson_darling",
    f"""
WITH s AS (
  SELECT o_orderkey AS pk, ln(o_totalprice) AS x
  FROM orders WHERE o_orderkey < 1500
),
m AS (
  SELECT count(*) AS n, round(sum(x) / count(*), 6) AS mean_r,
    round(sqrt((sum(x * x) - sum(x) * sum(x) / count(*))
               / (count(*) - 1)), 6) AS sd_r
  FROM s
),
z AS (
  SELECT row_number() OVER (ORDER BY s.x, s.pk) AS i, m.n,
    m.mean_r, m.sd_r, (s.x - m.mean_r) / m.sd_r AS z
  FROM s CROSS JOIN m
),
c AS (
  SELECT i, n, mean_r, sd_r, z,
    CASE WHEN z >= 0
      THEN 1 - exp(-z * z / 2) / {_AD_SQRT_2PI}
           * ((1 / (1 + {_AD_T} * abs(z)))
              * ({_AD_B[0]} + (1 / (1 + {_AD_T} * abs(z)))
                * ({_AD_B[1]} + (1 / (1 + {_AD_T} * abs(z)))
                  * ({_AD_B[2]} + (1 / (1 + {_AD_T} * abs(z)))
                    * ({_AD_B[3]} + (1 / (1 + {_AD_T} * abs(z)))
                      * {_AD_B[4]})))))
      ELSE exp(-z * z / 2) / {_AD_SQRT_2PI}
           * ((1 / (1 + {_AD_T} * abs(z)))
              * ({_AD_B[0]} + (1 / (1 + {_AD_T} * abs(z)))
                * ({_AD_B[1]} + (1 / (1 + {_AD_T} * abs(z)))
                  * ({_AD_B[2]} + (1 / (1 + {_AD_T} * abs(z)))
                    * ({_AD_B[3]} + (1 / (1 + {_AD_T} * abs(z)))
                      * {_AD_B[4]})))))
    END AS cdf
  FROM z
),
g AS (
  SELECT max(n) AS n, max(mean_r) AS mean_r, max(sd_r) AS sd_r,
    sum((2 * i - 1) * ln(cdf)
        + (2 * (n - i) + 1) * ln(1 - cdf)) AS s_term
  FROM c
)
SELECT CAST(n AS BIGINT) AS n_sample,
  mean_r AS log_mean, sd_r AS log_sd,
  round(-n - s_term / n, 6) AS a2_stat,
  round((-n - s_term / n)
        * (1 + 0.75 / n + 2.25 / (n * n)), 6) AS a2_star,
  round((-n - s_term / n)
        * (1 + 0.75 / n + 2.25 / (n * n)), 6) > 0.787 AS reject_5pct
FROM g
""",
)
def stat_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling normality test of log order value on a bounded
    key-range sample -- the tail-weighted EDF test beside stat_ks_test
    (AD's 1/[F(1-F)] weight makes it the sensitive choice for the
    tail departures revenue data actually has) and the order-statistic
    complement of moment-based stat_jarque_bera. A*2 applies the
    Stephens small-sample factor and compares against 0.787, the 5%
    critical value for the both-parameters-estimated case.

    Pinned-sample discipline (dedup_near_exact): o_orderkey < 1500 is
    exactly 1.5k orders at EVERY scale factor, so the one total-order
    window (row_number for the order statistics) runs on a bounded
    single-partition frame by construction -- never a data-sized sort.
    Engine-parity shape: mean/sd are ROUNDED at 6dp before z-scoring,
    so both engines standardize against the identical lattice and the
    remaining drift is ulp-level libm noise that 6dp absorbs (~1e-9
    measured bound); the normal CDF is the SAME A&S 26.2.17 polynomial
    literal on both sides -- no erf in either engine -- and the
    rejection decision derives from the rounded statistic (the
    jarque_bera discipline).
    """
    o = load(spark, sf_dir, "orders")
    s = o.filter(F.col("o_orderkey") < 1500).select(
        F.col("o_orderkey").alias("pk"),
        F.log(F.col("o_totalprice")).alias("x"),
    )
    x = F.col("x")
    m = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(x) / F.count(F.lit(1)), 6).alias("mean_r"),
        F.round(
            F.sqrt(
                (F.sum(x * x) - F.sum(x) * F.sum(x) / F.count(F.lit(1)))
                / (F.count(F.lit(1)) - 1)
            ),
            6,
        ).alias("sd_r"),
    )
    z_df = s.crossJoin(F.broadcast(m)).select(
        "pk",
        "n",
        "mean_r",
        "sd_r",
        ((F.col("x") - F.col("mean_r")) / F.col("sd_r")).alias("z"),
        F.col("x").alias("x"),
    )
    # bounded 1.5k-row frame: the global row_number window is a
    # single-partition sort by construction (pinned sample), not a
    # data-sized total order
    i = F.row_number().over(Window.orderBy("x", "pk"))
    z = F.col("z")
    t = 1 / (1 + _AD_T * F.abs(z))
    poly = t * (
        _AD_B[0]
        + t * (_AD_B[1] + t * (_AD_B[2] + t * (_AD_B[3] + t * _AD_B[4])))
    )
    tail = F.exp(-z * z / 2) / _AD_SQRT_2PI * poly
    cdf = F.when(z >= 0, 1 - tail).otherwise(tail)
    c = z_df.select(
        "n", "mean_r", "sd_r", i.alias("i"), cdf.alias("cdf")
    )
    g = c.agg(
        F.max("n").alias("n"),
        F.max("mean_r").alias("mean_r"),
        F.max("sd_r").alias("sd_r"),
        F.sum(
            (2 * F.col("i") - 1) * F.log(F.col("cdf"))
            + (2 * (F.col("n") - F.col("i")) + 1)
            * F.log(1 - F.col("cdf"))
        ).alias("s_term"),
    )
    n = F.col("n")
    a2 = -n - F.col("s_term") / n
    a2s = a2 * (1 + 0.75 / n + 2.25 / (n * n))
    return g.select(
        n.cast("long").alias("n_sample"),
        F.col("mean_r").alias("log_mean"),
        F.col("sd_r").alias("log_sd"),
        F.round(a2, 6).alias("a2_stat"),
        F.round(a2s, 6).alias("a2_star"),
        (F.round(a2s, 6) > F.lit(0.787)).alias("reject_5pct"),
    )


# SPRT design: H0 p=0.10 vs H1 p=0.15 on the high-value purchase rate
# (fixture base rate ~0.12-0.13, so the monitor genuinely walks), with
# alpha = beta = 0.05 Wald boundaries ln(19) / -ln(19).
_SPRT_P0 = 0.10
_SPRT_P1 = 0.15
_SPRT_BOUND = 2.9444389791664403  # ln((1-beta)/alpha) = ln(19)
_SPRT_LW = 0.4054651081081645  # ln(p1/p0) = ln(1.5)
_SPRT_LL = -0.05715841383994835  # ln((1-p1)/(1-p0)) = ln(0.85/0.90)


@query(
    "stat_sprt_monitor",
    f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
    count(*) AS n,
    sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS k
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
),
c AS (
  SELECT day, n, k,
    sum(n) OVER w AS cn, sum(k) OVER w AS ck
  FROM d
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT day,
  CAST(cn AS BIGINT) AS n_trials,
  CAST(ck AS BIGINT) AS n_success,
  round(CAST(ck AS DOUBLE) * {_SPRT_LW} + CAST(cn - ck AS DOUBLE) * {_SPRT_LL}, 6) AS llr,
  CASE
    WHEN round(CAST(ck AS DOUBLE) * {_SPRT_LW} + CAST(cn - ck AS DOUBLE) * {_SPRT_LL}, 6)
         >= {_SPRT_BOUND} THEN 'accept_h1'
    WHEN round(CAST(ck AS DOUBLE) * {_SPRT_LW} + CAST(cn - ck AS DOUBLE) * {_SPRT_LL}, 6)
         <= -{_SPRT_BOUND} THEN 'accept_h0'
    ELSE 'continue'
  END AS decision
FROM c
ORDER BY day
""",
)
def stat_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential probability-ratio test monitoring the
    high-value purchase rate day by day: H0 p=0.10 vs H1 p=0.15,
    alpha = beta = 0.05 — the always-valid sequential companion to
    stat_abtest_ztest's fixed-horizon decision (peek every day WITHOUT
    inflating the error rate; the fixture base rate ~0.12 sits between
    the hypotheses, so the walk genuinely wanders before crossing).
    LLR_t = K_t·ln(p1/p0) + (N_t−K_t)·ln((1−p1)/(1−p0)) against the
    ±ln(19) Wald boundaries.

    Scale shape: one partial-aggregatable day rollup is the only
    full-data pass; the cumulative walk runs on the bounded ~30-row
    day frame (ordered window — deterministic summation). All counts
    integer; the LLR is two exact-literal multiplies, and the decision
    compares the ROUNDED statistic (the jarque_bera discipline) so
    boundary days can't flip on float noise.
    """
    ev = load(spark, sf_dir, "events")
    d = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("value") > 100, 1).otherwise(0)).alias(
                "k"
            ),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "day",
        F.sum("n").over(w).alias("cn"),
        F.sum("k").over(w).alias("ck"),
    )
    llr = F.round(
        F.col("ck") * _SPRT_LW + (F.col("cn") - F.col("ck")) * _SPRT_LL, 6
    )
    return c.select(
        "day",
        F.col("cn").cast("long").alias("n_trials"),
        F.col("ck").cast("long").alias("n_success"),
        llr.alias("llr"),
        F.when(llr >= _SPRT_BOUND, "accept_h1")
        .when(llr <= -_SPRT_BOUND, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    ).orderBy("day")


@query(
    "stat_cochran_armitage",
    """
WITH g AS (
  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS w,
    count(*) AS n,
    sum(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS k
  FROM orders GROUP BY 1
),
t AS (
  SELECT sum(n) AS nt, sum(k) AS kt, count(*) AS ng,
    sum(w * k) AS swk, sum(w * n) AS swn, sum(w * w * n) AS swwn
  FROM g
)
SELECT CAST(ng AS BIGINT) AS n_groups,
  CAST(nt AS BIGINT) AS n_total,
  CAST(kt AS BIGINT) AS n_success,
  round(kt / CAST(nt AS DOUBLE), 6) AS pooled_rate,
  round(
    (swk - (kt / CAST(nt AS DOUBLE)) * swn)
    / sqrt((kt / CAST(nt AS DOUBLE)) * (1 - kt / CAST(nt AS DOUBLE))
           * (swwn - CAST(swn AS DOUBLE) * swn / nt)), 6) AS ca_z,
  abs(round(
    (swk - (kt / CAST(nt AS DOUBLE)) * swn)
    / sqrt((kt / CAST(nt AS DOUBLE)) * (1 - kt / CAST(nt AS DOUBLE))
           * (swwn - CAST(swn AS DOUBLE) * swn / nt)), 6))
    > 1.959964 AS reject_5pct
FROM t
""",
)
def stat_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does the high-value rate move
    MONOTONICALLY with order priority (scores 1..5 parsed from the
    priority label)? The ordered-groups upgrade of
    stat_chi2_independence — chi-square asks "any difference?", CA
    asks "a trend in the stated direction?", which is one df instead
    of k−1 and therefore the more powerful question when the factor is
    ordinal. z = Σw(k − n·p̄) / √(p̄(1−p̄)(Σw²n − (Σwn)²/N)), the
    fixture's balanced ~0.60 rates give an honestly non-significant
    walk.

    One partial-aggregatable groupBy to the 5-row priority grain is
    the only full-data pass; every sum (Σwk, Σwn, Σw²n) is exact
    integer until the final closed form, and the rejection compares
    the ROUNDED |z| (the jarque_bera discipline).
    """
    o = load(spark, sf_dir, "orders")
    g = (
        o.groupBy(
            F.substring("o_orderpriority", 1, 1)
            .cast("long")
            .alias("w")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("o_totalprice") > 200000, 1).otherwise(0)
            ).alias("k"),
        )
    )
    t = g.agg(
        F.sum("n").alias("nt"),
        F.sum("k").alias("kt"),
        F.count(F.lit(1)).alias("ng"),
        F.sum(F.col("w") * F.col("k")).alias("swk"),
        F.sum(F.col("w") * F.col("n")).alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("n")).alias("swwn"),
    )
    p = F.col("kt") / F.col("nt").cast("double")
    z = (F.col("swk") - p * F.col("swn")) / F.sqrt(
        p
        * (1 - p)
        * (
            F.col("swwn")
            - F.col("swn").cast("double") * F.col("swn") / F.col("nt")
        )
    )
    return t.select(
        F.col("ng").cast("long").alias("n_groups"),
        F.col("nt").cast("long").alias("n_total"),
        F.col("kt").cast("long").alias("n_success"),
        F.round(p, 6).alias("pooled_rate"),
        F.round(z, 6).alias("ca_z"),
        (F.abs(F.round(z, 6)) > F.lit(1.959964)).alias("reject_5pct"),
    )


_BH_ALPHA = 0.1


def _phi_tail_sql(absz: str) -> str:
    """Upper-tail normal probability 1-Φ(|z|) as SQL — the same A&S
    26.2.17 polynomial stat_anderson_darling inlines, shared
    textually so both engines evaluate the identical expression."""
    t = f"(1 / (1 + {_AD_T} * {absz}))"
    poly = (
        f"({t} * ({_AD_B[0]} + {t} * ({_AD_B[1]} + {t} * ({_AD_B[2]}"
        f" + {t} * ({_AD_B[3]} + {t} * {_AD_B[4]})))))"
    )
    return f"(exp(-({absz}) * ({absz}) / 2) / {_AD_SQRT_2PI} * {poly})"


@query(
    "stat_bh_fdr",
    f"""
WITH o AS (
  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
    o.o_totalprice AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
gstat AS (
  SELECT avg(x) AS mu, stddev_pop(x) AS sigma FROM o
),
cells AS (
  SELECT seg, pri, count(*) AS n, avg(x) AS m
  FROM o GROUP BY 1, 2
),
z AS (
  SELECT seg, pri, n, m,
    round((m - g.mu) / (g.sigma / sqrt(n)), 6) AS z
  FROM cells CROSS JOIN gstat g
),
p AS (
  SELECT seg, pri, n, m, z,
    round(2 * {_phi_tail_sql('abs(z)')}, 8) AS p
  FROM z
),
rk AS (
  SELECT seg, pri, n, m, z, p,
    row_number() OVER (ORDER BY p, seg, pri) AS r,
    count(*) OVER () AS mh
  FROM p
),
st AS (
  SELECT *,
    round(r * {_BH_ALPHA} / mh, 8) AS bh_crit,
    max(CASE WHEN p <= r * {_BH_ALPHA} / mh THEN r ELSE 0 END)
      OVER () AS istar
  FROM rk
)
SELECT seg AS segment, pri AS priority,
  CAST(n AS BIGINT) AS n_orders,
  round(m, 2) AS cell_mean,
  z AS z_stat, p AS p_value,
  CAST(r AS BIGINT) AS p_rank,
  bh_crit,
  r <= istar AS significant
FROM st
ORDER BY p_rank
""",
)
def stat_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over the 25 (segment, priority)
    mean-order-value hypotheses: each cell z-tested against the global
    mean, two-sided p from the shared A&S normal-CDF polynomial, then
    the BH step-up rule (largest rank i with p_(i) <= i·α/m; everything
    at or below is discovered) at α=0.1 — the multiple-testing
    correction stat_pairwise_ttest_bonferroni's docstring promises a
    less conservative sibling for: Bonferroni divides α by m
    regardless, BH adapts to how many signals exist.

    Scale shape: one broadcast dim join + one partial-aggregatable
    groupBy to the 25-cell grain; global μ/σ ride a 1-row broadcast;
    every window (rank, m, step-up max) runs on the bounded 25-row
    frame. Engine parity: z is ROUNDED before the CDF so both engines
    evaluate the polynomial on an identical lattice, p is rounded
    before ranking, and ranks tie-break on (segment, priority).
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    base = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("x"),
    )
    glob = base.agg(
        F.avg("x").alias("mu"), F.stddev_pop("x").alias("sigma")
    )
    cells = base.groupBy("seg", "pri").agg(
        F.count(F.lit(1)).alias("n"), F.avg("x").alias("m")
    )
    z = cells.crossJoin(F.broadcast(glob)).select(
        "seg",
        "pri",
        "n",
        "m",
        F.round(
            (F.col("m") - F.col("mu"))
            / (F.col("sigma") / F.sqrt(F.col("n"))),
            6,
        ).alias("z"),
    )
    az = F.abs(F.col("z"))
    t = 1 / (1 + _AD_T * az)
    poly = t * (
        _AD_B[0]
        + t * (_AD_B[1] + t * (_AD_B[2] + t * (_AD_B[3] + t * _AD_B[4])))
    )
    tail = F.exp(-az * az / 2) / _AD_SQRT_2PI * poly
    p = z.withColumn("p", F.round(2 * tail, 8))
    wr = Window.orderBy("p", "seg", "pri")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rk = p.select(
        "seg",
        "pri",
        "n",
        "m",
        "z",
        "p",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wall).alias("mh"),
    )
    crit = F.col("r") * _BH_ALPHA / F.col("mh")
    st = rk.select(
        "seg",
        "pri",
        "n",
        "m",
        "z",
        "p",
        "r",
        F.round(crit, 8).alias("bh_crit"),
        F.max(
            F.when(F.col("p") <= crit, F.col("r")).otherwise(0)
        )
        .over(wall)
        .alias("istar"),
    )
    return st.select(
        F.col("seg").alias("segment"),
        F.col("pri").alias("priority"),
        F.col("n").cast("long").alias("n_orders"),
        F.round(F.col("m"), 2).alias("cell_mean"),
        F.col("z").alias("z_stat"),
        F.col("p").alias("p_value"),
        F.col("r").cast("long").alias("p_rank"),
        "bh_crit",
        (F.col("r") <= F.col("istar")).alias("significant"),
    ).orderBy("p_rank")


_BOOT_B = 32  # bootstrap replicates (2 md5 digests x 16 byte slices)
# byte-lattice Poisson(1) ladder: thresholds round the Poisson CDF
# (.3679/.7358/.9197/.9810/.9963) onto the 256-value byte grid, so the
# replicate weights are a pure function of md5(orderkey#d) — the
# deterministic "online bootstrap" (Poisson resampling) every
# distributed bootstrap uses, here made engine-reproducible.
_BOOT_THRESH = (94, 188, 235, 251, 255)


def _boot_weights_sql(key: str) -> str:
    """32-element weight array for one row: byte i of digest d =
    md5(key || '#d') runs the Poisson ladder; identical text feeds
    Spark's array() and (after s/array/list_value/) DuckDB."""
    hexd = "'0123456789abcdef'"
    parts = []
    for d in range(2):
        dig = f"md5(concat({key}, '#{d}'))"
        for i in range(16):
            byte = (
                f"((instr({hexd}, substring({dig}, {2 * i + 1}, 1)) - 1)"
                f" * 16"
                f" + instr({hexd}, substring({dig}, {2 * i + 2}, 1)) - 1)"
            )
            t0, t1, t2, t3, t4 = _BOOT_THRESH
            parts.append(
                f"(CASE WHEN {byte} < {t0} THEN 0"
                f" WHEN {byte} < {t1} THEN 1"
                f" WHEN {byte} < {t2} THEN 2"
                f" WHEN {byte} < {t3} THEN 3"
                f" WHEN {byte} < {t4} THEN 4 ELSE 5 END)"
            )
    return "array(" + ", ".join(parts) + ")"


@query(
    "stat_bootstrap_ci",
    f"""
WITH w AS (
  SELECT o_totalprice AS x,
    {_boot_weights_sql('CAST(o_orderkey AS VARCHAR)').replace(
        'array(', 'list_value(', 1)} AS arr
  FROM orders
),
e AS (
  SELECT r.b AS b, sum(arr[r.b + 1] * x) AS sx, sum(arr[r.b + 1]) AS sw
  FROM w CROSS JOIN range(0, {_BOOT_B}) r(b)
  GROUP BY 1
),
m AS (
  SELECT b, round(sx / sw, 6) AS bm FROM e
),
rk AS (
  SELECT bm, row_number() OVER (ORDER BY bm, b) AS rn FROM m
),
ci AS (
  SELECT
    max(CASE WHEN rn = 1 THEN bm END) AS v1,
    max(CASE WHEN rn = 2 THEN bm END) AS v2,
    max(CASE WHEN rn = {_BOOT_B - 1} THEN bm END) AS v31,
    max(CASE WHEN rn = {_BOOT_B} THEN bm END) AS v32,
    count(*) AS nb
  FROM rk
),
g AS (SELECT count(*) AS n, avg(o_totalprice) AS mean FROM orders)
SELECT CAST(g.n AS BIGINT) AS n_rows,
  CAST(ci.nb AS BIGINT) AS n_replicates,
  round(g.mean, 2) AS mean,
  round(ci.v1 + 0.775 * (ci.v2 - ci.v1), 2) AS ci_lo,
  round(ci.v31 + 0.225 * (ci.v32 - ci.v31), 2) AS ci_hi
FROM g CROSS JOIN ci
""",
)
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed deterministic bootstrap CI for the mean order
    value: {_BOOT_B} Poisson-resampling replicates whose per-row
    weights are a pure function of md5(orderkey) byte slices — the
    "online bootstrap" (Poisson(1) weights instead of multinomial
    draws) that actually scales, because each replicate is one
    weighted partial-aggregatable mean over the SAME single scan, no
    resampled copies of the data ever materialize, and determinism is
    by construction (the sample_hash_pct discipline applied to
    resampling). The 95% interval interpolates the replicate-mean
    order statistics at the quantile_cont positions for B={_BOOT_B}
    (h = (B-1)p + 1 → ranks 1/2 and 31/32 with the 0.775/0.225
    fractions as literals).

    One projection computes the 32-weight array per row (2 md5 calls,
    byte-lattice Poisson ladder — mean weight 257/256, the documented
    grid bias); a broadcast 32-row grid explodes replicates map-side;
    the only shuffle is the 32-group weighted-mean aggregate. Replicate
    means are ROUNDED before ranking (engine-stable order statistics).
    """
    o = load(spark, sf_dir, "orders")
    # width from row-group metadata (planned splits overcount: the 64×
    # orders file plans 32 splits over 10 row groups and delivers 10
    # working tasks); want=cores — 2 md5 calls + a 32-weight ladder
    # per row dwarf a 2-column shuffle write (24.6 s vs 37.3 s at 64×
    # when left 10-wide).
    w = widen_if_starved(
        spark,
        o.select("o_orderkey", "o_totalprice"),
        width=scan_width(sf_dir, "orders"),
        want=spark.sparkContext.defaultParallelism,
    ).select(
        F.col("o_totalprice").alias("x"),
        F.expr(
            _boot_weights_sql("cast(o_orderkey as string)")
        ).alias("arr"),
    )
    # WIDE one-pass aggregation (the stat_permutation_test rewrite):
    # the grid explode multiplies the scan 32x; 64 aggregates over the
    # weight array in one map-side pass + a 32-branch stack produce
    # the identical (sx, sw) pairs without ever materializing
    # replicate rows. The headline n/mean ride the SAME aggregate (the
    # former separate orders scan + crossJoin is gone), and the
    # md5-ladder spread is gated on actual scan starvation
    # (widen_if_starved) instead of an unconditional repartition.
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("mean"),
    ]
    for b in range(_BOOT_B):
        wb = F.expr(f"element_at(arr, {b + 1})")
        aggs.append(F.sum(wb * F.col("x")).alias(f"sx{b}"))
        aggs.append(F.sum(wb).alias(f"sw{b}"))
    wide = w.agg(*aggs)
    stack = ", ".join(
        f"{b}, sx{b}, CAST(sw{b} AS DOUBLE)" for b in range(_BOOT_B)
    )
    e = wide.select(
        "n",
        "mean",
        F.expr(f"stack({_BOOT_B}, {stack}) AS (b, sx, sw)"),
    )
    m = e.select(
        "n", "mean", "b", F.round(F.col("sx") / F.col("sw"), 6).alias("bm")
    )
    rk = m.select(
        "n",
        "mean",
        "bm",
        F.row_number()
        .over(Window.orderBy("bm", "b"))
        .alias("rn"),
    )
    ci = rk.agg(
        F.max(F.when(F.col("rn") == 1, F.col("bm"))).alias("v1"),
        F.max(F.when(F.col("rn") == 2, F.col("bm"))).alias("v2"),
        F.max(F.when(F.col("rn") == _BOOT_B - 1, F.col("bm"))).alias(
            "v31"
        ),
        F.max(F.when(F.col("rn") == _BOOT_B, F.col("bm"))).alias("v32"),
        F.count(F.lit(1)).alias("nb"),
        F.max("n").alias("n"),
        F.max("mean").alias("mean"),
    )
    return (
        ci
        .select(
            F.col("n").cast("long").alias("n_rows"),
            F.col("nb").cast("long").alias("n_replicates"),
            F.round(F.col("mean"), 2).alias("mean"),
            F.round(
                F.col("v1") + 0.775 * (F.col("v2") - F.col("v1")), 2
            ).alias("ci_lo"),
            F.round(
                F.col("v31") + 0.225 * (F.col("v32") - F.col("v31")), 2
            ).alias("ci_hi"),
        )
    )


@query(
    "stat_cohens_d",
    """
WITH s AS (
  SELECT
    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_a,
    count(CASE WHEN event_type = 'click' THEN 1 END) AS n_b,
    avg(CASE WHEN event_type = 'purchase' THEN value END) AS m_a,
    avg(CASE WHEN event_type = 'click' THEN value END) AS m_b,
    var_samp(CASE WHEN event_type = 'purchase' THEN value END) AS v_a,
    var_samp(CASE WHEN event_type = 'click' THEN value END) AS v_b
  FROM events
  WHERE event_type IN ('purchase', 'click')
),
d AS (
  SELECT n_a, n_b, m_a, m_b,
    round((m_a - m_b)
      / sqrt(((n_a - 1) * v_a + (n_b - 1) * v_b) / (n_a + n_b - 2)),
      6) AS cohens_d
  FROM s
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  round(m_a, 4) AS mean_a, round(m_b, 4) AS mean_b, cohens_d,
  round(cohens_d * (1 - 3.0 / (4 * (n_a + n_b) - 9)), 6) AS hedges_g,
  CASE WHEN abs(cohens_d) < 0.2 THEN 'negligible'
       WHEN abs(cohens_d) < 0.5 THEN 'small'
       WHEN abs(cohens_d) < 0.8 THEN 'medium' ELSE 'large' END
    AS magnitude
FROM d
""",
)
def stat_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect size (Cohen's d, pooled SD) between purchase
    and click values, with the Hedges' g small-sample correction and the
    conventional magnitude bucket — the companion number stat_welch_ttest
    cannot provide: a t statistic says whether the difference is
    detectable at this n, the effect size says whether it is LARGE, and
    at 100 TB every difference is "significant" while almost none are
    large, which is exactly why a pipeline-scale experiment readout
    leads with d, not p.

    Same scale shape as the test it complements: ONE conditional-moment
    pass over the fact table (count/avg/var_samp per arm in a single
    partial-aggregatable scan), then closed-form scalar arithmetic on the
    1-row frame. Hedges' g and the magnitude bucket derive from the
    ROUNDED d (the stat_jarque_bera discipline), so the discrete label
    can never flip on an ulp.
    """
    ev = load(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("purchase", "click")).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_a"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_b"),
        F.avg(F.when(F.col("event_type") == "purchase", F.col("value"))).alias("m_a"),
        F.avg(F.when(F.col("event_type") == "click", F.col("value"))).alias("m_b"),
        F.var_samp(F.when(F.col("event_type") == "purchase", F.col("value"))).alias("v_a"),
        F.var_samp(F.when(F.col("event_type") == "click", F.col("value"))).alias("v_b"),
    )
    pooled = F.sqrt(
        ((F.col("n_a") - 1) * F.col("v_a") + (F.col("n_b") - 1) * F.col("v_b"))
        / (F.col("n_a") + F.col("n_b") - 2)
    )
    d = s.select(
        "n_a", "n_b", "m_a", "m_b",
        F.round((F.col("m_a") - F.col("m_b")) / pooled, 6).alias("cohens_d"),
    )
    return d.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(F.col("m_a"), 4).alias("mean_a"),
        F.round(F.col("m_b"), 4).alias("mean_b"),
        "cohens_d",
        F.round(
            F.col("cohens_d")
            * (1 - 3.0 / (4 * (F.col("n_a") + F.col("n_b")) - 9)),
            6,
        ).alias("hedges_g"),
        F.when(F.abs(F.col("cohens_d")) < 0.2, "negligible")
        .when(F.abs(F.col("cohens_d")) < 0.5, "small")
        .when(F.abs(F.col("cohens_d")) < 0.8, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


@query(
    "stat_cramers_v",
    """
WITH cells AS (
  SELECT o_orderstatus AS s, o_orderpriority AS p, count(*) AS c
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT s, p, c,
    sum(c) OVER (PARTITION BY s) AS row_n,
    sum(c) OVER (PARTITION BY p) AS col_n,
    sum(c) OVER () AS n
  FROM cells
),
chi AS (
  SELECT CAST(max(n) AS BIGINT) AS n,
    CAST(count(DISTINCT s) AS BIGINT) AS r,
    CAST(count(DISTINCT p) AS BIGINT) AS k,
    round(sum((c - row_n * col_n * 1.0 / n)
              * (c - row_n * col_n * 1.0 / n)
              / (row_n * col_n * 1.0 / n)), 6) AS chi2
  FROM m
)
SELECT n, r, k, CAST((r - 1) * (k - 1) AS BIGINT) AS dof, chi2,
  round(sqrt(chi2 / (n * (least(r, k) - 1))), 6) AS cramers_v
FROM chi
""",
)
def stat_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V — the EFFECT SIZE for the chi-square independence
    test, the categorical twin of stat_cohens_d's argument: at 100 TB
    every contingency table is "significantly" dependent, so the audit
    question is the strength of association on [0, 1], not the p-value.
    Measured on order status × priority (the warehouse's own mix audit,
    complementing stat_chi2_independence's lang × source on documents).

    One groupBy to the r×k cell frame is the only full-data pass;
    margins are windows over those ≤15 rows; V derives from the ROUNDED
    chi2 (stat_jarque_bera discipline). Expected counts stay in exact
    integer products over one double division each — engine-identical
    at 6dp.
    """
    orders = load(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p")
    ).agg(F.count(F.lit(1)).alias("c"))
    m = cells.select(
        "s",
        "p",
        "c",
        F.sum("c").over(Window.partitionBy("s")).alias("row_n"),
        F.sum("c").over(Window.partitionBy("p")).alias("col_n"),
        F.sum("c").over(
            Window.partitionBy()
        ).alias("n"),
    )
    exp = F.col("row_n") * F.col("col_n") * F.lit(1.0) / F.col("n")
    chi = m.agg(
        F.max("n").cast("long").alias("n"),
        F.countDistinct("s").cast("long").alias("r"),
        F.countDistinct("p").cast("long").alias("k"),
        F.round(
            F.sum((F.col("c") - exp) * (F.col("c") - exp) / exp), 6
        ).alias("chi2"),
    )
    return chi.select(
        "n",
        "r",
        "k",
        ((F.col("r") - 1) * (F.col("k") - 1)).cast("long").alias("dof"),
        "chi2",
        F.round(
            F.sqrt(
                F.col("chi2") / (F.col("n") * (F.least("r", "k") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


_PERM_B = 32  # randomization replicates = md5 hex digits per key


def _perm_bits_sql(key: str) -> str:
    """32-element 0/1 array for one row: hex digit i of md5(key) has
    its top nibble bit set (digit >= '8') -> 1. Identical text parses
    in Spark SQL and (after s/array/list_value/) DuckDB."""
    hexd = "'0123456789abcdef'"
    dig = f"md5(concat({key}, '#perm'))"
    parts = [
        f"(CASE WHEN instr({hexd}, substring({dig}, {i + 1}, 1)) >= 9"
        " THEN 1 ELSE 0 END)"
        for i in range(_PERM_B)
    ]
    return "array(" + ", ".join(parts) + ")"


@query(
    "stat_permutation_test",
    f"""
WITH rows_in AS (
  SELECT value,
    {_perm_bits_sql("CAST(event_id AS VARCHAR)").replace(
        "array(", "list_value(", 1)} AS arr
  FROM events WHERE event_type IN ('purchase', 'click')
),
obs AS (
  SELECT
    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_a,
    count(CASE WHEN event_type = 'click' THEN 1 END) AS n_b,
    round(avg(CASE WHEN event_type = 'purchase' THEN value END)
          - avg(CASE WHEN event_type = 'click' THEN value END), 6)
      AS obs_diff
  FROM events WHERE event_type IN ('purchase', 'click')
),
tot AS (
  SELECT sum(value) AS tot_x, CAST(count(*) AS DOUBLE) AS tot_n
  FROM rows_in
),
sums AS (
  SELECT r.b AS b,
    sum(arr[r.b + 1] * value) AS wx,
    CAST(sum(arr[r.b + 1]) AS DOUBLE) AS w
  FROM rows_in CROSS JOIN range(0, {_PERM_B}) r(b)
  GROUP BY 1
),
reps AS (
  SELECT b,
    round(wx / w - (tot.tot_x - wx) / (tot.tot_n - w), 6) AS diff_b
  FROM sums CROSS JOIN tot
),
tail_n AS (
  SELECT count(*) AS n_extreme
  FROM reps CROSS JOIN obs
  WHERE abs(diff_b) >= abs(obs_diff)
)
SELECT CAST(obs.n_a AS BIGINT) AS n_a, CAST(obs.n_b AS BIGINT) AS n_b,
  obs.obs_diff,
  {_PERM_B} AS n_replicates,
  CAST(tail_n.n_extreme AS BIGINT) AS n_extreme,
  round((1 + tail_n.n_extreme) * 1.0 / (1 + {_PERM_B}), 6) AS p_value
FROM obs CROSS JOIN tail_n
""",
)
def stat_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic randomization test for the purchase-vs-click mean
    difference — the assumption-free sibling of stat_welch_ttest (no
    normality, no variance model: under H0 exchangeability the labels
    are arbitrary, so the observed difference is compared against the
    relabeled null distribution) with the stat_bootstrap_ci resampling
    discipline: {_PERM_B} relabelings whose bits are md5 hex digits of
    the event_id, so the null distribution is a pure function of the
    data and both engines agree exactly. Bernoulli(1/2) relabeling (a
    randomization test) rather than fixed-margin permutation —
    preserving exact group sizes would need distributed sampling
    without replacement; under H0 both are valid tests. p uses the
    standard add-one correction (1 + #extreme)/(1 + B); replicate
    diffs and the observed diff are ROUNDED before the tail
    comparison, so n_extreme is engine-stable.

    Scale shape — WIDE aggregation, not row explosion: the oracle's
    grid explode multiplies the fact stream 32×; Spark instead computes
    all 32 replicate sums in ONE map-side pass (64 conditional
    aggregates over the bit array — sum(bit_b·x) and count(bit_b) per
    replicate; each complement derives from the row totals, so no
    1-bits are ever re-scanned), reshapes the single 1-row frame with a
    32-branch stack, and compares. The fact stream is read once and
    never multiplied (grid-explode form measured 54.1 s at the 64×
    probe; this form 2.9 s, 0.75× the DuckDB oracle — identical
    output by construction).
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    rows_in = ev.select(
        "value",
        F.expr(
            _perm_bits_sql("cast(event_id AS string)")
        ).alias("arr"),
    )
    obs = ev.agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_a"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_b"),
        F.round(
            F.avg(F.when(F.col("event_type") == "purchase", F.col("value")))
            - F.avg(F.when(F.col("event_type") == "click", F.col("value"))),
            6,
        ).alias("obs_diff"),
    )
    aggs = [F.sum("value").alias("tot_x"), F.count(F.lit(1)).alias("tot_n")]
    for b in range(_PERM_B):
        wb = F.expr(f"element_at(arr, {b + 1})")
        aggs.append(F.sum(wb * F.col("value")).alias(f"wx{b}"))
        aggs.append(F.sum(wb).alias(f"w{b}"))
    wide = rows_in.agg(*aggs)
    stack = ", ".join(
        f"{b}, wx{b}, CAST(w{b} AS DOUBLE)" for b in range(_PERM_B)
    )
    reps = wide.select(
        "tot_x",
        "tot_n",
        F.expr(
            f"stack({_PERM_B}, {stack}) AS (b, wx, w)"
        ),
    ).select(
        "b",
        F.round(
            F.col("wx") / F.col("w")
            - (F.col("tot_x") - F.col("wx"))
            / (F.col("tot_n") - F.col("w")),
            6,
        ).alias("diff_b"),
    )
    tail_n = reps.crossJoin(F.broadcast(obs.select("obs_diff"))).agg(
        F.sum(
            F.when(
                F.abs(F.col("diff_b")) >= F.abs(F.col("obs_diff")), 1
            ).otherwise(0)
        ).alias("n_extreme")
    )
    return (
        F.broadcast(obs)
        .crossJoin(tail_n)
        .select(
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "obs_diff",
            F.lit(_PERM_B).alias("n_replicates"),
            F.col("n_extreme").cast("long").alias("n_extreme"),
            F.round(
                (1 + F.col("n_extreme")) / F.lit(float(1 + _PERM_B)), 6
            ).alias("p_value"),
        )
    )


@query(
    "stat_delta_method_ratio",
    """
WITH u AS (
  SELECT user_id,
    sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS x,
    count(*) AS y
  FROM events GROUP BY user_id
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    sum(x) AS sx, sum(y) AS sy,
    avg(y) AS my,
    var_samp(x) AS vxx, var_samp(y) AS vyy, covar_samp(x, y) AS vxy
  FROM u
),
r AS (
  SELECT n, my, round(sx / sy, 6) AS ratio, vxx, vyy, vxy FROM m
),
se AS (
  SELECT n, ratio,
    round(sqrt((vxx - 2 * ratio * vxy + ratio * ratio * vyy)
               / (n * my * my)), 6) AS se_ratio
  FROM r
)
SELECT n, ratio, se_ratio,
  round(ratio - 1.96 * se_ratio, 6) AS ci_lo,
  round(ratio + 1.96 * se_ratio, 6) AS ci_hi
FROM se
""",
)
def stat_delta_method_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method CI for a RATIO metric over user clusters (purchase
    revenue per event) — the experiment readout stat_abtest_ztest and
    stat_welch_ttest cannot give: when the metric is a ratio of sums
    and the randomization unit is the USER, row-level variance is
    simply wrong (within-user correlation), and the delta method over
    per-cluster sums — Var(X̄/Ȳ) ≈ (Sxx − 2R·Sxy + R²·Syy)/(n·Ȳ²) —
    is the standard fix every experimentation platform ships. The
    ratio is ROUNDED before it enters the variance combination (both
    engines combine identical inputs), and the CI derives from the
    rounded se.

    Scale shape: one groupBy to the user grain (the randomization
    unit — at 100 TB this is the only fact-sized shuffle), then a
    single moment pass (var/covar are partial-aggregatable co-moments)
    over the cluster frame to ONE row. No per-row resampling, no
    bootstrap needed for a smooth functional.
    """
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                F.lit(0.0)
            )
        ).alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    m = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.avg("y").alias("my"),
        F.var_samp("x").alias("vxx"),
        F.var_samp(F.col("y").cast("double")).alias("vyy"),
        F.covar_samp("x", F.col("y").cast("double")).alias("vxy"),
    )
    r = m.select(
        "n",
        "my",
        F.round(F.col("sx") / F.col("sy"), 6).alias("ratio"),
        "vxx",
        "vyy",
        "vxy",
    )
    se = r.select(
        "n",
        "ratio",
        F.round(
            F.sqrt(
                (
                    F.col("vxx")
                    - 2 * F.col("ratio") * F.col("vxy")
                    + F.col("ratio") * F.col("ratio") * F.col("vyy")
                )
                / (F.col("n") * F.col("my") * F.col("my"))
            ),
            6,
        ).alias("se_ratio"),
    )
    return se.select(
        "n",
        "ratio",
        "se_ratio",
        F.round(F.col("ratio") - 1.96 * F.col("se_ratio"), 6).alias("ci_lo"),
        F.round(F.col("ratio") + 1.96 * F.col("se_ratio"), 6).alias("ci_hi"),
    )


_TOST_DELTA = 5.0  # equivalence margin in value units (~10% of the mean)


@query(
    "stat_tost_equivalence",
    f"""
WITH s AS (
  SELECT
    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_a,
    count(CASE WHEN event_type = 'click' THEN 1 END) AS n_b,
    avg(CASE WHEN event_type = 'purchase' THEN value END) AS m_a,
    avg(CASE WHEN event_type = 'click' THEN value END) AS m_b,
    var_samp(CASE WHEN event_type = 'purchase' THEN value END) AS v_a,
    var_samp(CASE WHEN event_type = 'click' THEN value END) AS v_b
  FROM events WHERE event_type IN ('purchase', 'click')
),
d AS (
  SELECT n_a, n_b,
    round(m_a - m_b, 6) AS diff,
    round(sqrt(v_a / n_a + v_b / n_b), 6) AS se
  FROM s
),
t AS (
  SELECT n_a, n_b, diff, se,
    round((diff + {_TOST_DELTA}) / se, 6) AS t_lower,
    round(({_TOST_DELTA} - diff) / se, 6) AS t_upper
  FROM d
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  diff, se, CAST({_TOST_DELTA} AS DOUBLE) AS margin, t_lower, t_upper,
  t_lower > 1.644854 AND t_upper > 1.644854 AS equivalent
FROM t
""",
)
def stat_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests) for the
    purchase-vs-click mean gap against a ±{_TOST_DELTA} margin — the
    question the significance tests CANNOT answer: failing to reject
    H0 never shows equivalence; TOST reverses the burden (H0 = the
    difference exceeds the margin) and declares equivalence only when
    BOTH one-sided tests reject — the non-inferiority readout every
    launch-review checklist actually needs ("is the cheap variant at
    most δ worse?"). Normal critical value 1.644854 (dof is thousands;
    the z approximation is standard at this n), both t statistics and
    the verdict derive from ROUNDED diff/se, so the boolean can never
    flip on an ulp.

    Scale shape: identical to stat_welch_ttest — ONE conditional-moment
    pass over the fact table, closed-form scalar arithmetic on the
    1-row frame.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    s = ev.agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_a"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_b"),
        F.avg(F.when(F.col("event_type") == "purchase", F.col("value"))).alias("m_a"),
        F.avg(F.when(F.col("event_type") == "click", F.col("value"))).alias("m_b"),
        F.var_samp(F.when(F.col("event_type") == "purchase", F.col("value"))).alias("v_a"),
        F.var_samp(F.when(F.col("event_type") == "click", F.col("value"))).alias("v_b"),
    )
    d = s.select(
        "n_a",
        "n_b",
        F.round(F.col("m_a") - F.col("m_b"), 6).alias("diff"),
        F.round(
            F.sqrt(F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")),
            6,
        ).alias("se"),
    )
    t = d.select(
        "n_a",
        "n_b",
        "diff",
        "se",
        F.round((F.col("diff") + _TOST_DELTA) / F.col("se"), 6).alias(
            "t_lower"
        ),
        F.round((F.lit(_TOST_DELTA) - F.col("diff")) / F.col("se"), 6).alias(
            "t_upper"
        ),
    )
    return t.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "diff",
        "se",
        F.lit(_TOST_DELTA).alias("margin"),
        "t_lower",
        "t_upper",
        (
            (F.col("t_lower") > 1.644854) & (F.col("t_upper") > 1.644854)
        ).alias("equivalent"),
    )


@query(
    "stat_stratified_rate_adjust",
    """
WITH e AS (
  SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7'
         THEN 'A' ELSE 'B' END AS arm,
    event_type AS stratum,
    CASE WHEN value > 80 THEN 1 ELSE 0 END AS hit
  FROM events
),
cell AS (
  SELECT arm, stratum, count(*) AS n, sum(hit) AS h FROM e GROUP BY 1, 2
),
mix AS (
  SELECT stratum, sum(n) AS w FROM cell GROUP BY 1
)
SELECT c.arm,
  CAST(sum(c.n) AS BIGINT) AS n,
  round(sum(c.h) * 1.0 / sum(c.n), 6) AS rate_raw,
  round(sum((c.h * 1.0 / c.n) * m.w) / sum(m.w), 6) AS rate_adj
FROM cell c JOIN mix m USING (stratum)
GROUP BY c.arm
ORDER BY c.arm
""",
)
def stat_stratified_rate_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct standardization (mix-adjusted rates) — the Simpson's-
    paradox guard every experiment readout needs before comparing raw
    rates: each arm's high-value rate is re-weighted to the POOLED
    event-type mix (rate_adj = Σ_s rate_{arm,s} · w_s / Σw), so a rate
    difference caused purely by one arm seeing more purchase-heavy
    traffic disappears, and a real treatment effect survives. Arms are
    the deterministic md5 user split (the dq_schema_drift null case:
    raw ≈ adjusted here is the honest all-clear; production swaps the
    split predicate for the real assignment column).

    Scale shape: one groupBy to the (arm, stratum) cell frame is the
    only full-data pass; mix weights and the standardization are
    arithmetic over those ≤10 rows. Exact integer h/n per cell, one
    double division each, 6dp rounding — engine-identical.
    """
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        F.when(
            F.expr("substring(md5(cast(user_id AS string)), 1, 1)") <= "7",
            "A",
        )
        .otherwise("B")
        .alias("arm"),
        F.col("event_type").alias("stratum"),
        F.when(F.col("value") > 80, 1).otherwise(0).alias("hit"),
    )
    cell = e.groupBy("arm", "stratum").agg(
        F.count(F.lit(1)).alias("n"), F.sum("hit").alias("h")
    )
    mix = cell.groupBy("stratum").agg(F.sum("n").alias("w"))
    # Renormalize by the COVERED weight sum per arm (Σw over the arm's
    # strata), not the global total: an arm with no rows in some
    # stratum would otherwise lose that stratum's weight from the
    # numerator only and read biased-low instead of standardized.
    return (
        cell.join(F.broadcast(mix), "stratum")
        .groupBy("arm")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.round(F.sum("h") / F.sum("n").cast("double"), 6).alias(
                "rate_raw"
            ),
            F.round(
                F.sum(
                    (F.col("h") / F.col("n").cast("double")) * F.col("w")
                )
                / F.sum("w").cast("double"),
                6,
            ).alias("rate_adj"),
        )
        .orderBy("arm")
    )


@query(
    "feat_pit_snapshot",
    """
WITH label AS (
  SELECT user_id, min(ts) AS cut
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
feat AS (
  SELECT l.user_id,
    count(CASE WHEN e.event_type = 'view' THEN 1 END) AS n_views_7d,
    count(CASE WHEN e.event_type = 'click' THEN 1 END) AS n_clicks_7d,
    count(*) AS n_events_7d,
    round(coalesce(sum(e.value), 0), 4) AS sum_value_7d
  FROM label l JOIN events e
    ON e.user_id = l.user_id
   AND e.ts < l.cut
   AND e.ts >= l.cut - INTERVAL 7 DAY
  GROUP BY l.user_id
)
SELECT l.user_id, l.cut AS first_purchase_ts,
  CAST(coalesce(f.n_views_7d, 0) AS BIGINT) AS n_views_7d,
  CAST(coalesce(f.n_clicks_7d, 0) AS BIGINT) AS n_clicks_7d,
  CAST(coalesce(f.n_events_7d, 0) AS BIGINT) AS n_events_7d,
  coalesce(f.sum_value_7d, 0.0) AS sum_value_7d
FROM label l LEFT JOIN feat f ON l.user_id = f.user_id
ORDER BY l.user_id
""",
)
def feat_pit_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature snapshot — the feature-store correctness
    primitive join_scd2_pit demonstrates for dimensions, here for
    BEHAVIORAL features: for each user's first purchase (the label
    event), activity features are computed from events STRICTLY before
    the cut and within a 7-day lookback — never from the label's own
    timestamp or anything after it, which is precisely the
    train/serve-skew and label-leakage bug PIT snapshots exist to
    prevent. Users with a purchase but no prior 7-day activity keep a
    row with zero features (left join + coalesce — silently dropping
    them would bias the training set toward active users).

    Scale shape: the label frame is one groupBy; the lookback is an
    EQUI-join on user_id with the time window as a residual predicate
    — per-user fan-out is that user's 7-day event count, so the join
    output is lookback-bounded, not quadratic. Both sides shuffle once
    on the entity key; at 100 TB the label cut would come from a label
    table and the plan is unchanged.
    """
    ev = load(spark, sf_dir, "events")
    label = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("cut"))
    )
    e = ev.select(
        F.col("user_id").alias("e_uid"), "event_type", "ts", "value"
    )
    feat = (
        label.join(
            e,
            (F.col("e_uid") == F.col("user_id"))
            & (F.col("ts") < F.col("cut"))
            & (F.col("ts") >= F.col("cut") - F.expr("INTERVAL 7 DAY")),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.when(F.col("event_type") == "view", 1)).alias(
                "n_views_7d"
            ),
            F.count(F.when(F.col("event_type") == "click", 1)).alias(
                "n_clicks_7d"
            ),
            F.count(F.lit(1)).alias("n_events_7d"),
            F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 4).alias(
                "sum_value_7d"
            ),
        )
    )
    return (
        label.join(feat, "user_id", "left")
        .select(
            "user_id",
            F.col("cut").alias("first_purchase_ts"),
            F.coalesce("n_views_7d", F.lit(0)).cast("long").alias(
                "n_views_7d"
            ),
            F.coalesce("n_clicks_7d", F.lit(0)).cast("long").alias(
                "n_clicks_7d"
            ),
            F.coalesce("n_events_7d", F.lit(0)).cast("long").alias(
                "n_events_7d"
            ),
            F.coalesce("sum_value_7d", F.lit(0.0)).alias("sum_value_7d"),
        )
        .orderBy("user_id")
    )


@query(
    "stat_mcnemar",
    """
WITH pair AS (
  SELECT o_custkey,
    max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS a,
    max(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS b
  FROM orders GROUP BY 1
),
cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(sum(a * b) AS BIGINT) AS n_both,
    CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
    CAST(sum((1 - a) * b) AS BIGINT) AS n01
  FROM pair
)
SELECT n_pairs, n_both, n10, n01,
  round((n10 - n01) * (n10 - n01) * 1.0 / nullif(n10 + n01, 0), 6)
    AS chi2,
  round((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) * 1.0
        / nullif(n10 + n01, 0), 6) AS chi2_cc,
  round((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) * 1.0
        / nullif(n10 + n01, 0), 6) > 3.841459 AS reject_5pct
FROM cells
""",
)
def stat_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes — the within-subject
    sibling of stat_chi2_independence (which assumes independent
    samples and is the wrong test when both indicators are measured on
    the SAME unit): does the probability a customer ever places an
    URGENT order differ from the probability they ever place a HIGH
    one? Only the discordant cells carry information — χ² =
    (n10−n01)²/(n10+n01), continuity-corrected form alongside, verdict
    from the corrected statistic at the χ²₁ 5% bound (3.841459), the
    stat_jarque_bera rounded-verdict discipline.

    Scale shape: ONE custkey-keyed partial-aggregated shuffle to the
    per-pair flag frame, then a 1-row fold — the same two-phase shape
    as agg_kmv_jaccard's combo frame. All cells exact integers; the
    two divisions are the only float ops, 6dp-rounded on both engines.
    """
    o = load(spark, sf_dir, "orders")
    pair = o.groupBy("o_custkey").agg(
        F.max(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("a"),
        F.max(
            F.when(F.col("o_orderpriority") == "2-HIGH", 1).otherwise(0)
        ).alias("b"),
    )
    cells = pair.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n_both"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
    )
    diff = F.col("n10") - F.col("n01")
    denom = F.nullif((F.col("n10") + F.col("n01")).cast("double"), F.lit(0.0))
    chi2 = F.round(diff * diff / denom, 6)
    cc_num = (F.abs(diff) - 1) * (F.abs(diff) - 1)
    chi2_cc = F.round(cc_num / denom, 6)
    return cells.select(
        "n_pairs",
        "n_both",
        "n10",
        "n01",
        chi2.alias("chi2"),
        chi2_cc.alias("chi2_cc"),
        (chi2_cc > 3.841459).alias("reject_5pct"),
    )


@query(
    "stat_bartlett",
    """
WITH g AS (
  SELECT l_returnflag AS grp,
    count(*) AS n,
    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS s,
    sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
        * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS ss
  FROM lineitem GROUP BY 1
),
v AS (
  SELECT grp, n,
    CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)
         AS DOUBLE) / n AS vnum
  FROM g
),
fold AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_total,
    CAST(count(*) AS BIGINT) AS k,
    sum(vnum) AS sp_num,
    sum((n - 1) * ln(vnum / (n - 1.0))) AS sum_ln,
    sum(1.0 / (n - 1)) AS inv_sum
  FROM v
)
SELECT n_total, k,
  round(sp_num / (n_total - k) / 10000.0, 4) AS pooled_var,
  round(((n_total - k) * ln(sp_num / (n_total - k))
         - sum_ln)
        / (1 + (inv_sum - 1.0 / (n_total - k)) / (3.0 * (k - 1))), 6)
    AS bartlett_stat,
  CAST(k - 1 AS BIGINT) AS df,
  round(((n_total - k) * ln(sp_num / (n_total - k))
         - sum_ln)
        / (1 + (inv_sum - 1.0 / (n_total - k)) / (3.0 * (k - 1))), 6)
    > 5.991465 AS reject_5pct
FROM fold
""",
)
def stat_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of variance homogeneity across the 3 return-flag
    populations of l_extendedprice — the parametric (normality-
    assuming, most powerful) member of the homoscedasticity ladder
    beside stat_brown_forsythe (robust, median-based): the gatekeeper
    check before pooled-variance tests like stat_anova_oneway trust
    their pooled σ².

    Numeric discipline (the stat_cuped template): 2dp prices become
    exact integer cents, per-group (n, Σx, Σx²) are exact integer
    sums, and each moment combination n·Σx²−(Σx)² routes through
    DECIMAL(38,0) (DuckDB HUGEINT is exact natively). The statistic is
    SCALE-INVARIANT — (N−k)·ln(Sp²) − Σ(nᵢ−1)·ln(sᵢ²) cancels the
    cents²-unit ln term exactly because the coefficients balance — so
    the whole computation stays on the exact-integer lattice until the
    final ln/divide, 6dp-rounded; the verdict derives from the ROUNDED
    statistic (stat_jarque_bera discipline). Scale shape: one
    partial-aggregatable groupBy to 3 moment rows, then a 1-row fold.
    """
    li = load(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    d38 = "decimal(38,0)"
    g = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents.cast(d38) * cents.cast(d38)).alias("ss"),
    )
    v = g.select(
        "grp",
        "n",
        (
            (
                F.col("n").cast(d38) * F.col("ss")
                - F.col("s").cast(d38) * F.col("s").cast(d38)
            ).cast("double")
            / F.col("n")
        ).alias("vnum"),
    )
    fold = v.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("vnum").alias("sp_num"),
        F.sum(
            (F.col("n") - 1) * F.log(F.col("vnum") / (F.col("n") - 1.0))
        ).alias("sum_ln"),
        F.sum(1.0 / (F.col("n") - 1)).alias("inv_sum"),
    )
    nt, k = F.col("n_total"), F.col("k")
    stat = F.round(
        (
            (nt - k) * F.log(F.col("sp_num") / (nt - k))
            - F.col("sum_ln")
        )
        / (1 + (F.col("inv_sum") - 1.0 / (nt - k)) / (3.0 * (k - 1))),
        6,
    )
    return fold.select(
        "n_total",
        "k",
        F.round(F.col("sp_num") / (nt - k) / 10000.0, 4).alias(
            "pooled_var"
        ),
        stat.alias("bartlett_stat"),
        (k - 1).cast("long").alias("df"),
        (stat > 5.991465).alias("reject_5pct"),
    )


@query(
    "stat_gtest",
    """
WITH cell AS (
  SELECT o_orderpriority AS r, o_orderstatus AS c, count(*) AS o
  FROM orders GROUP BY 1, 2
),
margins AS (
  SELECT r, c, o,
    sum(o) OVER (PARTITION BY r) AS row_n,
    sum(o) OVER (PARTITION BY c) AS col_n,
    sum(o) OVER () AS n
  FROM cell
),
fold AS (
  SELECT
    CAST(max(n) AS BIGINT) AS n_total,
    CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
    CAST(count(DISTINCT c) AS BIGINT) AS n_cols,
    2 * sum(o * ln(o * CAST(n AS DOUBLE) / (row_n * CAST(col_n AS DOUBLE))))
      AS g_raw
  FROM margins
)
SELECT n_total, n_rows, n_cols,
  CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS df,
  round(g_raw, 6) AS g_stat,
  round(g_raw, 6) > 15.507313 AS reject_5pct
FROM fold
""",
)
def stat_gtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood-ratio independence test) on the order
    priority × status contingency table — the information-theoretic
    sibling of stat_chi2_independence: G = 2·Σ O·ln(O·N/(R·C)) is
    additive under table partitioning (χ² is not), equals 2N·I(r; c)
    in nats (the mutual information events_type_affinity reports, made
    into a test), and is the form recommended when any O/E ratio is
    large. Verdict from the ROUNDED statistic at the χ²₈ 5% bound
    (5 priorities × 3 statuses → df = 8).

    Determinism: cell counts and margins are exact integers from ONE
    groupBy (margins via windows over the ≤15-row cell frame, the
    zero-scan way to get row/col/grand totals); each ln argument is an
    exact-integer ratio, the ≤15-term fold is noise-free at 6dp.
    Scale shape: one partial-aggregatable shuffle to the cell frame;
    everything after is arithmetic on ≤15 rows.
    """
    o = load(spark, sf_dir, "orders")
    cell = o.groupBy(
        F.col("o_orderpriority").alias("r"),
        F.col("o_orderstatus").alias("c"),
    ).agg(F.count(F.lit(1)).alias("o"))
    wr = Window.partitionBy("r")
    wc = Window.partitionBy("c")
    wall = Window.partitionBy()
    margins = cell.select(
        "r",
        "c",
        "o",
        F.sum("o").over(wr).alias("row_n"),
        F.sum("o").over(wc).alias("col_n"),
        F.sum("o").over(wall).alias("n"),
    )
    fold = margins.agg(
        F.max("n").cast("long").alias("n_total"),
        F.countDistinct("r").cast("long").alias("n_rows"),
        F.countDistinct("c").cast("long").alias("n_cols"),
        (
            2
            * F.sum(
                F.col("o")
                * F.log(
                    F.col("o")
                    * F.col("n").cast("double")
                    / (F.col("row_n") * F.col("col_n").cast("double"))
                )
            )
        ).alias("g_raw"),
    )
    g = F.round(F.col("g_raw"), 6)
    return fold.select(
        "n_total",
        "n_rows",
        "n_cols",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1))
        .cast("long")
        .alias("df"),
        g.alias("g_stat"),
        (g > 15.507313).alias("reject_5pct"),
    )


@query(
    "stat_friedman",
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
wk AS (
  SELECT event_type, cnt,
    CAST(floor(date_diff('day', DATE '2024-01-01', d) / 7.0) AS BIGINT)
      AS week,
    dayofweek(d) AS dow
  FROM daily
),
complete AS (
  SELECT event_type, week FROM wk GROUP BY 1, 2 HAVING count(*) = 7
),
ranked AS (
  SELECT w.event_type, w.week, w.dow, w.cnt,
    rank() OVER (PARTITION BY w.event_type, w.week ORDER BY w.cnt)
      + (count(*) OVER (PARTITION BY w.event_type, w.week, w.cnt) - 1)
        / 2.0 AS r
  FROM wk w JOIN complete c USING (event_type, week)
),
ties AS (
  SELECT event_type, sum(t * t * t - t) AS tie_term
  FROM (SELECT event_type, week, cnt, count(*) AS t
        FROM ranked GROUP BY 1, 2, 3)
  GROUP BY 1
),
colsum AS (
  SELECT event_type, dow, sum(r) AS rj
  FROM ranked GROUP BY 1, 2
),
agg AS (
  SELECT c.event_type,
    count(*) AS k,
    max(n.n_weeks) AS n,
    sum(c.rj * c.rj) AS sum_rj2
  FROM colsum c
  JOIN (SELECT event_type, count(*) AS n_weeks FROM complete GROUP BY 1) n
    USING (event_type)
  GROUP BY 1
)
SELECT a.event_type,
  CAST(a.n AS BIGINT) AS n_weeks,
  round((12.0 / (a.n * a.k * (a.k + 1)) * a.sum_rj2
         - 3.0 * a.n * (a.k + 1))
        / nullif(1 - t.tie_term / (a.n * a.k
                                   * (CAST(a.k AS DOUBLE) * a.k * a.k - a.k)
                                   / a.k), 0), 6) AS q_stat,
  CAST(a.k - 1 AS BIGINT) AS df,
  round((12.0 / (a.n * a.k * (a.k + 1)) * a.sum_rj2
         - 3.0 * a.n * (a.k + 1))
        / nullif(1 - t.tie_term / (a.n * a.k
                                   * (CAST(a.k AS DOUBLE) * a.k * a.k - a.k)
                                   / a.k), 0), 6) > 12.591587
    AS reject_5pct
FROM agg a JOIN ties t USING (event_type)
ORDER BY a.event_type
""",
)
def stat_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test per event type: do weekdays differ in event volume
    once WEEK-level shifts are blocked out? Blocks = complete calendar
    weeks (Jan-2024 starts on a Monday; weeks missing any day drop
    out), treatments = the 7 weekdays, values = daily counts — the
    repeated-measures sibling of stat_kruskal_wallis (which pools all
    days and would confound a weekday effect with week-over-week
    growth) and the nonparametric counterpart of a two-way blocked
    ANOVA. Midranks within each (type, week) block handle ties; the
    statistic uses the standard tie-corrected form Q = [12/(nk(k+1))
    ΣRⱼ² − 3n(k+1)] / [1 − Σ(t³−t)/(nk(k²−1))], verdict from the
    ROUNDED Q at the χ²₆ 5% bound.

    Determinism: midranks are dyadic rationals (x or x.5 — exact in
    binary), Rⱼ sums and squares stay exact, tie counts are integers;
    the two divisions are the only inexact ops, 6dp-rounded on both
    engines. Scale shape: one map-side-combinable day rollup, ranks
    via windows over the ≤(types × weeks × 7)-row frame — bounded by
    the calendar, not the data.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wk = daily.select(
        "event_type",
        "cnt",
        F.floor(
            F.datediff(F.col("d"), F.lit("2024-01-01").cast("date")) / 7.0
        )
        .cast("long")
        .alias("week"),
        F.dayofweek("d").alias("dow"),
    )
    # ONE linear chain (r12; was 6 branching shuffles + 2 broadcasts =
    # 16 jobs): each complete week is a 7-element block, so midranks,
    # per-dow rank picks and the tie term are per-ROW array expressions
    # over the collected block — r(e) = (#less + #leq + 1)/2 equals the
    # former rank() + (ties−1)/2 window exactly, and Σ(t³−t) folds as
    # Σ_elements ((#leq−#less)² − 1). Blocks are calendar-bounded (≤7
    # rows each), so collect_list is a constant-size buffer; everything
    # after the day rollup is two tiny exchanges.
    blocks = (
        wk.groupBy("event_type", "week")
        .agg(F.collect_list(F.struct("dow", "cnt")).alias("bc"))
        .filter(F.size("bc") == 7)
    )

    def _less(e):
        return F.size(F.filter("bc", lambda x: x["cnt"] < e["cnt"]))

    def _leq(e):
        return F.size(F.filter("bc", lambda x: x["cnt"] <= e["cnt"]))

    ranked = blocks.select(
        "event_type",
        F.transform(
            "bc",
            lambda e: F.struct(
                e["dow"].alias("dow"),
                ((_less(e) + _leq(e) + 1) / 2.0).alias("r"),
                (
                    (_leq(e) - _less(e)) * (_leq(e) - _less(e)) - 1
                ).alias("tt"),
            ),
        ).alias("rr"),
    )
    # complete blocks hold each dow exactly once: pick its midrank
    rj_cols = [
        F.sum(
            F.element_at(
                F.filter("rr", lambda x: x["dow"] == F.lit(j)), 1
            )["r"]
        ).alias(f"rj{j}")
        for j in range(1, 8)
    ]
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.aggregate(
                "rr", F.lit(0).cast("long"), lambda acc, x: acc + x["tt"]
            )
        ).alias("tie_term"),
        *rj_cols,
    )
    sum_rj2 = None
    for j in range(1, 8):
        term = F.col(f"rj{j}") * F.col(f"rj{j}")
        sum_rj2 = term if sum_rj2 is None else sum_rj2 + term
    agg = agg.withColumn("sum_rj2", sum_rj2)
    n, k = F.col("n"), F.lit(7).cast("long")
    q_raw = (
        12.0 / (n * k * (k + 1)) * F.col("sum_rj2") - 3.0 * n * (k + 1)
    )
    corr = 1 - F.col("tie_term") / (
        n * k * (k.cast("double") * k * k - k) / k
    )
    q = F.round(q_raw / F.nullif(corr, F.lit(0.0)), 6)
    return agg.select(
        "event_type",
        n.cast("long").alias("n_weeks"),
        q.alias("q_stat"),
        (k - 1).cast("long").alias("df"),
        (q > 12.591587).alias("reject_5pct"),
    ).orderBy("event_type")


@query(
    "stat_poisson_rate_ratio",
    """
WITH bounds AS (
  SELECT min(ts) AS lo, max(ts) AS hi FROM events
),
tagged AS (
  SELECT event_type,
    epoch(ts) * 2 <= epoch(b.lo) + epoch(b.hi) AS early
  FROM events CROSS JOIN bounds b WHERE event_type = 'error'
),
cnt AS (
  SELECT sum(CASE WHEN early THEN 1 ELSE 0 END) AS n1,
    sum(CASE WHEN early THEN 0 ELSE 1 END) AS n2
  FROM tagged
)
SELECT CAST(n1 AS BIGINT) AS n_early,
  CAST(n2 AS BIGINT) AS n_late,
  round(n2 * 1.0 / n1, 6) AS rate_ratio,
  round(exp(ln(n2 * 1.0 / n1)
        - 1.959963984540054 * sqrt(1.0 / n1 + 1.0 / n2)), 6) AS ci_lo,
  round(exp(ln(n2 * 1.0 / n1)
        + 1.959963984540054 * sqrt(1.0 / n1 + 1.0 / n2)), 6) AS ci_hi,
  (round(exp(ln(n2 * 1.0 / n1)
         - 1.959963984540054 * sqrt(1.0 / n1 + 1.0 / n2)), 6) > 1.0
   OR round(exp(ln(n2 * 1.0 / n1)
          + 1.959963984540054 * sqrt(1.0 / n1 + 1.0 / n2)), 6) < 1.0)
    AS significant_5pct
FROM cnt
""",
)
def stat_poisson_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate-ratio test for ERROR events, late vs early half of
    the time range (equal exposure windows by construction, so counts
    compare directly): the incident-review primitive "did the error
    rate actually change?" with the standard log-rate normal CI
    exp(ln(n2/n1) ± z·√(1/n1+1/n2)) — the count-data sibling of
    stat_abtest_ztest (proportions) and the significance layer on top
    of what events_error_budget merely reports. Significance derives
    from the ROUNDED CI excluding 1.0 (the jarque-bera discipline:
    no verdict can flip on an ulp).

    Scale shape: the same integer-epoch split predicate as
    stat_psi_drift, one filtered map-side-combinable count pass to a
    1-row frame; ln/sqrt/exp on exact-integer ratios, 6dp-rounded.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "ts")
    bounds = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    tagged = (
        ev.filter(F.col("event_type") == "error")
        .crossJoin(F.broadcast(bounds))
        .select(
            (
                F.unix_timestamp("ts") * 2
                <= F.unix_timestamp("lo") + F.unix_timestamp("hi")
            ).alias("early")
        )
    )
    cnt = tagged.agg(
        F.sum(F.when(F.col("early"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("early"), 0).otherwise(1)).alias("n2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    z = 1.959963984540054
    lr = F.log(n2 / n1.cast("double"))
    se = F.sqrt(1.0 / n1 + 1.0 / n2)
    lo = F.round(F.exp(lr - z * se), 6)
    hi = F.round(F.exp(lr + z * se), 6)
    return cnt.select(
        n1.cast("long").alias("n_early"),
        n2.cast("long").alias("n_late"),
        F.round(n2 / n1.cast("double"), 6).alias("rate_ratio"),
        lo.alias("ci_lo"),
        hi.alias("ci_hi"),
        ((lo > 1.0) | (hi < 1.0)).alias("significant_5pct"),
    )


@query(
    "stat_cohens_kappa",
    """
WITH c AS (
  SELECT
    count(*) AS n,
    count(CASE WHEN event_type IN ('purchase', 'signup')
               AND value > 50 THEN 1 END) AS n11,
    count(CASE WHEN event_type IN ('purchase', 'signup')
               AND NOT value > 50 THEN 1 END) AS n10,
    count(CASE WHEN event_type NOT IN ('purchase', 'signup')
               AND value > 50 THEN 1 END) AS n01,
    count(CASE WHEN event_type NOT IN ('purchase', 'signup')
               AND NOT value > 50 THEN 1 END) AS n00
  FROM events
),
k AS (
  SELECT n, n11, n10, n01, n00,
    (n11 + n00) / CAST(n AS DOUBLE) AS po,
    ((n11 + n10) / CAST(n AS DOUBLE)) * ((n11 + n01) / CAST(n AS DOUBLE))
      + ((n01 + n00) / CAST(n AS DOUBLE)) * ((n10 + n00) / CAST(n AS DOUBLE))
      AS pe
  FROM c
)
SELECT CAST(n AS BIGINT) AS n, CAST(n11 AS BIGINT) AS n11,
  CAST(n10 AS BIGINT) AS n10, CAST(n01 AS BIGINT) AS n01,
  CAST(n00 AS BIGINT) AS n00,
  round(po, 6) AS po, round(pe, 6) AS pe,
  round((po - pe) / (1 - pe), 6) AS kappa,
  CASE WHEN round((po - pe) / (1 - pe), 6) < 0 THEN 'poor'
       WHEN round((po - pe) / (1 - pe), 6) < 0.2 THEN 'slight'
       WHEN round((po - pe) / (1 - pe), 6) < 0.4 THEN 'fair'
       WHEN round((po - pe) / (1 - pe), 6) < 0.6 THEN 'moderate'
       WHEN round((po - pe) / (1 - pe), 6) < 0.8 THEN 'substantial'
       ELSE 'almost_perfect' END AS strength
FROM k
""",
)
def stat_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa: chance-corrected agreement between two binary
    "raters" over events — rater A flags conversion-intent types
    (purchase/signup), rater B flags high-value interactions
    (value > 50). Raw accuracy (po) is inflated whenever the margins
    are skewed; kappa subtracts the agreement two INDEPENDENT raters
    with these margins would reach by luck (pe) — the standard
    agreement readout for label-quality audits (annotator vs
    heuristic, model vs model) over training corpora.

    Scale shape: ONE conditional-count pass over the fact table (four
    partial-aggregatable CASE counters — far under the 16-buffer A/B
    bar), then closed-form arithmetic on the 1-row frame. pe is
    composed from per-margin DOUBLE divisions (never n_a*n_b integer
    products, which overflow BIGINT past ~10^9 rows each); the
    division order matches the oracle expression exactly and the
    Landis-Koch strength bucket derives from the ROUNDED kappa (the
    stat_jarque_bera discipline), so the label can't flip on an ulp.
    """
    ev = load(spark, sf_dir, "events")
    a = F.col("event_type").isin("purchase", "signup")
    b = F.col("value") > 50
    c = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(a & b, 1)).alias("n11"),
        F.count(F.when(a & ~b, 1)).alias("n10"),
        F.count(F.when(~a & b, 1)).alias("n01"),
        F.count(F.when(~a & ~b, 1)).alias("n00"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")) / nd
    pe = ((F.col("n11") + F.col("n10")) / nd) * (
        (F.col("n11") + F.col("n01")) / nd
    ) + ((F.col("n01") + F.col("n00")) / nd) * (
        (F.col("n10") + F.col("n00")) / nd
    )
    kappa = F.round((po - pe) / (1 - pe), 6)
    return c.select(
        F.col("n").cast("long").alias("n"),
        F.col("n11").cast("long").alias("n11"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n00").cast("long").alias("n00"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        kappa.alias("kappa"),
        F.when(kappa < 0, "poor")
        .when(kappa < 0.2, "slight")
        .when(kappa < 0.4, "fair")
        .when(kappa < 0.6, "moderate")
        .when(kappa < 0.8, "substantial")
        .otherwise("almost_perfect")
        .alias("strength"),
    )


@query(
    "stat_fisher_exact",
    """
WITH samp AS (
  SELECT lang, n_chars FROM documents
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
  LIMIT 200
),
cells AS (
  SELECT
    count(CASE WHEN lang = 'en' AND n_chars > 300 THEN 1 END) AS a,
    count(CASE WHEN lang = 'en' AND n_chars <= 300 THEN 1 END) AS b,
    count(CASE WHEN lang <> 'en' AND n_chars > 300 THEN 1 END) AS c,
    count(CASE WHEN lang <> 'en' AND n_chars <= 300 THEN 1 END) AS d,
    count(*) AS n
  FROM samp
),
grid AS (
  SELECT t.a, t.b, t.c, t.d, t.n,
         t.a + t.b AS r1, t.c + t.d AS r2, t.a + t.c AS c1,
         gs.k
  FROM cells t
  CROSS JOIN (SELECT unnest(generate_series(0, 200)) AS k) gs
  WHERE gs.k >= greatest(0, (t.a + t.b) + (t.a + t.c) - t.n)
    AND gs.k <= least(t.a + t.b, t.a + t.c)
),
lnu AS (
  SELECT a, b, c, d, n, k,
    sum(CASE WHEN k = greatest(0, r1 + c1 - n) THEN 0.0
        ELSE ln((r1 - k + 1.0) * (c1 - k + 1.0))
           - ln(k * (r2 - c1 + k + 0.0)) END)
      OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS lu
  FROM grid
),
p AS (
  SELECT a, b, c, d, n, k, exp(lu - max(lu) OVER ()) AS u FROM lnu
),
norm AS (
  SELECT a, b, c, d, n, k,
    u / sum(u) OVER () AS pk,
    max(CASE WHEN k = a THEN u END) OVER () AS u_obs,
    sum(u) OVER () AS u_tot
  FROM p
)
SELECT
  CAST(any_value(n) AS BIGINT) AS n_sample,
  CAST(any_value(a) AS BIGINT) AS n_en_long,
  CAST(any_value(b) AS BIGINT) AS n_en_short,
  CAST(any_value(c) AS BIGINT) AS n_other_long,
  CAST(any_value(d) AS BIGINT) AS n_other_short,
  round(any_value(a * d) / CAST(any_value(b * c) AS DOUBLE), 4)
    AS odds_ratio,
  round(sum(CASE WHEN pk <= 1.0000001 * u_obs / u_tot
            THEN pk ELSE 0 END), 6) AS p_two_sided
FROM norm
""",
)
def stat_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test on a 2x2 contingency table — language
    (en vs other) x document length (>300 chars) over a PINNED
    200-document sample (top-200 by md5(doc_id): deterministic,
    O(1) in SF — the dedup_near_exact anchor discipline). Fisher is
    the SMALL-SAMPLE member of the independence family: where
    stat_chi2_independence's asymptotics break down (expected cell
    < 5), the hypergeometric enumeration is exact — so the bounded
    sample isn't a compromise, it is the test's actual domain; at
    data scale you use chi2/G-test (both shipped), and this row is
    the calibration anchor for them.

    Factorial-free enumeration: the hypergeometric pmf is built as a
    RATIO RECURRENCE along the support —
    u(k+1)/u(k) = (r1−k)(c1−k) / ((k+1)(r2−c1+k+1)) — unrolled as an
    ordered cumulative sum of ln-ratios (one window over ≤201 rows),
    max-subtracted for overflow safety, then normalized by Σu (the
    pmf sums to 1), so no lgamma/factorial function is needed in
    either engine and the cumsum order is identical. Two-sided
    p sums all pk ≤ p_obs·(1+1e-7) — the standard "as or more
    extreme by probability" convention with a relative tolerance
    for the FP boundary.

    Scale shape: one bounded top-k heap (16-byte sort key) + ≤201-row
    driver-light arithmetic; nothing downstream of the sample scales
    with the corpus.
    """
    docs = load(spark, sf_dir, "documents")
    samp = (
        docs.select("doc_id", "lang", "n_chars")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .limit(200)
    )
    cells = samp.agg(
        F.sum(
            F.when((F.col("lang") == "en") & (F.col("n_chars") > 300), 1)
            .otherwise(0)
        ).alias("a"),
        F.sum(
            F.when((F.col("lang") == "en") & (F.col("n_chars") <= 300), 1)
            .otherwise(0)
        ).alias("b"),
        F.sum(
            F.when((F.col("lang") != "en") & (F.col("n_chars") > 300), 1)
            .otherwise(0)
        ).alias("c"),
        F.sum(
            F.when((F.col("lang") != "en") & (F.col("n_chars") <= 300), 1)
            .otherwise(0)
        ).alias("d"),
        F.count(F.lit(1)).alias("n"),
    )
    grid = (
        cells.select(
            "a", "b", "c", "d", "n",
            (F.col("a") + F.col("b")).alias("r1"),
            (F.col("c") + F.col("d")).alias("r2"),
            (F.col("a") + F.col("c")).alias("c1"),
            F.explode(F.sequence(F.lit(0), F.lit(200))).alias("k"),
        )
        .filter(
            (F.col("k") >= F.greatest(
                F.lit(0), F.col("r1") + F.col("c1") - F.col("n")
            ))
            & (F.col("k") <= F.least(F.col("r1"), F.col("c1")))
        )
    )
    kmin = F.greatest(F.lit(0), F.col("r1") + F.col("c1") - F.col("n"))
    delta = F.when(F.col("k") == kmin, F.lit(0.0)).otherwise(
        F.log(
            (F.col("r1") - F.col("k") + 1.0)
            * (F.col("c1") - F.col("k") + 1.0)
        )
        - F.log(
            F.col("k")
            * (F.col("r2") - F.col("c1") + F.col("k") + 0.0)
        )
    )
    w_cum = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    lnu = grid.select(
        "a", "b", "c", "d", "n", "k", F.sum(delta).over(w_cum).alias("lu")
    )
    p = lnu.select(
        "a", "b", "c", "d", "n", "k",
        F.exp(F.col("lu") - F.max("lu").over(w_all)).alias("u"),
    )
    norm = p.select(
        "a", "b", "c", "d", "n", "k",
        (F.col("u") / F.sum("u").over(w_all)).alias("pk"),
        F.max(F.when(F.col("k") == F.col("a"), F.col("u"))).over(w_all)
        .alias("u_obs"),
        F.sum("u").over(w_all).alias("u_tot"),
    )
    return norm.agg(
        F.any_value("n").cast("long").alias("n_sample"),
        F.any_value("a").cast("long").alias("n_en_long"),
        F.any_value("b").cast("long").alias("n_en_short"),
        F.any_value("c").cast("long").alias("n_other_long"),
        F.any_value("d").cast("long").alias("n_other_short"),
        F.round(
            F.any_value(F.col("a") * F.col("d"))
            / F.any_value(F.col("b") * F.col("c")).cast("double"),
            4,
        ).alias("odds_ratio"),
        F.round(
            F.sum(
                F.when(
                    F.col("pk")
                    <= 1.0000001 * F.col("u_obs") / F.col("u_tot"),
                    F.col("pk"),
                ).otherwise(0.0)
            ),
            6,
        ).alias("p_two_sided"),
    )


@query(
    "stat_capability_cpk",
    """
WITH s AS (
  SELECT event_type,
    count(*) AS n,
    avg(value) AS mu,
    stddev_samp(value) AS sigma
  FROM events GROUP BY event_type
)
SELECT event_type,
  CAST(n AS BIGINT) AS n,
  round(mu, 4) AS mean_value,
  round(sigma, 4) AS sd_value,
  round((300.0 - 10.0) / (6 * sigma), 4) AS cp,
  round(least(300.0 - mu, mu - 10.0) / (3 * sigma), 4) AS cpk,
  round(
    (least(300.0 - mu, mu - 10.0) / (3 * sigma)) /
    ((300.0 - 10.0) / (6 * sigma)), 4) AS centering_k
FROM s
""",
)
def stat_capability_cpk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-capability indices Cp / Cpk per event type against a
    fixed spec band [10, 300] on `value` — the summary the SPC family
    (events_imr_chart, events_cusum_chart, events_ewma_chart,
    events_error_pchart) feeds into: control charts say whether the
    process is STABLE, capability indices say whether a stable process
    actually FITS the spec. Cp is potential capability (spec width /
    6σ), Cpk penalizes off-center means (nearest spec edge / 3σ), and
    their ratio is the centering coefficient k — Cpk < 1 with Cp > 1
    reads "capable but mis-centered: shift the mean, don't fight the
    variance".

    Scale shape: one conditional-moment pass — count/avg/stddev are
    distributive/algebraic aggregates with map-side partials to the
    |event_type|-key grain; the index arithmetic is scalar per group.
    Same-expression moments in both engines (Welford-free textbook
    combination is what both implement for stddev_samp over doubles);
    4 dp rounding absorbs partition-order last-bits.
    """
    ev = load(spark, sf_dir, "events")
    usl, lsl = F.lit(300.0), F.lit(10.0)
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    cp = (usl - lsl) / (6 * F.col("sigma"))
    cpk = F.least(usl - F.col("mu"), F.col("mu") - lsl) / (
        3 * F.col("sigma")
    )
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("mu", 4).alias("mean_value"),
        F.round("sigma", 4).alias("sd_value"),
        F.round(cp, 4).alias("cp"),
        F.round(cpk, 4).alias("cpk"),
        F.round(cpk / cp, 4).alias("centering_k"),
    )
