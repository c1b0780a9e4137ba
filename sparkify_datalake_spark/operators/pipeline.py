"""Training-data pipeline ops: deterministic sampling/splits, benchmark
contamination checks, Gopher-style quality gates (SURVEY §2-I-bis family;
north-star additions per BASELINE.json:6 — the day-2 surface of a corpus
pipeline once dedup/quality basics exist).

Scale notes (100 TB):
- Sampling/splitting hashes each row independently (md5 — the one hash
  both engines share bit-for-bit) — map-side only, no shuffle, stable
  under reruns/backfills because membership depends on the key alone,
  never on partitioning or row order. That reproducibility is the whole
  point: Spark's df.sample() is seed×partitioning-dependent and would
  resample under AQE/repartition changes.
- Contamination: the eval-set shingle list is tiny next to the corpus →
  broadcast it; the corpus side streams shingles through a map + one
  partial-aggregated groupBy(doc_id). Never join corpus×corpus.
- Quality gates are pure per-row expressions (whole-stage codegen).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkify_datalake_spark.registry import query
from sparkify_datalake_spark.sources.load import load, local_frame

# First two hex chars of md5(key): 256 equal-probability buckets shared
# bit-for-bit by Spark and DuckDB (both emit lowercase hex).
_MD5_BUCKET_SPARK = "substring(md5(cast(doc_id AS string)), 1, 2)"
_MD5_BUCKET_SQL = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)"


@query(
    "sample_hash_pct",
    f"""
SELECT doc_id, lang, n_chars
FROM documents
WHERE {_MD5_BUCKET_SQL} <= '19'
""",
)
def sample_hash_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample via md5 bucketing.

    Hex buckets '00'..'19' = 26/256 ≈ 10.2%. Unlike df.sample(seed),
    membership is a pure function of doc_id: stable across reruns,
    repartitioning, AQE re-plans, and engine versions — the property a
    100 TB pipeline needs so a sampled eval set doesn't drift between
    ingest runs.
    """
    docs = load(spark, sf_dir, "documents")
    return docs.filter(F.expr(_MD5_BUCKET_SPARK) <= "19").select(
        "doc_id", "lang", "n_chars"
    )


@query(
    "split_train_valid_test",
    f"""
SELECT doc_id,
  CASE WHEN {_MD5_BUCKET_SQL} <= 'cb' THEN 'train'
       WHEN {_MD5_BUCKET_SQL} <= 'e5' THEN 'valid'
       ELSE 'test' END AS split
FROM documents
""",
)
def split_train_valid_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/valid/test assignment by md5 bucket.

    Bucket boundaries: '00'-'cb' (204/256 ≈ 79.7%) → train, 'cc'-'e5'
    (26/256 ≈ 10.2%) → valid, rest → test. Disjoint and exhaustive by
    construction, leak-proof under re-ingest (a doc can never migrate
    between splits), and embarrassingly parallel — no shuffle, no state.
    """
    docs = load(spark, sf_dir, "documents")
    b = F.expr(_MD5_BUCKET_SPARK)
    return docs.select(
        "doc_id",
        F.when(b <= "cb", "train")
        .when(b <= "e5", "valid")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "text_contamination",
    """
WITH sh AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform(
      range(1, len(string_split(lower(text),' ')) - 1),
      i -> concat_ws(' ', string_split(lower(text),' ')[i],
                     string_split(lower(text),' ')[i+1],
                     string_split(lower(text),' ')[i+2])))) AS s
  FROM documents
  WHERE len(string_split(lower(text),' ')) >= 3
),
ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0)
SELECT c.doc_id, count(DISTINCT c.s) AS n_shared
FROM sh c JOIN ev ON c.s = ev.s
WHERE c.doc_id % 20 <> 0
GROUP BY c.doc_id
""",
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: corpus docs sharing a word 3-gram
    with the held-out eval set (docs with doc_id % 20 == 0 stand in for
    an external benchmark).

    The decontamination pass every serious training corpus runs: n-gram
    overlap against eval benchmarks, flagging docs for removal. Shape:
    eval shingles are DISTINCT'd small and broadcast; the corpus side is
    one explode + broadcast-hash semi-match + partial-agg count per doc.
    The corpus never self-joins, so cost is O(corpus shingles) — at
    100 TB with real 8-13-grams the eval list stays a few million rows,
    still broadcastable (or a bucketed join if not).
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    shingles = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(toks) - 3), i -> "
                        "concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
                    )
                )
            ).alias("s"),
        )
    )
    ev = (
        shingles.filter(F.col("doc_id") % 20 == 0).select("s").distinct()
    )
    return (
        shingles.filter(F.col("doc_id") % 20 != 0)
        .join(F.broadcast(ev), "s")
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("n_shared"))
    )


@query(
    "text_gopher_rules",
    """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
)
SELECT doc_id,
  len(toks) AS n_words,
  round(CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
        / len(toks), 4) AS mean_word_len,
  round(CAST(len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
             AS DOUBLE) / len(toks), 4) AS alpha_frac,
  (len(toks) BETWEEN 5 AND 1000)
    AND (CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
         / len(toks) BETWEEN 2 AND 10)
    AND (CAST(len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
              AS DOUBLE) / len(toks) >= 0.8)
    AS keep
FROM t
""",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style heuristic quality gate per document.

    Three of the classic repetition/shape filters, composed into a
    boolean keep flag: word count in [5, 1000], mean word length in
    [2, 10], fraction of purely-alphabetic words ≥ 0.8. All per-row
    array expressions — whole-stage codegen, zero shuffles at any scale.
    Thresholds follow the published Gopher rules adapted to this
    synthetic corpus's ranges.
    """
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
    )
    toks = F.col("toks")
    total_len = F.expr(
        "aggregate(transform(toks, t -> length(t)), 0, (a, x) -> a + x)"
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$")))
    mean_len = total_len.cast("double") / F.size(toks)
    alpha_frac = n_alpha.cast("double") / F.size(toks)
    return base.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        F.round(mean_len, 4).alias("mean_word_len"),
        F.round(alpha_frac, 4).alias("alpha_frac"),
        (
            F.size(toks).between(5, 1000)
            & mean_len.between(2, 10)
            & (alpha_frac >= 0.8)
        ).alias("keep"),
    )


@query(
    "text_pii_redact",
    """
SELECT doc_id,
  regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS redacted,
  len(regexp_extract_all(text, '[0-9]+')) AS n_redactions
FROM documents
""",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-based redaction pass (digit runs → <NUM> placeholder).

    The privacy-scrub stage of a corpus pipeline: in production the
    pattern set covers emails/phones/SSNs (same regexp_replace chain,
    Java∩RE2-safe patterns per §7.2); the fixture corpus only carries
    digit runs, which keeps the oracle meaningful. Pure per-row regex —
    codegen, zero shuffles. n_redactions counts the matches for audit.
    """
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_replace("text", "[0-9]+", "<NUM>").alias("redacted"),
        F.size(F.expr("regexp_extract_all(text, '[0-9]+', 0)")).alias(
            "n_redactions"
        ),
    )


_CHUNK_LEN = 32
_CHUNK_STRIDE = 24


@query(
    "doc_chunking",
    f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
)
SELECT doc_id, chunk_id,
  (chunk_id * {_CHUNK_STRIDE}) AS start_tok,
  array_to_string(
    list_slice(toks, chunk_id * {_CHUNK_STRIDE} + 1,
               chunk_id * {_CHUNK_STRIDE} + {_CHUNK_LEN}), ' ') AS chunk_text,
  least({_CHUNK_LEN}, len(toks) - chunk_id * {_CHUNK_STRIDE}) AS n_tokens
FROM t, unnest(range(0,
  greatest(1, CAST(ceil((len(toks) - {_CHUNK_LEN})
                        / CAST({_CHUNK_STRIDE} AS DOUBLE)) AS BIGINT) + 1)
)) AS u(chunk_id)
""",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (len 32, stride 24) per doc —
    the standard pre-embedding segmentation of an ingestion pipeline.

    Chunk count = ceil((n_tokens - len)/stride) + 1 (min 1), each chunk
    projected as (start, joined text, actual token count). sequence +
    explode keeps it one narrow stage: no shuffle, no UDF; at 100 TB
    this is a map-side 1→k fan-out feeding the embedding kernel.
    """
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
    )
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil(
            (F.size("toks") - _CHUNK_LEN) / F.lit(float(_CHUNK_STRIDE))
        ).cast("long")
        + 1,
    )
    return t.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        (F.col("chunk_id") * _CHUNK_STRIDE).cast("long").alias("start_tok"),
        F.array_join(
            F.slice(
                "toks", F.col("chunk_id") * _CHUNK_STRIDE + 1, _CHUNK_LEN
            ),
            " ",
        ).alias("chunk_text"),
        F.least(
            F.lit(_CHUNK_LEN),
            F.size("toks") - F.col("chunk_id") * _CHUNK_STRIDE,
        ).cast("long").alias("n_tokens"),
    )


@query(
    "feat_zscore",
    """
SELECT event_id, event_type,
  round(
    (value - avg(value) OVER (PARTITION BY event_type))
    / stddev_samp(value) OVER (PARTITION BY event_type), 6) AS z
FROM events
""",
)
def feat_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization — the standard feature-prep
    transform before training/embedding.

    One entity-keyed window pass: mean and sample-stddev per event_type
    computed and applied in the same stage. At 100 TB prefer the
    two-job form (tiny groupBy stats → broadcast join back) so the wide
    window sort disappears; semantics identical, and agg_stats already
    demonstrates the stats half. Double summation order differs across
    engines by ~1e-13 relative — far inside the 6dp rounding.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp(
        "value"
    ).over(w)
    return ev.select(
        "event_id", "event_type", F.round(z, 6).alias("z")
    )


_PROFILE_COLS = ["o_custkey", "o_totalprice", "o_orderstatus"]


@query(
    "profile_table",
    " UNION ALL ".join(
        f"""
SELECT '{c}' AS col_name,
  count(*) - count({c}) AS n_nulls,
  count(DISTINCT {c}) AS n_distinct,
  CAST(min({c}) AS VARCHAR) AS min_s,
  CAST(max({c}) AS VARCHAR) AS max_s
FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (null count, distinct count, min/max) — the
    describe/data-quality primitive behind every ingestion dashboard.

    One aggregate pass per column, unioned into a tall (col_name, stat)
    frame; every stat is partial→final aggregatable, so at 100 TB this
    is k map-side passes (or one pass with grouping sets) regardless of
    table width. Values stringify so heterogeneous column types share
    one schema — both engines render these ints/doubles identically.
    """
    orders = load(spark, sf_dir, "orders")
    parts = [
        orders.agg(
            F.lit(c).alias("col_name"),
            (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
            F.countDistinct(c).alias("n_distinct"),
            F.min(c).cast("string").alias("min_s"),
            F.max(c).cast("string").alias("max_s"),
        )
        for c in _PROFILE_COLS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def observed_write(
    df: DataFrame, path: str, qc_cols: dict[str, Column] | None = None
) -> dict:
    """Write Parquet with QC counters collected ON the write job —
    ``df.observe`` piggybacks the metrics on the action, so data-quality
    numbers (rows written, null counts, domain bounds) cost ZERO extra
    scans. At 100 TB the alternative — a separate count/agg pass after
    the write — re-reads the table; this is free.

    Returns the metrics dict. Default counters: row count and, for
    every top-level numeric column, its null count. Callers pass
    ``qc_cols`` to add their own aggregate expressions.
    """
    from pyspark.sql import Observation

    exprs = {"n_rows": F.count(F.lit(1))}
    for f in df.schema.fields:
        if f.dataType.typeName() in (
            "integer", "long", "double", "float", "decimal",
        ):
            exprs[f"n_null_{f.name}"] = F.count(F.lit(1)) - F.count(f.name)
    if qc_cols:
        exprs.update(qc_cols)
    obs = Observation("qc")
    observed = df.observe(
        obs, *[e.alias(name) for name, e in exprs.items()]
    )
    observed.write.mode("overwrite").parquet(path)
    return obs.get


@query(
    "sample_stratified",
    f"""
SELECT doc_id, lang
FROM documents
WHERE {_MD5_BUCKET_SQL} <=
  CASE lang WHEN 'en' THEN '1f' ELSE '7f' END
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum rates via
    per-stratum hash-bucket thresholds (downsample the majority
    language to ~12.5%, keep ~50% of the tail languages — the
    rebalancing move every multilingual corpus build makes).

    Same membership-is-a-pure-function property as sample_hash_pct —
    unlike ``df.sampleBy(seed)``, whose row selection depends on
    partition layout, this survives repartitioning, AQE, and engine
    swaps unchanged (which is why it can be hash-checked at all).
    """
    docs = load(spark, sf_dir, "documents")
    bound = F.when(F.col("lang") == "en", F.lit("1f")).otherwise(
        F.lit("7f")
    )
    return docs.filter(F.expr(_MD5_BUCKET_SPARK) <= bound).select(
        "doc_id", "lang"
    )


def _md5_u01(key_sql: str) -> str:
    """Uniform(0,1) derived from the first 8 hex chars of md5(key) —
    bit-identical in Spark SQL and DuckDB (both emit lowercase hex and
    share instr/substring semantics), so weighted sampling is a pure
    function of the key: stable across engines, reruns, repartitioning.
    """
    terms = " + ".join(
        f"(instr('0123456789abcdef', substring(md5({key_sql}), {i + 1}, 1))"
        f" - 1) * {16 ** (7 - i)}.0"
        for i in range(8)
    )
    return f"(({terms}) + 0.5) / 4294967296.0"


_W_KEY_SPARK = (
    f"-ln({_md5_u01('cast(doc_id AS string)')}) / greatest(n_chars, 1)"
)
_W_KEY_SQL = (
    f"-ln({_md5_u01('CAST(doc_id AS VARCHAR)')}) / greatest(n_chars, 1)"
)


@query(
    "sample_weighted",
    f"""
SELECT doc_id, lang, n_chars
FROM documents
ORDER BY {_W_KEY_SQL}, doc_id
LIMIT 200
""",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sample (Efraimidis–Spirakis
    exponential race): each doc draws key = -ln(u)/w with u a pure
    function of doc_id (md5-derived) and w = n_chars; the 200 smallest
    keys are an exact weighted-without-replacement sample. Unlike
    df.sample(seed), membership survives engine swaps, repartitioning
    and AQE re-plans — the property a 100 TB pipeline needs so a
    training subset is reproducible from the catalog alone. Plan: one
    scan + TakeOrderedAndProject (per-partition top-200 heaps, then a
    200·P-row driver merge — no full sort, no full shuffle). Ordering
    gap between adjacent keys (~1e-6 at n=10k) is ~10 orders of
    magnitude above cross-engine libm ulp differences in ln().
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", "lang", "n_chars", F.expr(_W_KEY_SPARK).alias("_k")
        )
        .orderBy("_k", "doc_id")
        .limit(200)
        .drop("_k")
    )


@query(
    "dq_constraints",
    """
WITH base AS (
  SELECT
    count(*) AS n_rows,
    count(*) - count(DISTINCT o_orderkey) AS dup_keys,
    sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS bad_price,
    sum(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 0 ELSE 1 END)
      AS bad_status,
    sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS null_date
  FROM orders
),
fk AS (
  SELECT count(*) AS orphan FROM orders o
  WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer)
)
SELECT check_name, n_rows, n_violations, n_violations = 0 AS passed
FROM (
  SELECT 'o_orderkey_unique' AS check_name, n_rows,
         CAST(dup_keys AS BIGINT) AS n_violations FROM base
  UNION ALL
  SELECT 'o_totalprice_positive', n_rows, CAST(bad_price AS BIGINT)
  FROM base
  UNION ALL
  SELECT 'o_orderstatus_in_domain', n_rows, CAST(bad_status AS BIGINT)
  FROM base
  UNION ALL
  SELECT 'o_orderdate_not_null', n_rows, CAST(null_date AS BIGINT)
  FROM base
  UNION ALL
  SELECT 'o_custkey_fk_customer', b.n_rows, CAST(f.orphan AS BIGINT)
  FROM base b CROSS JOIN fk f
) t
""",
)
def dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite over orders (the Deequ-shaped
    contract check run before any table is published): uniqueness,
    range, domain, completeness and referential integrity, reported as
    one row per constraint with its violation count. Everything except
    the FK lands in ONE aggregation pass (conditional sums + one
    count_distinct share the scan and partial-aggregate); the FK check
    is a broadcast LEFT ANTI join against the customer key column —
    never an IN-subquery shuffle. At 100 TB the suite costs one fact
    scan + one dim-key broadcast, which is why this shape (not
    per-constraint queries) is the production pattern.
    """
    orders = load(spark, sf_dir, "orders")
    # DISTINCT dim keys so the membership left-join below can never
    # duplicate fact rows (c_custkey is the PK, but the check must not
    # assume the dim it audits is itself clean).
    cust_keys = (
        load(spark, sf_dir, "customer").select("c_custkey").distinct()
    )

    # ONE fact scan for all five checks (r12; was two — a global agg
    # plus a separate anti-join scan): FK membership rides a broadcast
    # LEFT join whose null side IS the orphan count, so every counter
    # shares the same partial-aggregated pass. The five report rows
    # come from exploding the 1-row aggregate — no 5-way union of the
    # same subtree, one linear action chain.
    j = orders.join(
        F.broadcast(cust_keys),
        orders.o_custkey == cust_keys.c_custkey,
        "left",
    )
    base = j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias(
            "dup_keys"
        ),
        F.sum(
            F.when(F.col("o_totalprice") > 0, 0).otherwise(1)
        ).alias("bad_price"),
        F.sum(
            F.when(
                F.col("o_orderstatus").isin("O", "F", "P"), 0
            ).otherwise(1)
        ).alias("bad_status"),
        F.sum(
            F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)
        ).alias("null_date"),
        F.sum(
            F.when(F.col("c_custkey").isNull(), 1).otherwise(0)
        ).alias("orphan"),
    )
    specs = [
        ("o_orderkey_unique", "dup_keys"),
        ("o_totalprice_positive", "bad_price"),
        ("o_orderstatus_in_domain", "bad_status"),
        ("o_orderdate_not_null", "null_date"),
        ("o_custkey_fk_customer", "orphan"),
    ]
    checks = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(cname).alias("check_name"),
                    F.col(col).cast("long").alias("n_violations"),
                )
                for cname, col in specs
            ]
        )
    ).alias("chk")
    return base.select("n_rows", checks).select(
        F.col("chk.check_name").alias("check_name"),
        "n_rows",
        F.col("chk.n_violations").alias("n_violations"),
        (F.col("chk.n_violations") == 0).alias("passed"),
    )


_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


@query(
    "dq_referential_integrity",
    "\nUNION ALL\n".join(
        f"""
SELECT '{c}.{ck}->{p}.{pk}' AS relation,
  (SELECT count(*) FROM {c}) AS n_child,
  (SELECT count(*) FROM {c}
   WHERE {ck} IS NOT NULL
     AND {ck} NOT IN (SELECT {pk} FROM {p})) AS n_orphans,
  round((SELECT count(*) FROM {c}
         WHERE {ck} IS NOT NULL
           AND {ck} NOT IN (SELECT {pk} FROM {p}))
        / CAST((SELECT count(*) FROM {c}) AS DOUBLE), 6) AS orphan_frac
"""
        for c, ck, p, pk in _FK_EDGES
    ),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-star-schema referential-integrity audit: for each of the 7
    foreign-key edges, the child row count, the orphan count (non-null
    FK with no matching parent key), and the orphan fraction — the
    first report run after any ingest/backfill, and the generalization
    of dq_constraints' single o_custkey check to the full schema graph.

    Each edge pre-aggregates the child to its FK KEY GRAIN first —
    ``groupBy(fk).count()`` partial-aggregates map-side, so the
    exchange carries one row per distinct key instead of one per child
    row (38M → 9.6M for lineitem→orders at the 64× probe) — then runs
    ONE key-grain LEFT-OUTER join against the deduped parent keys and
    folds both audit numbers from the same join output: n_child =
    Σcnt, n_orphans = Σcnt where the FK is non-null with no parent
    hit. The joins are deliberately UNHINTED: an earlier shape forced
    ``broadcast(parent_keys)``, but parent key sets here grow with the
    data (orders is 9.6M keys at 64× — a single-threaded hash build
    today, impossible at 100 TB); AQE still broadcasts the genuinely
    small parents and crosses to a co-partitioned shuffle join for the
    fact-sized ones, whose child side is already the deduped key grain.

    A child that anchors several edges (lineitem: →orders, →part,
    →supplier) deliberately runs one PER-EDGE pass instead of a shared
    GROUPING SETS scan: each per-edge groupBy prunes the parquet read
    to ONE column (a cheap vectorized scan), while the "share the
    scan" Expand multiplies the 38M-row stream ×3 BEFORE partial
    aggregation — measured 22.8 s (grouping sets) vs 9.2 s (per-edge)
    at the 64× probe, the same fan-out-before-reduce pathology the
    bloom probe and the permutation grid had. Column pruning makes
    "N scans of one column" cheaper than "one scan expanded N×".

    The per-edge PIPELINES, though, are fused (round 9): the seven
    key-grain frames union under an edge tag into ONE shuffle-agg, the
    seven parent key sets into one tagged distinct, and a single
    co-partitioned (edge, key) left join + one edge-grain fold replace
    the former 7 joins + 7 scalar aggregates + 6 unions — 27 Spark
    jobs down to ~6 with byte-identical per-row work (the pruned
    scans now run as sibling map stages of one job instead of seven
    sequential barriers; at 100 TB each stays its own column-pruned
    parquet read). All TPC-H key columns are int64, so the tagged
    union is cast-free. A zero-weight sentinel row per edge keeps an
    empty (or fully-pruned) child auditing as 0/0 instead of dropping
    out of the grouped fold.
    """
    edge_names = [
        f"{child}.{ck}->{parent}.{pk}" for child, ck, parent, pk in _FK_EDGES
    ]
    kc_arms = [
        load(spark, sf_dir, child).select(
            F.lit(i).alias("edge"),
            F.col(ck).alias("key"),
            F.lit(1).alias("w"),
        )
        for i, (child, ck, _, _) in enumerate(_FK_EDGES)
    ]
    # Sentinel: one (edge, null-key, weight-0) row per edge so every
    # edge survives the groupBy even with an empty child.
    sentinel = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(i) for i in range(len(_FK_EDGES))])
        ).alias("edge"),
        F.lit(None).cast("long").alias("key"),
        F.lit(0).alias("w"),
    )
    kc = None
    for arm in kc_arms + [sentinel]:
        kc = arm if kc is None else kc.unionByName(arm)
    kc = kc.groupBy("edge", "key").agg(F.sum("w").alias("cnt"))

    p = None
    for i, (_, _, parent, pk) in enumerate(_FK_EDGES):
        arm = load(spark, sf_dir, parent).select(
            F.lit(i).alias("edge"), F.col(pk).alias("key")
        )
        p = arm if p is None else p.unionByName(arm)
    p = p.distinct().withColumn("hit", F.lit(1))

    joined = kc.join(p, ["edge", "key"], "left_outer")
    agg = joined.groupBy("edge").agg(
        F.sum("cnt").alias("n_child"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("key").isNotNull() & F.col("hit").isNull(),
                    F.col("cnt"),
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        ).alias("n_orphans"),
    )
    name_arr = F.array(*[F.lit(n) for n in edge_names])
    return agg.select(
        F.element_at(name_arr, F.col("edge") + 1).alias("relation"),
        "n_child",
        "n_orphans",
        F.round(
            F.col("n_orphans") / F.col("n_child").cast("double"), 6
        ).alias("orphan_frac"),
    )


@query(
    "sample_class_balanced",
    """
WITH sized AS (
  SELECT event_type, count(*) AS n FROM events GROUP BY 1
),
k AS (SELECT min(n) AS k FROM sized),
ranked AS (
  SELECT event_id, event_type,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
         ) AS rk
  FROM events
)
SELECT event_id, event_type
FROM ranked CROSS JOIN k
WHERE rk <= k.k
""",
)
def sample_class_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every event type reduced to the
    minority class's size — the rebalancing move before training a
    classifier on skewed labels. Distinct from sample_stratified
    (which applies per-stratum RATES); balancing equalizes absolute
    counts to min(n).

    Membership is a pure function of the row: rank within class by
    md5(event_id) (a deterministic shuffle — no seed, no partition-
    layout dependence, the sample_hash_pct discipline), keep the
    first k. One window per class partition (parallel across classes
    and, at 100 TB, the per-class rank swaps to the two-phase ranking
    of win_ntile_twophase — hash-rank thresholds computed from a
    per-class count, then a map-side filter); the k scalar is a
    broadcast 1-row frame.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    sized = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    k = sized.agg(F.min("n").alias("k"))
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    ranked = ev.select(
        "event_id", "event_type", F.row_number().over(w).alias("rk")
    )
    return (
        ranked.crossJoin(F.broadcast(k))
        .filter(F.col("rk") <= F.col("k"))
        .select("event_id", "event_type")
    )


@query(
    "dq_calendar_gaps",
    """
WITH d AS (
  SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
),
b AS (SELECT min(d) AS lo, max(d) AS hi FROM d),
cal AS (
  SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b),
                                INTERVAL 1 DAY))::DATE AS d
),
mo AS (
  SELECT CAST(date_trunc('month', c.d) AS DATE) AS month,
         count(*) AS n_days,
         sum(CASE WHEN x.d IS NULL THEN 1 ELSE 0 END) AS n_gap_days
  FROM cal c LEFT JOIN d x ON x.d = c.d
  GROUP BY 1
)
SELECT month,
  CAST(n_days AS BIGINT) AS n_days,
  CAST(n_days - n_gap_days AS BIGINT) AS n_active_days,
  CAST(n_gap_days AS BIGINT) AS n_gap_days,
  round(n_gap_days / CAST(n_days AS DOUBLE), 6) AS gap_share
FROM mo
ORDER BY month
""",
)
def dq_calendar_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-completeness audit: for every month in the orders
    history, how many calendar days had NO orders at all — the
    ingestion-gap detector (a feed that silently dropped a day shows
    up here before any downstream metric quietly dips), joining
    dq_constraints / dq_referential_integrity as the temporal member
    of the data-quality family.

    Scale shape: facts collapse to DISTINCT active days once (at
    100 TB that's the only full scan, partial-aggregatable); the
    dense calendar generates from a 1-row min/max bound (sequence +
    explode — no data volume involved) and LEFT-joins the tiny
    active-day set; the month rollup is arithmetic on ~80 rows. Pure
    integer counts plus one display ratio.
    """
    orders = load(spark, sf_dir, "orders")
    d = orders.select(
        F.col("o_orderdate").cast("date").alias("d")
    ).distinct()
    b = d.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = b.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    mo = (
        cal.join(d.withColumnRenamed("d", "xd"), cal.d == F.col("xd"), "left")
        .groupBy(
            F.date_trunc("month", cal.d).cast("date").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(
                F.when(F.col("xd").isNull(), 1).otherwise(0)
            ).alias("n_gap_days"),
        )
    )
    return mo.select(
        "month",
        F.col("n_days").cast("long").alias("n_days"),
        (F.col("n_days") - F.col("n_gap_days"))
        .cast("long")
        .alias("n_active_days"),
        F.col("n_gap_days").cast("long").alias("n_gap_days"),
        F.round(
            F.col("n_gap_days") / F.col("n_days").cast("double"), 6
        ).alias("gap_share"),
    ).orderBy("month")


@query(
    "dq_freshness_lag",
    """
WITH f AS (
  SELECT 'orders' AS feed, max(o_orderdate) AS latest FROM orders
  UNION ALL
  SELECT 'lineitem', max(l_shipdate) FROM lineitem
  UNION ALL
  SELECT 'events', max(ts) FROM events
),
ref AS (SELECT max(latest) AS now_ts FROM f)
SELECT f.feed, f.latest,
  CAST(date_diff('hour', f.latest, r.now_ts) AS BIGINT) AS lag_hours,
  f.latest = r.now_ts AS is_freshest
FROM f CROSS JOIN ref r
ORDER BY f.feed
""",
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-freshness audit: each feed's latest timestamp and its lag
    (hours) behind the freshest feed in the lake — the silent-stall
    detector (a connector that stopped three days ago still passes
    row-count and FK audits; it fails THIS one). Completes the dq
    family's time axis alongside dq_calendar_gaps (holes inside a
    feed) with the cross-feed staleness view.

    Three column-pruned max() scans (partial-aggregated — each reads
    one column and reduces map-side to per-partition maxima), a 3-row
    union, and a broadcast 1-row reference. Timestamp comparisons are
    exact; the hour diff truncates identically in both engines
    (timestamps are microsecond-exact fixture values).
    """
    feeds = [
        ("orders", "o_orderdate"),
        ("lineitem", "l_shipdate"),
        ("events", "ts"),
    ]
    f = None
    for feed, col in feeds:
        row = (
            load(spark, sf_dir, feed)
            .agg(F.max(col).alias("latest"))
            .select(F.lit(feed).alias("feed"), "latest")
        )
        f = row if f is None else f.unionByName(row)
    ref = f.agg(F.max("latest").alias("now_ts"))
    # DuckDB's date_diff('hour', a, b) counts hour-BOUNDARY crossings,
    # not floor(elapsed/3600): truncate both ends to the hour first so
    # the Spark arithmetic is that same crossing count by construction
    lag_h = (
        F.unix_timestamp(F.date_trunc("hour", F.col("now_ts")))
        - F.unix_timestamp(F.date_trunc("hour", F.col("latest")))
    ) / 3600
    return (
        f.crossJoin(F.broadcast(ref))
        .select(
            "feed",
            "latest",
            lag_h.cast("long").alias("lag_hours"),
            (F.col("latest") == F.col("now_ts")).alias("is_freshest"),
        )
        .orderBy("feed")
    )


@query(
    "dq_duplicate_orders",
    """
WITH g AS (
  SELECT o_custkey, CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
         count(*) AS n, min(o_orderkey) AS first_key,
         min(CAST(round(o_totalprice * 100) AS BIGINT)) AS min_cents,
         max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_cents
  FROM orders
  GROUP BY 1, 2 HAVING count(*) > 1
),
tot AS (SELECT count(*) AS n_orders FROM orders)
SELECT g.o_custkey, g.d AS order_day,
  CAST(g.n AS BIGINT) AS n_same_day,
  CAST(g.first_key AS BIGINT) AS first_orderkey,
  round(g.min_cents / 100.0, 2) AS min_price,
  round(g.max_cents / 100.0, 2) AS max_price,
  g.min_cents = g.max_cents AS amounts_identical,
  round((g.n - 1) / CAST(t.n_orders AS DOUBLE), 6) AS excess_frac
FROM g CROSS JOIN tot t
ORDER BY g.n DESC, g.o_custkey, g.d
""",
)
def dq_duplicate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-submission audit: customers with MULTIPLE orders on
    the same day, with the amount spread as evidence — retry storms,
    at-least-once ingestion and double-submits all land here, and
    amounts_identical = true is the double-charge smoking gun (the
    transactional sibling of dedup_exact, survivor-keyed via the min
    orderkey).

    One partial-aggregated groupBy on the (customer, day) grain with
    exact-cent min/max (the round(×100) lattice keeps float pennies
    from faking a spread); HAVING n>1 bounds the output to the
    collision set; the corpus total rides a broadcast 1-row frame.
    Total ORDER BY keeps the report deterministic.
    """
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    g = (
        o.select(
            "o_custkey",
            F.date_trunc("day", "o_orderdate").cast("date").alias("d"),
            cents.alias("cents"),
            "o_orderkey",
        )
        .groupBy("o_custkey", "d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("first_key"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .filter(F.col("n") > 1)
    )
    tot = o.agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "o_custkey",
            F.col("d").alias("order_day"),
            F.col("n").cast("long").alias("n_same_day"),
            F.col("first_key").cast("long").alias("first_orderkey"),
            F.round(F.col("min_cents") / 100.0, 2).alias("min_price"),
            F.round(F.col("max_cents") / 100.0, 2).alias("max_price"),
            (F.col("min_cents") == F.col("max_cents")).alias(
                "amounts_identical"
            ),
            F.round(
                (F.col("n") - 1) / F.col("n_orders").cast("double"), 6
            ).alias("excess_frac"),
        )
        .orderBy(F.col("n_same_day").desc(), "o_custkey", "order_day")
    )


@query(
    "pipeline_corpus_e2e",
    f"""
WITH kept AS (
  SELECT doc_id, text, string_split(lower(text), ' ') AS toks
  FROM documents
  WHERE len(string_split(lower(text), ' ')) BETWEEN 5 AND 1000
    AND CAST(list_sum(list_transform(string_split(lower(text), ' '),
                                     t -> len(t))) AS DOUBLE)
        / len(string_split(lower(text), ' ')) BETWEEN 2 AND 10
    AND CAST(len(list_filter(string_split(lower(text), ' '),
                             t -> regexp_matches(t, '^[a-z]+$')))
             AS DOUBLE)
        / len(string_split(lower(text), ' ')) >= 0.8
),
surv AS (
  SELECT min(doc_id) AS doc_id, any_value(len(toks)) AS n_toks
  FROM kept GROUP BY text
),
labeled AS (
  SELECT n_toks,
    CASE WHEN {_MD5_BUCKET_SQL} <= 'cb' THEN 'train'
         WHEN {_MD5_BUCKET_SQL} <= 'e5' THEN 'valid'
         ELSE 'test' END AS split
  FROM surv
),
corpus AS (SELECT count(*) AS n_raw FROM documents)
SELECT l.split,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(l.n_toks) AS BIGINT) AS n_tokens,
  round(avg(CAST(l.n_toks AS DOUBLE)), 4) AS mean_tokens,
  round(count(*) / CAST(any_value(c.n_raw) AS DOUBLE), 6) AS yield_frac
FROM labeled l CROSS JOIN corpus c
GROUP BY l.split ORDER BY l.split
""",
)
def pipeline_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-corpus pipeline END-TO-END as one plan: Gopher
    quality gate → byte-exact dedup (min-doc_id survivor per text) →
    deterministic md5 train/valid/test split → per-split doc/token
    counts and end-to-end yield — the integration query proving the
    pieces (text_gopher_rules, dedup_exact, split_train_valid_test)
    compose into the shape a real data-curation run executes nightly.

    One corpus scan feeds the per-row quality gate (whole-stage
    codegen); dedup is the single groupBy(text) shuffle carrying only
    survivors' (doc_id, token count); the split is a pure function of
    the SURVIVOR id (so re-ingest can't migrate docs between splits —
    the leak-proofing property); the final rollup is 3 rows. Every
    stage is the same expression its standalone §2 operator uses, so
    this row is also an integration test of their composability.
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    total_len = F.expr(
        "aggregate(transform(toks, t -> length(t)), 0, (a, x) -> a + x)"
    )
    base = docs.select("doc_id", "text", toks.alias("toks"))
    mean_len = total_len.cast("double") / F.size("toks")
    alpha_frac = (
        F.size(F.filter("toks", lambda t: t.rlike("^[a-z]+$"))).cast(
            "double"
        )
        / F.size("toks")
    )
    kept = base.filter(
        F.size("toks").between(5, 1000)
        & mean_len.between(2, 10)
        & (alpha_frac >= 0.8)
    )
    surv = kept.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.any_value(F.size("toks")).alias("n_toks"),
    )
    b = F.expr(_MD5_BUCKET_SPARK)
    labeled = surv.select(
        "n_toks",
        F.when(b <= "cb", "train")
        .when(b <= "e5", "valid")
        .otherwise("test")
        .alias("split"),
    )
    corpus = docs.agg(F.count(F.lit(1)).alias("n_raw"))
    return (
        labeled.crossJoin(F.broadcast(corpus))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.round(F.avg(F.col("n_toks").cast("double")), 4).alias(
                "mean_tokens"
            ),
            F.round(
                F.count(F.lit(1))
                / F.any_value("n_raw").cast("double"),
                6,
            ).alias("yield_frac"),
        )
        .orderBy("split")
    )


@query(
    "dim_scd2_build",
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
)
SELECT o_custkey AS custkey, attr AS priority,
  d AS effective_from,
  lead(d) OVER (PARTITION BY o_custkey ORDER BY d) AS effective_to,
  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY d)
       AS BIGINT) AS version,
  lead(d) OVER (PARTITION BY o_custkey ORDER BY d) IS NULL AS is_current
FROM ch
ORDER BY custkey, version
""",
)
def dim_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: collapse each customer's
    order-priority history into versioned validity intervals
    [effective_from, effective_to) with an is_current flag -- the
    warehouse-dimension primitive that join_asof/join_range consume as
    their right side (this op BUILDS what those ops probe), and the
    gaps-and-islands pattern events_streaks applies to activity runs,
    here applied to attribute change-points.

    Three entity-partitioned passes, all keyed on custkey: (1) one
    partial-aggregatable groupBy to the (customer, day) grain with an
    arg-min-by-orderkey attribute pick (deterministic under same-day
    collisions -- the dq_duplicate_orders scenario); (2) a lag window
    keeps only change-points (consecutive-run collapse, so the output
    is change-sized, not order-sized); (3) lead/row_number close the
    intervals and stamp versions. At 100 TB every window partitions on
    the entity key -- no global sort anywhere -- and the three stages
    reuse one (custkey) shuffle partitioning.
    """
    return scd2_frame(spark, sf_dir).orderBy("custkey", "version")


def scd2_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_scd2_build's dimension WITHOUT the presentation sort — the
    form consumers (join_scd2_pit) want: the global orderBy adds a
    range-sampling job + full sort that any downstream join/window
    immediately destroys.

    One custkey exchange feeds everything (r11): repartitioning the raw
    orders scan on o_custkey satisfies the day-grain aggregate's
    clustering requirement (hash on a SUBSET of the grouping keys) AND
    every window's, so the former plan's second exchange — groupBy
    partitioned on (custkey, day), then a re-shuffle to custkey for the
    windows — disappears. The trade is shuffling raw order rows instead
    of day-grain partials, a wash here (≈1 order per customer-day means
    the partial aggregate reduced nothing) and a win at 100 TB where
    the day grain is still order-sized.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderpriority", "o_orderkey"
    )
    day_attr = (
        o.repartition("o_custkey")
        .groupBy(
            "o_custkey",
            F.date_trunc("day", "o_orderdate").cast("date").alias("d"),
        ).agg(F.min_by("o_orderpriority", "o_orderkey").alias("attr"))
    )
    w = Window.partitionBy("o_custkey").orderBy("d")
    ch = (
        day_attr.withColumn("prev", F.lag("attr").over(w))
        .filter(F.col("prev").isNull() | (F.col("attr") != F.col("prev")))
        .drop("prev")
    )
    return ch.select(
        F.col("o_custkey").alias("custkey"),
        F.col("attr").alias("priority"),
        F.col("d").alias("effective_from"),
        F.lead("d").over(w).alias("effective_to"),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead("d").over(w).isNull().alias("is_current"),
    )


@query(
    "events_hazard_rate",
    """
WITH d AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
u AS (
  SELECT user_id, min(day) AS first_d, max(day) AS last_d
  FROM d GROUP BY 1
),
h AS (SELECT max(day) AS horizon FROM d),
lif AS (
  SELECT date_diff('day', first_d, last_d) AS lt,
    date_diff('day', first_d, horizon) AS obs
  FROM u CROSS JOIN h
),
grid AS (SELECT unnest(generate_series(0, 21)) AS k),
haz AS (
  SELECT g.k,
    count(*) FILTER (lif.lt >= g.k AND lif.obs >= g.k) AS n_at_risk,
    count(*) FILTER (lif.lt = g.k AND lif.obs > g.k) AS n_events,
    count(*) FILTER (lif.lt = g.k AND lif.obs = g.k) AS n_censored
  FROM grid g CROSS JOIN lif
  GROUP BY 1
)
SELECT CAST(k AS BIGINT) AS k_day,
  CAST(n_at_risk AS BIGINT) AS n_at_risk,
  CAST(n_events AS BIGINT) AS n_events,
  CAST(n_censored AS BIGINT) AS n_censored,
  round(n_events / CAST(n_at_risk AS DOUBLE), 6) AS hazard,
  round(sum(n_events / CAST(n_at_risk AS DOUBLE))
          OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW), 6) AS cum_hazard
FROM haz
WHERE n_at_risk > 0
ORDER BY k_day
""",
)
def events_hazard_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time hazard of user churn: h(k) = P(lifetime ends at
    day k | survived to k), with the Nelson-Aalen cumulative hazard
    H(k) as a running sum -- the instantaneous-risk view that
    events_survival's S(k) curve integrates away (a retention cliff at
    day 3 shows as an h(3) spike but only as a gentle S slope), with
    the same honest right-censoring: a user whose last activity falls
    ON the horizon is censored at k (leaves the risk set), never
    counted as a death.

    Scale shape (the events_survival discipline): one groupBy collapses
    events to a (user, first, last) frame; the 22-offset grid
    cross-joins against that tiny per-user frame (users x 22, never
    events x 22); the horizon rides a broadcast 1-row aggregate; and
    the cumulative sum runs on the bounded 22-row hazard frame. All
    counts integer; the running sum is over an ORDERED window, so its
    summation order is deterministic on both engines.
    """
    ev = load(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    )
    u = d.groupBy("user_id").agg(
        F.min("day").alias("first_d"), F.max("day").alias("last_d")
    )
    h = d.agg(F.max("day").alias("horizon"))
    lif = u.crossJoin(F.broadcast(h)).select(
        F.datediff("last_d", "first_d").alias("lt"),
        F.datediff("horizon", "first_d").alias("obs"),
    )
    grid = spark.range(0, 22).select(F.col("id").cast("int").alias("k"))
    haz = (
        F.broadcast(grid)
        .crossJoin(lif)
        .groupBy("k")
        .agg(
            F.count(
                F.when((F.col("lt") >= F.col("k"))
                       & (F.col("obs") >= F.col("k")), 1)
            ).alias("n_at_risk"),
            F.count(
                F.when((F.col("lt") == F.col("k"))
                       & (F.col("obs") > F.col("k")), 1)
            ).alias("n_events"),
            F.count(
                F.when((F.col("lt") == F.col("k"))
                       & (F.col("obs") == F.col("k")), 1)
            ).alias("n_censored"),
        )
    )
    wk = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    hz = F.col("n_events") / F.col("n_at_risk").cast("double")
    return (
        haz.filter(F.col("n_at_risk") > 0)
        .select(
            F.col("k").cast("long").alias("k_day"),
            F.col("n_at_risk").cast("long").alias("n_at_risk"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_censored").cast("long").alias("n_censored"),
            F.round(hz, 6).alias("hazard"),
            F.round(F.sum(hz).over(wk), 6).alias("cum_hazard"),
        )
        .orderBy("k_day")
    )


@query(
    "corpus_mixture_plan",
    """
WITH g AS (
  SELECT source, count(*) AS n_docs,
    sum(len(string_split(lower(text), ' '))) AS toks
  FROM documents GROUP BY 1
),
t AS (SELECT sum(toks) AS total, sum(sqrt(toks)) AS wsum FROM g)
SELECT g.source,
  CAST(g.n_docs AS BIGINT) AS n_docs,
  CAST(g.toks AS BIGINT) AS n_tokens,
  round(g.toks / CAST(t.total AS DOUBLE), 6) AS natural_share,
  round(sqrt(g.toks) / t.wsum, 6) AS alpha_share,
  round((sqrt(g.toks) / t.wsum)
        / (g.toks / CAST(t.total AS DOUBLE)), 6) AS sampling_rate,
  round(sqrt(g.toks) / t.wsum * t.total, 2) AS expected_tokens
FROM g CROSS JOIN t
ORDER BY g.source
""",
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture plan: per-source sampling rates under
    temperature-smoothed (alpha = 0.5) reweighting, p_i proportional to
    n_i^alpha -- the multilingual/multi-source mixing rule (mBERT /
    XLM-R style) that upsamples small sources and downsamples dominant
    ones without hand-set weights. sampling_rate is the epochs-over-
    source multiplier the sampler applies (sample_weighted is the
    mechanism that then realizes it row-level); natural vs alpha share
    quantifies how far the plan moves from the raw corpus.

    One partial-aggregatable groupBy collapses the corpus to a
    source-grain frame (the only full-data pass, whitespace-token
    convention shared with text_token_count); normalization constants
    ride a broadcast 1-row aggregate over the ~20-row source frame.
    The 6dp rounding absorbs the source-order summation noise of the
    two 20-term normalizer folds.
    """
    from sparkify_datalake_spark.operators.text import _tokens

    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_tokens())).alias("toks"),
    )
    t = g.agg(
        F.sum("toks").alias("total"),
        F.sum(F.sqrt("toks")).alias("wsum"),
    )
    res = g.crossJoin(F.broadcast(t))
    nat = F.col("toks") / F.col("total").cast("double")
    alpha = F.sqrt(F.col("toks")) / F.col("wsum")
    return res.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("toks").cast("long").alias("n_tokens"),
        F.round(nat, 6).alias("natural_share"),
        F.round(alpha, 6).alias("alpha_share"),
        F.round(alpha / nat, 6).alias("sampling_rate"),
        F.round(alpha * F.col("total"), 2).alias("expected_tokens"),
    ).orderBy("source")


_PACK_BUDGET = 256  # tokens per training block


@query(
    "doc_packing_plan",
    f"""
WITH d AS (
  SELECT source, doc_id,
    len(string_split(lower(text), ' ')) AS tok
  FROM documents
),
c AS (
  SELECT source, tok,
    sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS cum
  FROM d
),
b AS (
  SELECT source, tok, cum,
    floor((cum - tok) / {_PACK_BUDGET}.0) AS sb,
    floor((cum - 1) / {_PACK_BUDGET}.0) AS eb
  FROM c
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(tok) AS BIGINT) AS total_tokens,
  CAST(floor((max(cum) - 1) / {_PACK_BUDGET}.0) + 1 AS BIGINT)
    AS n_blocks,
  CAST(sum(CASE WHEN eb > sb THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_split,
  round(count(*) / (floor((max(cum) - 1) / {_PACK_BUDGET}.0) + 1), 6)
    AS docs_per_block,
  round((max(cum) - floor((max(cum) - 1) / {_PACK_BUDGET}.0)
         * {_PACK_BUDGET}) / {_PACK_BUDGET}.0, 6) AS last_block_fill
FROM b GROUP BY source
ORDER BY source
""",
)
def doc_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: concatenate each source's token stream in
    doc_id order and cut it into fixed 256-token training
    blocks (the GPT-style contiguous packing every LLM dataloader
    runs), reporting per source the block count, boundary-straddling
    docs (the attention-mask-reset sites), docs-per-block density, and
    last-block fill -- the numbers that decide whether to pad, wrap,
    or re-shard before training.

    Scale shape: block assignment is pure integer arithmetic over a
    running sum PARTITIONED BY source ordered by doc_id -- source is
    the shard key, so no global total order exists anywhere (at 100 TB
    packing is per-shard by construction; a cross-shard pack would
    serialize ingestion). One token-count projection feeds the window;
    the rollup lands on the ~20-row source grain. Start/end block ids
    via floor((offset)/B) on exact integer offsets, so docs_split is
    exact on both engines.
    """
    from sparkify_datalake_spark.operators.text import _tokens

    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "source", "doc_id", F.size(_tokens()).alias("tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = d.select(
        "source", "tok", F.sum("tok").over(w).alias("cum")
    )
    B = float(_PACK_BUDGET)
    b = c.select(
        "source",
        "tok",
        "cum",
        F.floor((F.col("cum") - F.col("tok")) / B).alias("sb"),
        F.floor((F.col("cum") - 1) / B).alias("eb"),
    )
    g = b.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("total_tokens"),
        F.max("cum").alias("max_cum"),
        F.sum(F.when(F.col("eb") > F.col("sb"), 1).otherwise(0)).alias(
            "docs_split"
        ),
    )
    nblocks = F.floor((F.col("max_cum") - 1) / B) + 1
    return g.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        nblocks.cast("long").alias("n_blocks"),
        F.col("docs_split").cast("long").alias("docs_split"),
        F.round(F.col("n_docs") / nblocks, 6).alias("docs_per_block"),
        F.round(
            (F.col("max_cum") - (nblocks - 1) * _PACK_BUDGET) / B, 6
        ).alias("last_block_fill"),
    ).orderBy("source")


# Gopher-gate fragments shared by the two e2e composites (identical
# predicate to text_gopher_rules / the scorecard's doc grain).
_GATE_SQL = f"""
  len(string_split(lower(text), ' ')) BETWEEN 5 AND 1000
    AND CAST(list_sum(list_transform(string_split(lower(text), ' '),
                                     t -> len(t))) AS DOUBLE)
        / len(string_split(lower(text), ' ')) BETWEEN 2 AND 10
    AND CAST(len(list_filter(string_split(lower(text), ' '),
                             t -> regexp_matches(t, '^[a-z]+$')))
             AS DOUBLE)
        / len(string_split(lower(text), ' ')) >= 0.8
"""

_CURATION_ORACLE = f"""
WITH gated AS (
  SELECT doc_id, source,
    len(string_split(lower(text), ' ')) AS tok
  FROM documents
  WHERE {_GATE_SQL}
),
g AS (
  SELECT source, count(*) AS n_docs, sum(tok) AS toks
  FROM gated GROUP BY 1
),
t AS (SELECT sum(toks) AS total, sum(sqrt(toks)) AS wsum FROM g),
r AS (
  SELECT g.source, g.n_docs, g.toks,
    sqrt(g.toks) / t.wsum AS alpha,
    (sqrt(g.toks) / t.wsum) / (g.toks / CAST(t.total AS DOUBLE)) AS rate
  FROM g CROSS JOIN t
),
p AS (
  SELECT r.*, round(r.rate / mr.maxr, 6) AS prob
  FROM r CROSS JOIN (SELECT max(rate) AS maxr FROM r) mr
),
s AS (
  SELECT gated.source, gated.doc_id, gated.tok
  FROM gated JOIN p ON gated.source = p.source
  WHERE {_md5_u01('CAST(doc_id AS VARCHAR)')} < p.prob
),
b AS (
  SELECT source, tok, cum,
    floor((cum - tok) / {_PACK_BUDGET}.0) AS sb,
    floor((cum - 1) / {_PACK_BUDGET}.0) AS eb
  FROM (
    SELECT source, tok,
      sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS cum
    FROM s
  )
),
sg AS (
  SELECT source, count(*) AS n_s, sum(tok) AS tok_s, max(cum) AS max_cum,
    sum(CASE WHEN eb > sb THEN 1 ELSE 0 END) AS docs_split
  FROM b GROUP BY 1
),
ts AS (SELECT sum(tok_s) AS total_s FROM sg)
SELECT p.source,
  CAST(p.n_docs AS BIGINT) AS n_docs_gated,
  CAST(p.toks AS BIGINT) AS n_tokens_gated,
  round(p.alpha, 6) AS alpha_share,
  round(p.rate, 6) AS sampling_rate,
  p.prob AS sample_prob,
  CAST(coalesce(sg.n_s, 0) AS BIGINT) AS n_docs_sampled,
  CAST(coalesce(sg.tok_s, 0) AS BIGINT) AS sampled_tokens,
  round(coalesce(sg.tok_s, 0) / CAST(ts.total_s AS DOUBLE), 6)
    AS realized_share,
  round(coalesce(sg.tok_s, 0) / CAST(ts.total_s AS DOUBLE) - p.alpha, 6)
    AS share_gap,
  CAST(coalesce(floor((sg.max_cum - 1) / {_PACK_BUDGET}.0) + 1, 0)
       AS BIGINT) AS n_blocks,
  CAST(coalesce(sg.docs_split, 0) AS BIGINT) AS docs_split
FROM p LEFT JOIN sg ON p.source = sg.source CROSS JOIN ts
ORDER BY p.source
"""


@query("pipeline_curation_e2e", _CURATION_ORACLE)
def pipeline_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus MIXING pipeline END-TO-END as one hash row (VERDICT
    r9 #6): scorecard gate → corpus_mixture_plan → sample_weighted-
    style realization → doc_packing_plan. pipeline_corpus_e2e
    certified the gate/dedup/split chain; THIS row certifies the
    weights actually applied match the plan: every output row carries
    the PLANNED alpha-share next to the REALIZED token share of the
    deterministic sample (share_gap is their 6dp difference), and the
    hash check forces both engines to draw the identical sample.

    Stages, each the same expression its standalone §2 operator uses:
    1. Gopher gate (the scorecard's doc-grain predicate) admits docs.
    2. Mixture plan: temperature-smoothed (α=0.5) per-source rates
       over the GATED corpus (corpus_mixture_plan's algebra). The
       20-row source-grain frame is COLLECTED (bounded-collect
       discipline) and the per-source acceptance probabilities
       re-enter as a literal map, so the main pass is ONE scan — no
       totals-join re-scans of the corpus subtree.
    3. Realization: Bernoulli thinning — keep a doc iff its md5-
       uniform (the sample_weighted u) < round(rate/max_rate, 6).
       A pure row predicate: no sort, no top-k heap, no shuffle;
       expected kept-token mass per source ∝ toks·rate ∝ alpha-share,
       which is exactly what share_gap certifies. The 6dp round on
       the threshold absorbs cross-engine ulp noise in the 20-term
       normalizer folds so the sample membership is bit-identical.
    4. Packing: the sampled stream packs per source into 256-token
       blocks (doc_packing_plan's integer arithmetic) — n_blocks and
       boundary-straddling docs_split land on the same output row.

    Scale shape: one gated scan for the plan collect + one for the
    sample/pack pass; the realization predicate is map-side; packing
    windows on (source — the shard key) like doc_packing_plan; final
    assembly is a 20-row frame with a global window for the sampled
    total. Empty-source edges (a source sampled to zero) keep their
    plan row with zeroed realization columns (LEFT JOIN semantics,
    matching the oracle).
    """
    import math

    from sparkify_datalake_spark.operators.text import _tokens

    docs = load(spark, sf_dir, "documents")
    toks = _tokens()
    total_len = F.expr(
        "aggregate(transform(toks, t -> length(t)), 0, (a, x) -> a + x)"
    )
    base = docs.select("doc_id", "source", toks.alias("toks"))
    mean_len = total_len.cast("double") / F.size("toks")
    alpha_frac = (
        F.size(F.filter("toks", lambda t: t.rlike("^[a-z]+$"))).cast(
            "double"
        )
        / F.size("toks")
    )
    gated = base.filter(
        F.size("toks").between(5, 1000)
        & mean_len.between(2, 10)
        & (alpha_frac >= 0.8)
    ).select("doc_id", "source", F.size("toks").alias("tok"))

    # stage 2: the 20-row plan, collected (group-key cardinality)
    g_rows = sorted(
        gated.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("tok").alias("toks"))
        .collect(),
        key=lambda r: r["source"],
    )
    if not g_rows:  # nothing survives the gate: empty plan, no sample
        return local_frame(
            spark,
            [],
            "source string, n_docs_gated long, n_tokens_gated long, "
            "alpha_share double, sampling_rate double, "
            "sample_prob double, n_docs_sampled long, "
            "sampled_tokens long, realized_share double, "
            "share_gap double, n_blocks long, docs_split long",
        )
    total = sum(r["toks"] for r in g_rows)
    wsum = sum(math.sqrt(r["toks"]) for r in g_rows)
    plan = []
    for r in g_rows:
        alpha = math.sqrt(r["toks"]) / wsum
        rate = alpha / (r["toks"] / float(total))
        plan.append((r["source"], r["n_docs"], r["toks"], alpha, rate))
    maxr = max(p[4] for p in plan)
    prob = {src: round(rate / maxr, 6) for src, _, _, _, rate in plan}
    prob_map = F.create_map(
        *[x for s, pr in prob.items() for x in (F.lit(s), F.lit(pr))]
    )

    # stages 3+4: ONE pass — thin, pack, roll up per source
    u = F.expr(_md5_u01("cast(doc_id AS string)"))
    s = gated.filter(u < prob_map[F.col("source")])
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    B = float(_PACK_BUDGET)
    c = s.select("source", "tok", F.sum("tok").over(w).alias("cum"))
    sg = (
        c.select(
            "source",
            "tok",
            "cum",
            F.floor((F.col("cum") - F.col("tok")) / B).alias("sb"),
            F.floor((F.col("cum") - 1) / B).alias("eb"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_s"),
            F.sum("tok").alias("tok_s"),
            F.max("cum").alias("max_cum"),
            F.sum(
                F.when(F.col("eb") > F.col("sb"), 1).otherwise(0)
            ).alias("docs_split"),
        )
    )
    plan_df = local_frame(
        spark,
        [
            (src, int(n), int(tk), float(alpha), float(rate), prob[src])
            for src, n, tk, alpha, rate in plan
        ],
        "source string, n_docs long, toks long, alpha double, "
        "rate double, prob double",
    )
    total_s = F.sum("tok_s").over(Window.partitionBy())
    joined = (
        plan_df.join(sg, "source", "left")
        .withColumn("total_s", total_s)
    )
    tok_s0 = F.coalesce(F.col("tok_s"), F.lit(0))
    realized = tok_s0 / F.col("total_s").cast("double")
    return joined.select(
        "source",
        F.col("n_docs").alias("n_docs_gated"),
        F.col("toks").alias("n_tokens_gated"),
        F.round("alpha", 6).alias("alpha_share"),
        F.round("rate", 6).alias("sampling_rate"),
        F.col("prob").alias("sample_prob"),
        F.coalesce(F.col("n_s"), F.lit(0)).cast("long").alias(
            "n_docs_sampled"
        ),
        tok_s0.cast("long").alias("sampled_tokens"),
        F.round(realized, 6).alias("realized_share"),
        F.round(realized - F.col("alpha"), 6).alias("share_gap"),
        F.coalesce(
            F.floor((F.col("max_cum") - 1) / B) + 1, F.lit(0)
        ).cast("long").alias("n_blocks"),
        F.coalesce(F.col("docs_split"), F.lit(0)).cast("long").alias(
            "docs_split"
        ),
    ).orderBy("source")


_DRIFT_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _drift_half_sql(col: str, half: str) -> str:
    cond = (
        "substring(md5(concat(CAST(l_orderkey AS VARCHAR), '#',"
        f" CAST(l_linenumber AS VARCHAR))), 1, 1) {half}"
    )
    return (
        f"count(CASE WHEN {cond} THEN 1 END) AS n_{{s}},\n"
        f"    avg(CASE WHEN {cond} THEN CAST({col} AS DOUBLE) END)"
        " AS m_{s},\n"
        f"    var_samp(CASE WHEN {cond} THEN CAST({col} AS DOUBLE) END)"
        " AS v_{s}"
    )


def _drift_col_sql(col: str) -> str:
    a = _drift_half_sql(col, "<= '7'").format(s="a")
    b = _drift_half_sql(col, "> '7'").format(s="b")
    return f"""
  SELECT '{col}' AS column_name,
    {a},
    {b}
  FROM lineitem
"""


@query(
    "dq_schema_drift",
    f"""
WITH moments AS (
{" UNION ALL ".join(_drift_col_sql(c) for c in _DRIFT_COLS)}
),
z AS (
  SELECT column_name, n_a, n_b,
    round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
    round((m_a - m_b)
      / sqrt(((n_a - 1) * v_a + (n_b - 1) * v_b) / (n_a + n_b - 2)),
      6) AS shift_sds,
    round(sqrt(v_a) / sqrt(v_b), 6) AS std_ratio
  FROM moments
)
SELECT column_name, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  mean_a, mean_b, shift_sds, std_ratio,
  abs(shift_sds) > 0.05 AS drifted
FROM z
ORDER BY column_name
""",
)
def dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-level distribution-drift monitor: every monitored numeric
    column's mean shift (in pooled SDs) and SD ratio between two
    deterministic md5 halves of lineitem — the whole-TABLE sibling of
    stat_psi_drift's single-column histogram: a feed regression
    (unit change, silent default, truncation) shows up as a drifted
    column here before any single-metric monitor is even configured.
    The half split is the same-distribution null case, so the expected
    report is all-clear — which is the honest audit, and the flag
    derives from the ROUNDED shift so it is engine-stable.

    Scale shape: ONE conditional-moment pass per column over the same
    scan (Spark executes the union of per-column aggregates as parallel
    partial aggregations of one cached scan stage under AQE; no row is
    shuffled — each branch reduces to a 1-row frame map-side). In a
    production run the two "halves" are yesterday's and today's
    partitions, and the plan is unchanged: the split predicate is the
    only line that moves.
    """
    li = load(spark, sf_dir, "lineitem")
    half = (
        F.expr(
            "substring(md5(concat(cast(l_orderkey AS string), '#',"
            " cast(l_linenumber AS string))), 1, 1)"
        )
        <= "7"
    )
    frames = []
    for c in _DRIFT_COLS:
        x = F.col(c).cast("double")
        m = li.agg(
            F.count(F.when(half, 1)).alias("n_a"),
            F.avg(F.when(half, x)).alias("m_a"),
            F.var_samp(F.when(half, x)).alias("v_a"),
            F.count(F.when(~half, 1)).alias("n_b"),
            F.avg(F.when(~half, x)).alias("m_b"),
            F.var_samp(F.when(~half, x)).alias("v_b"),
        ).select(F.lit(c).alias("column_name"), "*")
        frames.append(m)
    moments = frames[0]
    for fr in frames[1:]:
        moments = moments.unionByName(fr)
    pooled = F.sqrt(
        ((F.col("n_a") - 1) * F.col("v_a") + (F.col("n_b") - 1) * F.col("v_b"))
        / (F.col("n_a") + F.col("n_b") - 2)
    )
    z = moments.select(
        "column_name",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round("m_a", 6).alias("mean_a"),
        F.round("m_b", 6).alias("mean_b"),
        F.round((F.col("m_a") - F.col("m_b")) / pooled, 6).alias(
            "shift_sds"
        ),
        F.round(F.sqrt("v_a") / F.sqrt("v_b"), 6).alias("std_ratio"),
    )
    return z.select(
        "*", (F.abs(F.col("shift_sds")) > 0.05).alias("drifted")
    ).orderBy("column_name")


@query(
    "pipeline_star_etl",
    """
WITH staged AS (
  SELECT event_id, user_id, event_type, ts, value FROM events
  UNION ALL
  SELECT event_id, user_id, event_type, ts, value
  FROM events WHERE event_id % 100 = 0
),
deduped AS (
  SELECT DISTINCT event_id, user_id, event_type, ts, value FROM staged
),
fact AS (
  SELECT event_id, user_id, event_type, value,
    substring(md5('user|' || CAST(user_id AS VARCHAR)), 1, 16) AS sk_user,
    CAST(ts AS DATE) AS event_date
  FROM deduped
)
SELECT event_date,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(DISTINCT sk_user) AS BIGINT) AS n_users,
  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
  min(sk_user) AS first_sk,
  round(sum(value), 4) AS sum_value,
  CAST(sum(CASE WHEN dayofweek(event_date) IN (0, 6) THEN 1 ELSE 0 END)
       AS BIGINT) AS n_weekend
FROM fact
GROUP BY event_date ORDER BY event_date
""",
)
def pipeline_star_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reconstructed reference's signature pipeline END-TO-END as
    one hash-checked composite (SURVEY §0.1 / §2.1's whole left
    column): schema-on-read JSON-lines ingest with a quarantined
    corrupt shard → conform (typed casts, timestamp parse, date
    derivation) → exact dedup of a replayed batch → deterministic
    content-derived surrogate keys → star schema (user dim + date dim
    + fact) written as PARTITIONED parquet → read BACK from the sink →
    per-partition rollup. The oracle computes the same logical answer
    straight from the fixture view, so the hash check certifies that
    every physical hop (JSON serialize/parse, quarantine, parquet
    round-trip, partition pruning columns) preserved values exactly —
    the relational sibling of pipeline_corpus_e2e.

    Physical staging lives under /tmp keyed by the sf dir (overwritten
    every run; reruns are byte-stable — asserted in tests/test_sinks).
    The "replayed batch" is the deterministic event_id % 100 slice
    appended twice, exactly what an at-least-once ingest produces; the
    corrupt shard exercises read_json_permissive's quarantine path
    (PERMISSIVE + _corrupt_record), proving one bad file cannot poison
    the load.

    Scale shape: ingest/conform/surrogate-keys are map-side
    (whole-stage codegen, md5 keys are partitioning-independent —
    fn_surrogate_key's rationale); dedup is ONE distinct shuffle; the
    fact write repartitions by the partition column so each date lands
    in exactly one task → one file per partition dir (at 100 TB: date
    × hash-bucket); dims are distinct-shuffles over key cardinality.
    The final rollup reads back ONLY the sink — proving the star is
    self-sufficient, partition-pruned, and join-ready (user dim joins
    broadcast).
    """
    import os

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from sparkify_datalake_spark.sources.sinks import read_json_permissive

    base = os.path.join(
        "/tmp/sparkify_star_etl",
        os.path.basename(os.path.normpath(sf_dir)) or "sf",
    )
    staging = os.path.join(base, "staging_json")
    fact_dir = os.path.join(base, "fact_events")
    dim_user_dir = os.path.join(base, "dim_user")
    dim_date_dir = os.path.join(base, "dim_date")

    # -- extract: stage the raw log to JSON-lines, with an
    # at-least-once replay of the event_id % 100 slice
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        "value",
    )
    stage = ev.unionAll(ev.filter(F.col("event_id") % 100 == 0))
    stage.write.mode("overwrite").json(staging)
    # a corrupt shard the permissive reader must quarantine, not fail on
    with open(os.path.join(staging, "corrupt-shard.json"), "w") as fh:
        fh.write('{"event_id": "zed", "user_id": }\nnot json at all\n')

    # -- schema-on-read ingest + conform
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("ts_str", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    raw = read_json_permissive(spark, staging, schema)
    good = raw.filter(
        F.col("_corrupt_record").isNull() & F.col("event_id").isNotNull()
    ).drop("_corrupt_record")
    conformed = good.select(
        "event_id",
        "user_id",
        "event_type",
        F.to_timestamp("ts_str", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "value",
    )

    # -- exact dedup of the replayed batch: ONE distinct shuffle
    deduped = conformed.distinct()

    # -- surrogate keys (content-derived, partitioning-independent)
    sk_user = F.substring(
        F.md5(F.concat_ws("|", F.lit("user"), F.col("user_id").cast("string"))),
        1,
        16,
    )
    fact = deduped.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        sk_user.alias("sk_user"),
        F.col("ts").cast("date").alias("event_date"),
    )

    # -- star dims
    dim_user = (
        fact.groupBy("sk_user", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_date").alias("first_seen"),
        )
    )
    dim_date = fact.select("event_date").distinct().select(
        "event_date",
        F.year("event_date").cast("long").alias("d_year"),
        F.month("event_date").cast("long").alias("d_month"),
        F.dayofweek("event_date").cast("long").alias("d_dow"),
    )

    # -- partitioned star sink: one task (→ one file) per date partition
    (
        fact.repartition("event_date")
        .sortWithinPartitions("event_date", "event_id")
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(fact_dir)
    )
    dim_user.repartition(1).sortWithinPartitions("sk_user").write.mode(
        "overwrite"
    ).parquet(dim_user_dir)
    dim_date.repartition(1).sortWithinPartitions("event_date").write.mode(
        "overwrite"
    ).parquet(dim_date_dir)

    # -- read BACK from the sink only; rollup per partition
    fact_r = spark.read.parquet(fact_dir)
    dim_user_r = spark.read.parquet(dim_user_dir)
    dim_date_r = spark.read.parquet(dim_date_dir)
    joined = fact_r.join(
        F.broadcast(dim_user_r.select("sk_user")), "sk_user"
    ).join(F.broadcast(dim_date_r), "event_date")
    return (
        joined.groupBy("event_date")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("sk_user").cast("long").alias("n_users"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
            F.min("sk_user").alias("first_sk"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            # Spark dayofweek: Sun=1..Sat=7; DuckDB: Sun=0..Sat=6
            F.sum(
                F.when(F.col("d_dow").isin(1, 7), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_weekend"),
        )
        .withColumn("event_date", F.col("event_date").cast("date"))
        .select(
            "event_date",
            "n_events",
            "n_users",
            "n_types",
            "first_sk",
            "sum_value",
            "n_weekend",
        )
        .orderBy("event_date")
    )


@query(
    "split_source_balance",
    f"""
WITH labeled AS (
  SELECT source,
    CASE WHEN {_MD5_BUCKET_SQL} <= 'cb' THEN 'train'
         WHEN {_MD5_BUCKET_SQL} <= 'e5' THEN 'valid'
         ELSE 'test' END AS split
  FROM documents
),
cell AS (
  SELECT split, source, count(*) AS n FROM labeled GROUP BY 1, 2
),
tot AS (
  SELECT split, sum(n) AS n_split FROM cell GROUP BY 1
)
SELECT c.split,
  CAST(max(t.n_split) AS BIGINT) AS n_docs,
  CAST(count(*) AS BIGINT) AS n_sources,
  round(-sum((c.n * 1.0 / t.n_split) * ln(c.n * 1.0 / t.n_split)), 6)
    AS source_entropy,
  round(max(c.n * 1.0 / t.n_split), 6) AS max_source_share
FROM cell c JOIN tot t USING (split)
GROUP BY c.split ORDER BY c.split
""",
)
def split_source_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix balance audit of the md5 train/valid/test split — the
    check that runs right after split_train_valid_test in a real
    curation pipeline: a hash split is provably unbiased in
    EXPECTATION, but a finite corpus can still deal one source
    disproportionately into a small split (the valid/test sets are the
    ones that matter and the smallest, so they skew first). Per split:
    doc count, source count, Shannon entropy of the source shares
    (max ln(n_sources) = perfectly balanced) and the largest single
    source share — drift between the splits' entropies is the alarm.

    Same split predicate as split_train_valid_test / pipeline_corpus_e2e
    (membership a pure function of doc_id — the leak-proofing
    property), so this audit certifies THE split the pipeline actually
    uses. One map-side-labeled groupBy to the ≤(3×sources)-row cell
    frame; entropy is exact-integer ratios behind 6dp rounds.
    """
    docs = load(spark, sf_dir, "documents")
    b = F.expr(_MD5_BUCKET_SPARK)
    labeled = docs.select(
        "source",
        F.when(b <= "cb", "train")
        .when(b <= "e5", "valid")
        .otherwise("test")
        .alias("split"),
    )
    cell = labeled.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cell.groupBy("split").agg(F.sum("n").alias("n_split"))
    p = F.col("n") / F.col("n_split").cast("double")
    return (
        cell.join(F.broadcast(tot), "split")
        .groupBy("split")
        .agg(
            F.max("n_split").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            F.round(-F.sum(p * F.log(p)), 6).alias("source_entropy"),
            F.round(F.max(p), 6).alias("max_source_share"),
        )
        .orderBy("split")
    )


@query(
    "dq_category_drift",
    """
WITH bounds AS (
  SELECT min(ts) AS lo, max(ts) AS hi FROM events
),
tagged AS (
  SELECT event_type AS cat,
    epoch(ts) * 2 <= epoch(b.lo) + epoch(b.hi) AS early
  FROM events CROSS JOIN bounds b
),
cell AS (
  SELECT cat,
    sum(CASE WHEN early THEN 1 ELSE 0 END) AS n_early,
    sum(CASE WHEN early THEN 0 ELSE 1 END) AS n_late
  FROM tagged GROUP BY 1
),
tot AS (
  SELECT sum(n_early) AS te, sum(n_late) AS tl FROM cell
)
SELECT c.cat,
  CAST(c.n_early AS BIGINT) AS n_early,
  CAST(c.n_late AS BIGINT) AS n_late,
  round(c.n_early * 1.0 / t.te, 6) AS share_early,
  round(c.n_late * 1.0 / t.tl, 6) AS share_late,
  round(c.n_late * 1.0 / t.tl - c.n_early * 1.0 / t.te, 6)
    AS share_delta,
  CASE WHEN c.n_early > 0 AND c.n_late > 0 THEN
    round(((c.n_late * 1.0 / t.tl) - (c.n_early * 1.0 / t.te))
          * ln((c.n_late * 1.0 / t.tl) / (c.n_early * 1.0 / t.te)), 6)
  ELSE NULL END AS psi_term
FROM cell c CROSS JOIN tot t
ORDER BY c.cat
""",
)
def dq_category_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical mix drift, early vs late half of the time range —
    the CATEGORICAL sibling of stat_psi_drift (whose decile machinery
    only fits numeric columns): each event type's traffic share in the
    two halves, the share delta, and the per-category PSI term
    (Δp·ln-ratio, summable to the headline categorical PSI with the
    same <0.1/>0.25 conventions) — the monitor that catches "the
    serving mix shifted" (a new client version changing event ratios)
    before any numeric distribution moves.

    Same integer-epoch period split as stat_psi_drift (2·t ≤ lo+hi, no
    double midpoint); one map-side-tagged groupBy to the ≤|categories|
    cell frame (checkpointed — its totals and final projection would
    otherwise re-run the scan, the r7 psi lesson applied from birth);
    exact-integer shares behind 6dp rounds.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "ts")
    bounds = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        F.col("event_type").alias("cat"),
        (
            F.unix_timestamp("ts") * 2
            <= F.unix_timestamp("lo") + F.unix_timestamp("hi")
        ).alias("early"),
    )
    cell = (
        tagged.groupBy("cat")
        .agg(
            F.sum(F.when(F.col("early"), 1).otherwise(0)).alias(
                "n_early"
            ),
            F.sum(F.when(F.col("early"), 0).otherwise(1)).alias(
                "n_late"
            ),
        )
        .localCheckpoint()
    )
    tot = cell.agg(
        F.sum("n_early").alias("te"), F.sum("n_late").alias("tl")
    )
    pe = F.col("n_early") / F.col("te").cast("double")
    pl = F.col("n_late") / F.col("tl").cast("double")
    return (
        cell.crossJoin(F.broadcast(tot))
        .select(
            "cat",
            F.col("n_early").cast("long").alias("n_early"),
            F.col("n_late").cast("long").alias("n_late"),
            F.round(pe, 6).alias("share_early"),
            F.round(pl, 6).alias("share_late"),
            F.round(pl - pe, 6).alias("share_delta"),
            # zero-support guard (ADVICE r8): a category present in
            # only one half would hit ln(0)/div-by-zero, where Spark
            # and DuckDB diverge (NULL vs -inf) exactly when real
            # drift appears; NULL is the explicit new/retired sentinel
            F.when(
                (F.col("n_early") > 0) & (F.col("n_late") > 0),
                F.round((pl - pe) * F.log(pl / pe), 6),
            ).alias("psi_term"),
        )
        .orderBy("cat")
    )


@query(
    "cdc_apply_snapshot",
    """
WITH log AS (
  SELECT o_orderkey AS k, 1 AS seq, 'I' AS op,
    o_orderstatus AS status, o_totalprice AS price
  FROM orders
  UNION ALL
  SELECT o_orderkey, 2, 'U', o_orderstatus, o_totalprice + 10
  FROM orders WHERE o_orderkey % 10 = 8
  UNION ALL
  SELECT o_orderkey, 3, 'D', o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 10 = 9
),
latest AS (
  SELECT k,
    max_by(op, seq) AS op,
    max_by(status, seq) AS status,
    max_by(price, seq) AS price
  FROM log GROUP BY k
),
snap AS (SELECT * FROM latest WHERE op <> 'D')
SELECT status,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(round(sum(CAST(price AS DECIMAL(18,2))), 2) AS DOUBLE)
    AS sum_price,
  CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
FROM snap GROUP BY status ORDER BY status
""",
)
def cdc_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply: collapse an ordered I/U/D log into
    the current snapshot — the compaction step every CDC-fed lake
    table (Debezium → Delta/Iceberg MERGE) runs, and the missing
    sibling of upsert_by_key (which merges ONE batch; this folds a
    multi-version log where the same key appears as insert, then
    update, then possibly delete). The log is synthesized
    deterministically from orders (every key inserts at seq 1; keys
    ≡8 mod 10 get a +10.00 price correction at seq 2 (an exact-2dp
    shift — a ×1.1-then-round update would land on .5-cent boundaries
    where Spark's HALF_UP and DuckDB's double rounding disagree; the
    §7.3-R6 trap, dodged by construction); keys ≡9 mod 10 are
    deleted at seq 3), applied by last-writer-wins per key, deletes
    dropped, and the snapshot rolled up per status with the update
    count as the audit column.

    Scale shape: ONE key-partitioned shuffle folds the whole log —
    max_by(col, seq) per column is a partial-aggregatable reduction,
    so the log (which at 100 TB is many times the snapshot) streams
    through map-side combines and only one row per key crosses the
    wire; no window sort, no self-join, and the apply parallelizes by
    key exactly like the ingest that produced it. Money stays in
    DECIMAL until the final round (§7.2-1).
    """
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    # ONE scan: each order conditionally explodes into its own log
    # slice map-side (the 3-way UNION form re-scanned orders three
    # times — 4.4 s vs this at the 64x probe; the oracle keeps the
    # UNION spelling, same rows)
    s_ins = F.struct(
        F.lit(1).alias("seq"), F.lit("I").alias("op"),
        F.col("status").alias("status"), F.col("price").alias("price"),
    )
    s_upd = F.struct(
        F.lit(2).alias("seq"), F.lit("U").alias("op"),
        F.col("status").alias("status"),
        (F.col("price") + 10).alias("price"),
    )
    s_del = F.struct(
        F.lit(3).alias("seq"), F.lit("D").alias("op"),
        F.col("status").alias("status"), F.col("price").alias("price"),
    )
    events = (
        F.when(F.col("k") % 10 == 8, F.array(s_ins, s_upd))
        .when(F.col("k") % 10 == 9, F.array(s_ins, s_del))
        .otherwise(F.array(s_ins))
    )
    log = o.select("k", F.explode(events).alias("e")).select(
        "k", "e.seq", "e.op", "e.status", "e.price"
    )
    latest = log.groupBy("k").agg(
        F.max_by("op", "seq").alias("op"),
        F.max_by("status", "seq").alias("status"),
        F.max_by("price", "seq").alias("price"),
    )
    snap = latest.filter(F.col("op") != "D")
    return (
        snap.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(
                F.sum(F.col("price").cast("decimal(18,2)")), 2
            )
            .cast("double")
            .alias("sum_price"),
            F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
            .cast("long")
            .alias("n_updated"),
        )
        .orderBy("status")
    )


_SCORECARD_ORACLE = """
WITH t AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
  FROM documents
),
doc AS (
  SELECT source,
    len(toks) AS n_toks,
    len(list_filter(toks, x -> list_contains(
      ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'], x))) AS n_stop,
    (len(toks) BETWEEN 5 AND 1000)
      AND (CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
           / len(toks) BETWEEN 2 AND 10)
      AND (CAST(len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$')))
                AS DOUBLE) / len(toks) >= 0.8) AS keep
  FROM t
),
per_doc AS (
  SELECT source, count(*) AS n_docs,
    sum(n_toks) AS total_toks, sum(n_stop) AS total_stop,
    sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_pass
  FROM doc GROUP BY 1
),
tok AS (
  SELECT source, unnest(toks) AS token FROM t
),
counts AS (
  SELECT source, token, count(*) AS n FROM tok GROUP BY 1, 2
),
ctot AS (SELECT sum(n) AS ct FROM counts),
winc AS (
  SELECT source, n,
    sum(n) OVER (PARTITION BY token) AS cn,
    sum(n) OVER (PARTITION BY source) AS tot
  FROM counts
),
js AS (
  SELECT w.source,
    count(*) AS n_distinct,
    sum(w.n) AS tot,
    sum(
      0.5 * (w.n / CAST(w.tot AS DOUBLE))
      * log2((w.n / CAST(w.tot AS DOUBLE))
             / ((w.n / CAST(w.tot AS DOUBLE)
                 + w.cn / CAST(c.ct AS DOUBLE)) / 2))
      + 0.5 * (w.cn / CAST(c.ct AS DOUBLE))
        * log2((w.cn / CAST(c.ct AS DOUBLE))
               / ((w.n / CAST(w.tot AS DOUBLE)
                   + w.cn / CAST(c.ct AS DOUBLE)) / 2))
    )
    + 0.5 * (1.0 - sum(w.cn / CAST(c.ct AS DOUBLE))) AS js_bits
  FROM winc w CROSS JOIN ctot c
  GROUP BY 1
),
sh AS (
  SELECT doc_id, source, unnest(
    list_distinct(list_transform(
      range(1, len(string_split(lower(text),' ')) - 3),
      i -> concat(string_split(lower(text),' ')[i], ' ',
                  string_split(lower(text),' ')[i+1], ' ',
                  string_split(lower(text),' ')[i+2], ' ',
                  string_split(lower(text),' ')[i+3], ' ',
                  string_split(lower(text),' ')[i+4]))))
    AS g
  FROM documents
  WHERE len(string_split(lower(text),' ')) >= 5
),
gram_df AS (
  SELECT g, count(*) AS n_docs FROM sh GROUP BY 1
),
dup AS (
  SELECT s.source,
    count(*) AS n_grams,
    sum(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS n_dup
  FROM sh s JOIN gram_df d USING (g)
  GROUP BY 1
)
SELECT p.source,
  CAST(p.n_docs AS BIGINT) AS n_docs,
  CAST(p.total_toks AS BIGINT) AS n_tokens,
  round(p.n_pass * 1.0 / p.n_docs, 6) AS gopher_pass_rate,
  round(p.total_stop * 1.0 / p.total_toks, 6) AS stopword_ratio,
  round(j.n_distinct * 1.0 / j.tot, 6) AS ttr,
  round(d.n_dup * 1.0 / d.n_grams, 6) AS dup5_rate,
  round(j.js_bits, 6) AS js_vs_corpus_bits
FROM per_doc p
JOIN dup d ON p.source = d.source
JOIN js j ON p.source = j.source
ORDER BY p.source
"""


# --- scorecard grain builders, shared with sources/scorecard_ivm.py ---
# The incremental scorecard (VERDICT r9 #4) maintains exactly these
# three grains as partitioned stores; sharing the builders makes
# incremental == recompute a property of ONE set of expressions, not a
# convention between two copies.


def _sc_tok_frame(docs: DataFrame) -> DataFrame:
    toks = F.split(F.lower(F.col("text")), " ")
    return docs.select("doc_id", "source", toks.alias("toks"))


def _sc_doc_grain(t: DataFrame) -> DataFrame:
    """Doc grain → per-source distributive sums (gopher gate +
    stopword mass): n_docs, total_toks, total_stop, n_pass."""
    from sparkify_datalake_spark.operators.text import _STOPWORDS

    n = F.size("toks")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(
        F.filter("toks", lambda x: F.array_contains(stop_arr, x))
    )
    total_len = F.expr(
        "aggregate(transform(toks, x -> length(x)), 0, (a, x) -> a + x)"
    )
    mean_len = total_len.cast("double") / n
    alpha_frac = (
        F.size(F.filter("toks", lambda x: x.rlike("^[a-z]+$"))).cast(
            "double"
        )
        / n
    )
    keep = (
        n.between(5, 1000) & mean_len.between(2, 10) & (alpha_frac >= 0.8)
    )
    return (
        t.select(
            "source",
            n.alias("n_toks"),
            n_stop.alias("n_stop"),
            keep.cast("int").alias("pass"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_toks"),
            F.sum("n_stop").alias("total_stop"),
            F.sum("pass").alias("n_pass"),
        )
    )


def _sc_token_grain(t: DataFrame) -> DataFrame:
    """Token grain → (source, token, n) counts."""
    return (
        t.select("source", F.explode("toks").alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _sc_gram_pairs(t: DataFrame) -> DataFrame:
    """Gram grain → one row per (doc, source, 5-gram), doc-distinct."""
    concat_expr = "concat(" + ", ' ', ".join(
        f"toks[i+{j}]" for j in range(5)
    ) + ")"
    return t.filter(F.size("toks") >= 5).select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(0, size(toks) - 5), "
                    f"i -> {concat_expr})"
                )
            )
        ).alias("g"),
    )


def _sc_js(counts: DataFrame) -> DataFrame:
    """Per-source TTR components + JS divergence vs the whole corpus,
    from any (source, token, n) frame (live token grain or the
    maintained store).

    The 20-row per-source totals are COLLECTED — that one action
    materializes a lazy checkpoint when the caller attached one, and
    the JS fold is then the only remaining plan consumer (bounded-
    collect discipline: |sources| is group-key cardinality, driver-
    held). This also retires the former Window.partitionBy("source")
    over the data-sized counts frame — a 20-key window is the
    documented low-cardinality single-task-sort killer at 100 TB; the
    totals re-enter as a literal map lookup instead.

    JS without the vocab × sources grid: a token ABSENT from a source
    contributes exactly 0.5·q — log2(q/(q/2)) is exactly 1 in IEEE
    (q/2 is a power-of-two scaling) — so the whole missing-token mass
    folds to the closed form 0.5·(1 − Σ_present q) and the fold only
    ever touches the PRESENT (source, token) rows: one token-keyed
    window for the corpus count (token is high-cardinality, so the
    window partitioning stays wide), no grid join, no zero guards.
    """
    tot_rows = counts.groupBy("source").agg(
        F.sum("n").alias("tot")
    ).collect()
    ct_val = sum(r["tot"] for r in tot_rows)
    tot_map = F.create_map(
        *[x for r in tot_rows for x in (F.lit(r["source"]), F.lit(r["tot"]))]
    )
    winc = counts.select(
        "source",
        "n",
        F.sum("n").over(Window.partitionBy("token")).alias("cn"),
    )
    p = F.col("n") / tot_map[F.col("source")].cast("double")
    q = F.col("cn") / F.lit(float(ct_val))
    m = (p + q) / 2
    term = 0.5 * p * F.log2(p / m) + 0.5 * q * F.log2(q / m)
    return winc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum("n").alias("tot"),
        (F.sum(term) + 0.5 * (F.lit(1.0) - F.sum(q))).alias("js_bits"),
    )


def _sc_final(
    per_doc: DataFrame, dup: DataFrame, js: DataFrame
) -> DataFrame:
    """Assemble the dashboard from the three ≤|sources|-row frames."""
    return (
        per_doc.join(dup, "source")
        .join(js, "source")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("total_toks").cast("long").alias("n_tokens"),
            F.round(
                F.col("n_pass") / F.col("n_docs").cast("double"), 6
            ).alias("gopher_pass_rate"),
            F.round(
                F.col("total_stop") / F.col("total_toks").cast("double"),
                6,
            ).alias("stopword_ratio"),
            F.round(
                F.col("n_distinct") / F.col("tot").cast("double"), 6
            ).alias("ttr"),
            F.round(
                F.col("n_dup") / F.col("n_grams").cast("double"), 6
            ).alias("dup5_rate"),
            F.round("js_bits", 6).alias("js_vs_corpus_bits"),
        )
        .orderBy("source")
    )


@query("corpus_quality_scorecard", _SCORECARD_ORACLE)
def corpus_quality_scorecard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source corpus curation scorecard (VERDICT r8 #2 / SURVEY
    §7.1 round-9 list): ONE dashboard row per source folding the
    existing gate/dup/diversity signals every real pipeline reads
    before deciding its mixture weights — doc count, token mass,
    Gopher-gate pass rate (text_gopher_rules' exact predicate),
    micro-averaged stopword ratio (text_quality's signal at corpus
    grain), type-token ratio (lexical diversity), duplicate-5-gram
    rate (text_dup_ngram_coverage's cross-doc redundancy at source
    grain), and JS divergence of the source's unigram distribution vs
    the WHOLE corpus (text_js_divergence made per-source; the corpus
    includes the source, the standard drift convention, so a dominant
    on-distribution source scores near 0 and a niche source scores
    high).

    Determinism: every rate is an exact integer ratio behind one 6dp
    round; JS folds zero-guarded double terms at 6dp (the verified
    text_js_divergence discipline — corpus support is a superset of
    every source's, so only the p-side needs the 0·log0 guard).

    Scale shape: three passes over documents, each collapsing at its
    natural grain before any join — doc grain (per-row predicates →
    groupBy source), token grain (partial-agg (source, token) counts;
    TTR, totals, AND the JS fold are all rollups of that one frame:
    a token absent from a source contributes exactly 0.5·q to JS
    because log2(q/(q/2)) is exactly 1 in IEEE, so the missing-token
    mass folds to the closed form 0.5·(1 − Σ_present q) and no
    vocab × sources grid is ever built — one token-keyed window
    supplies the corpus counts), and doc-distinct 5-gram grain
    (document frequency via ONE gram-keyed window — no pair
    enumeration, no join-back, no checkpoint; r10 shape). Final
    assembly joins three ≤|sources|-row frames.
    At 100 TB: hash grams/tokens to 16 bytes first; every shuffle key
    is already the aggregation key.
    """
    t = _sc_tok_frame(load(spark, sf_dir, "documents"))

    # --- doc grain: gopher gate + stopword mass ---
    per_doc = _sc_doc_grain(t)

    # --- token grain: TTR + JS, LAZY checkpoint materialized by the
    # bounded collect inside _sc_js (r10 shape: no eager job, no
    # source-keyed window — see _sc_js) ---
    counts = _sc_token_grain(t).localCheckpoint(eager=False)
    js = _sc_js(counts)

    # --- doc-distinct 5-gram grain: cross-doc redundancy per source.
    # Document frequency as ONE gram-keyed window instead of the
    # former groupBy(g) + join-back (which needed an eager checkpoint
    # and shuffled the gram frame by g twice): rows are doc-distinct
    # per gram, so count(*) over partitionBy(g) IS the gram's document
    # frequency; one shuffle, a single linear plan, no race. ---
    sh = _sc_gram_pairs(t)
    n_docs_g = F.count(F.lit(1)).over(Window.partitionBy("g"))
    dup = (
        sh.select("source", n_docs_g.alias("n_docs_g"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("n_docs_g") > 1, 1).otherwise(0)
            ).alias("n_dup"),
        )
    )

    return _sc_final(per_doc, dup, js)


@query(
    "dq_volume_anomaly_mad",
    """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
  FROM orders GROUP BY 1
),
stats AS (
  SELECT quantile_cont(n, 0.5) AS med FROM daily
),
mad AS (
  SELECT s.med, quantile_cont(abs(daily.n - s.med), 0.5) AS mad
  FROM daily CROSS JOIN stats s GROUP BY s.med
)
SELECT d, CAST(n AS BIGINT) AS n_orders,
  round(0.6745 * (n - m.med) / nullif(m.mad, 0), 4) AS robust_z,
  abs(0.6745 * (n - m.med) / nullif(m.mad, 0)) > 3.5 AS is_anomaly
FROM daily CROSS JOIN mad m
""",
)
def dq_volume_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order-volume anomaly via the MAD robust z-score — the
    data-quality monitor that survives what breaks the mean/σ version
    (events_anomaly): a few giant outlier days inflate σ and MASK
    every other anomaly, while the median absolute deviation is
    50%-breakdown robust, so a feed double-delivery or a dropped
    partition still stands out the day after a Black-Friday spike.
    0.6745·(x−med)/MAD is the standard consistency-scaled score
    (≈ z under normality); |z| > 3.5 is the Iglewicz–Hoaglin
    convention. The dq-family temporal member alongside
    dq_calendar_gaps (missing days) and dq_freshness_lag (late days) —
    this one flags WRONG-SIZED days.

    Determinism: daily counts are exact integers on a bounded date
    domain; median and MAD are quantile_cont-interpolated over that
    tiny grain in BOTH engines (the agg_percentile contract), and the
    flag compares the UNROUNDED score so the display round can't flip
    it; a degenerate MAD of 0 (every day identical — possible at toy
    SF) nulls the score in both engines via NULLIF rather than
    dividing by zero. Scale shape: one map-side-combinable count to the day grain;
    two scalar quantiles over ≤|days| rows re-entered via cross join —
    raw orders are scanned once.
    """
    orders = load(spark, sf_dir, "orders")
    # Lazy-checkpoint the day grain: three consumers (median, MAD,
    # final projection) would otherwise each re-derive the subtree and
    # re-scan raw orders (measured 5.8 s -> ~2 s at the 64x probe).
    # The frame is |days|-bounded, the cheapest checkpoint there is.
    daily = (
        orders.select(F.to_date("o_orderdate").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    med = daily.agg(
        F.percentile("n", F.lit(0.5)).alias("med")
    )
    mad = (
        daily.crossJoin(F.broadcast(med))
        .agg(
            F.any_value("med").alias("med"),
            F.percentile(
                F.abs(F.col("n") - F.col("med")), F.lit(0.5)
            ).alias("mad"),
        )
    )
    z = 0.6745 * (F.col("n") - F.col("med")) / F.nullif(
        F.col("mad"), F.lit(0.0)
    )
    return daily.crossJoin(F.broadcast(mad)).select(
        "d",
        F.col("n").cast("long").alias("n_orders"),
        F.round(z, 4).alias("robust_z"),
        (F.abs(z) > 3.5).alias("is_anomaly"),
    )
