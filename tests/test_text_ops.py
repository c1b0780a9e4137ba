"""Semantic cross-checks for text/growth operators whose oracle is
weaker than hash (text_compression_ratio is rows-only — DuckDB has no
zlib) or whose hash check can't see an internal identity
(events_growth_accounting's ledger must balance against DAU).
"""

from __future__ import annotations

import zlib

import duckdb
import pytest

from sparkify_datalake_spark.registry import queries


def test_compression_ratio_matches_plain_python(spark, sf_dir):
    """The mapInPandas kernel must agree with a trivial driver-side
    zlib recomputation: same level-6 zlib, same per-source averages.
    """
    got = {
        r["source"]: r
        for r in queries()["text_compression_ratio"](spark, sf_dir)
        .collect()
    }
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT source, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    con.close()
    per = {}
    for source, text in docs:
        raw = (text or "").encode("utf-8")
        ratio = len(zlib.compress(raw, 6)) / max(len(raw), 1)
        per.setdefault(source, []).append(ratio)
    assert set(per) == set(got)
    for source, ratios in per.items():
        row = got[source]
        assert row["n_docs"] == len(ratios)
        assert row["avg_ratio"] == pytest.approx(
            sum(ratios) / len(ratios), abs=1e-6
        )
        assert row["min_ratio"] == pytest.approx(min(ratios), abs=1e-6)
        assert row["max_ratio"] == pytest.approx(max(ratios), abs=1e-6)
        assert row["n_template_suspect"] == sum(
            1 for r in ratios if r < 0.4
        )


def test_growth_accounting_ledger_balances_against_dau(spark, sf_dir):
    """DAU(d) − DAU(d−1) must equal net_change(d) for every interior
    day: retained(d) + churned(d) partitions yesterday's actives, and
    new + retained + resurrected partitions today's. A misattributed
    churn day or a censoring bug breaks the ledger even when both
    engines agree on the (shared) arithmetic.
    """
    rows = sorted(
        queries()["events_growth_accounting"](spark, sf_dir).collect(),
        key=lambda r: r["d"],
    )
    con = duckdb.connect()
    dau = dict(
        con.execute(
            f"""SELECT CAST(ts AS DATE) AS d, count(DISTINCT user_id)
            FROM '{sf_dir}/events.parquet' GROUP BY 1"""
        ).fetchall()
    )
    con.close()
    for r in rows:
        assert (
            r["n_new"] + r["n_retained"] + r["n_resurrected"]
            == dau[r["d"]]
        ), f"DAU partition broken on {r['d']}"
    for prev, cur in zip(rows, rows[1:]):
        assert cur["net_change"] == dau[cur["d"]] - dau[prev["d"]], (
            f"ledger identity broken on {cur['d']}"
        )


def test_payload_entropy_matches_plain_python(spark, sf_dir):
    """The byte-entropy kernel must agree with a trivial driver-side
    recomputation over the same UTF-8 payloads."""
    import math

    got = {
        r["source"]: r
        for r in queries()["mm_payload_entropy"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT source, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    con.close()
    per = {}
    for source, text in docs:
        raw = (text or "").encode("utf-8")
        if not raw:
            per.setdefault(source, []).append(0.0)
            continue
        freq = {}
        for b in raw:
            freq[b] = freq.get(b, 0) + 1
        ent = -sum(
            (c / len(raw)) * math.log2(c / len(raw))
            for c in freq.values()
        )
        per.setdefault(source, []).append(ent)
    assert set(per) == set(got)
    for source, ents in per.items():
        row = got[source]
        assert row["n_docs"] == len(ents)
        assert row["avg_entropy"] == pytest.approx(
            sum(ents) / len(ents), abs=1e-6
        )
        assert row["min_entropy"] == pytest.approx(min(ents), abs=1e-6)
        assert row["max_entropy"] == pytest.approx(max(ents), abs=1e-6)


def test_minhash_kernel_matches_hof(spark, sf_dir):
    """The Arrow minhash-bucket kernel must be BIT-IDENTICAL to the
    nested-HOF reference (_minhash_sig_bands is THE signature
    contract): any drift changes bucket identity for dedup_near,
    dedup_near_verified and the incremental store at once.
    """
    from pyspark.sql import functions as F

    from sparkify_datalake_spark.operators.text import (
        _minhash_sig_bands,
        _tokens,
        minhash_band_buckets,
    )
    from sparkify_datalake_spark.sources.load import load

    docs = load(spark, sf_dir, "documents")
    got = sorted(
        (r["doc_id"], r["bucket"])
        for r in minhash_band_buckets(docs).collect()
    )
    sig, bands = _minhash_sig_bands()
    want = sorted(
        (r["doc_id"], r["bucket"])
        for r in docs.select(
            "doc_id", F.array_distinct(_tokens()).alias("toks")
        )
        .select("doc_id", sig.alias("sig"))
        .select("doc_id", F.explode(bands).alias("bucket"))
        .collect()
    )
    assert got == want


# Hand-built (id, items) rows for the pair-overlap kernel: a NULL array,
# an empty array, one-item arrays, the empty-string token, unsorted
# non-contiguous ids and a duplicate id (5).
_OVERLAP_ROWS = [
    (5, ["a", "b", "c"]),
    (2, ["b", "c"]),
    (9, None),
    (7, [""]),
    (3, ["a"]),
    (11, ["", "c", "z"]),
    (5, ["c", "d"]),
    (100, []),
    (8, ["q"]),
    (40, ["d", "", "a", "b"]),
]


@pytest.mark.parametrize("directed", [False, True])
def test_pair_overlap_kernel_matches_array_intersect(spark, directed):
    """The all-pairs anchors' Arrow kernel must give, for every pair
    sharing an item, inter = size(array_intersect), n_a = size(a) and
    n_b = size(b) — the integers the former per-pair expressions
    computed. Pairs compare ids strictly (a < b, or a != b directed), so
    the duplicate id never pairs with itself. The input is spread over
    several partitions and 2-row Arrow batches before coalesce(1).
    """
    from pyspark.sql import functions as F

    from sparkify_datalake_spark.operators.text import _overlap_pairs

    sets = spark.createDataFrame(
        _OVERLAP_ROWS, "id long, items array<string>"
    ).repartition(3)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got = sorted(
            tuple(r) for r in _overlap_pairs(sets, directed).collect()
        )
    finally:
        spark.conf.set(key, old)

    a, b = sets.alias("a"), sets.alias("b")
    cmp = F.col("a.id") != F.col("b.id") if directed else (
        F.col("a.id") < F.col("b.id")
    )
    inter = F.size(F.array_intersect("a.items", "b.items"))
    want = sorted(
        tuple(r)
        for r in a.join(b, cmp)
        .where(inter > 0)
        .select(
            "a.id",
            "b.id",
            inter.cast("long"),
            F.size("a.items").cast("long"),
            F.size("b.items").cast("long"),
        )
        .collect()
    )
    assert got == want
    assert (5, 5) not in {(x[0], x[1]) for x in got}
    assert any(x[0] == 7 or x[1] == 7 for x in got)  # the "" token pairs


def test_pair_overlap_kernel_under_two_rows_is_empty(spark):
    """Zero or one valid row gives no pairs, as a frame of the declared
    schema."""
    from sparkify_datalake_spark.operators.text import _overlap_pairs

    declared = "struct<a:bigint,b:bigint,inter:bigint,n_a:bigint,n_b:bigint>"
    for rows in ([], [(1, ["a"])], [(1, ["a"]), (2, None)]):
        sets = spark.createDataFrame(rows, "id long, items array<string>")
        for directed in (False, True):
            out = _overlap_pairs(sets, directed)
            assert out.schema.simpleString() == declared
            assert out.collect() == []


def test_simhash_kernel_matches_explode_formula(spark, sf_dir):
    """dedup_simhash's Arrow popcount kernel must reproduce the
    original explode-by-64 signature definition exactly: bit b is set
    iff Σ_tokens (2·((xxhash64(t)>>b)&1) − 1) > 0. Compares the full
    candidate-pair output at test scale.
    """
    from pyspark.sql import functions as F

    from sparkify_datalake_spark.registry import queries as _qs
    from sparkify_datalake_spark.sources.load import load

    got = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in _qs()["dedup_simhash"](spark, sf_dir).collect()
    )
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower("text"), " "))
        ).alias("token"),
    ).withColumn("h", F.xxhash64("token"))
    bits = tok.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
        "h",
    ).withColumn(
        "contrib",
        F.expr("shiftright(h, CAST(b AS INT))").bitwiseAND(F.lit(1)) * 2 - 1,
    )
    sig = (
        bits.groupBy("doc_id", "b")
        .agg(F.sum("contrib").alias("s"))
        .withColumn(
            "bit", F.when(F.col("s") > 0, F.lit(1)).otherwise(F.lit(0))
        )
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("bit") * F.expr("shiftleft(1L, CAST(b AS INT))")
            ).alias("simhash")
        )
    )
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.chunk")
    x, y = banded.alias("x"), banded.alias("y")
    want = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= 8)
        .distinct()
        .collect()
    )
    assert got == want
