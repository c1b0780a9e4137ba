"""Incrementally-maintained corpus quality scorecard (SURVEY §2
test-class, round 10 — VERDICT r9 #4).

`corpus_quality_scorecard` recomputes three full passes over the
documents table; at 100 TB × daily ingest batches that is the matview
problem all over again (sources/matview.py): the corpus only ever
GROWS by append batches, and every scorecard ingredient is a
distributive count at one of three grains —

    doc_stats    (source)         n_docs / total_toks / total_stop / n_pass
    token_counts (source, token)  n
    gram_counts  (source, gram)   n_docs   (doc-distinct per gram)

so the classic IVM result applies unchanged: V' = V ⊎ agg(ΔB), a
per-key sum merge whose cost is O(|Δ| + touched groups), independent
of corpus history. The per-source dashboard then RE-FOLDS from the
maintained grains (TTR and the per-source totals are rollups of
token_counts; the JS divergence folds over present (source, token)
rows exactly as the live query does; duplicate-5-gram rates fold
gram_counts through one gram-keyed window where the live query windows
the raw (doc, gram) rows — Σ n_docs per gram is the same document
frequency) — never from the raw documents.

The grain builders are SHARED with operators/pipeline.py's live query
(_sc_tok_frame/_sc_doc_grain/_sc_token_grain/_sc_gram_pairs/_sc_js/
_sc_final), so incremental == recompute is a property of one set of
expressions. Stores are source-partitioned parquet; a delta batch
rewrites only the source directories it touches (dynamic partition
overwrite — tests assert untouched partitions byte-stable, the
matview.py discipline).

At 100 TB the token/gram stores are themselves big (vocab × sources,
grams × sources) but 10-100× smaller than the raw text and keyed by
their aggregation keys, so the merge shuffles only the delta's grains;
hash grams/tokens to 16 bytes first at production scale (the same
note as the live query).

tests/test_matview_scorecard.py proves: incremental dashboard ==
corpus_quality_scorecard recompute bit-for-bit after appends, empty
delta is a no-op, and untouched source partitions stay byte-stable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkify_datalake_spark.sources.sinks import (
    overwrite_partitions_dynamic,
    write_partitioned_parquet,
)

_GRAIN_KEYS = {
    "doc_stats": ["source"],
    "token_counts": ["source", "token"],
    "gram_counts": ["source", "g"],
}
_GRAIN_SUMS = {
    "doc_stats": ["n_docs", "total_toks", "total_stop", "n_pass"],
    "token_counts": ["n"],
    "gram_counts": ["n_docs"],
}


def _grains(docs: DataFrame) -> dict[str, DataFrame]:
    from sparkify_datalake_spark.operators.pipeline import (
        _sc_doc_grain,
        _sc_gram_pairs,
        _sc_tok_frame,
        _sc_token_grain,
    )

    t = _sc_tok_frame(docs)
    return {
        "doc_stats": _sc_doc_grain(t),
        "token_counts": _sc_token_grain(t),
        "gram_counts": _sc_gram_pairs(t)
        .groupBy("source", "g")
        .agg(F.count(F.lit(1)).alias("n_docs")),
    }


def scorecard_store_init(
    spark: SparkSession, docs: DataFrame, path: str
) -> None:
    """Materialize the three grain stores from an initial corpus."""
    for name, df in _grains(docs).items():
        write_partitioned_parquet(df, os.path.join(path, name), ["source"])


def scorecard_store_apply(
    spark: SparkSession, path: str, delta: DataFrame
) -> list[str]:
    """Absorb an APPEND batch of documents; returns touched sources.

    Each grain merges prior ∪ agg(Δ) per key over ONLY the affected
    source partitions (partition-pruned read — history outside the
    batch's sources is never scanned), then dynamic-overwrites those
    directories. Append-only corpus semantics: doc_ids in the delta
    must be new (the corpus_e2e ingest contract); updates/deletes are
    CDC territory (cdc_apply_snapshot), not this view.
    """
    gs = {k: v.localCheckpoint(eager=False) for k, v in _grains(delta).items()}
    affected = [
        r["source"]
        for r in gs["doc_stats"].select("source").distinct().collect()
    ]
    if not affected:
        return []
    for name, d_agg in gs.items():
        grain_path = os.path.join(path, name)
        keys, sums = _GRAIN_KEYS[name], _GRAIN_SUMS[name]
        prior = (
            spark.read.parquet(grain_path)
            .filter(F.col("source").isin(affected))
            .select(*keys, *sums)
        )
        merged = (
            prior.unionByName(d_agg.select(*keys, *sums))
            .groupBy(*keys)
            .agg(*[F.sum(c).alias(c) for c in sums])
        )
        overwrite_partitions_dynamic(merged, grain_path, ["source"])
    return sorted(affected)


def scorecard_store_dashboard(
    spark: SparkSession, path: str
) -> DataFrame:
    """The corpus_quality_scorecard dashboard from the maintained
    grains — same columns, same arithmetic, no documents scan."""
    from sparkify_datalake_spark.operators.pipeline import (
        _sc_final,
        _sc_js,
    )

    per_doc = spark.read.parquet(os.path.join(path, "doc_stats")).select(
        "source", "n_docs", "total_toks", "total_stop", "n_pass"
    )
    counts = spark.read.parquet(
        os.path.join(path, "token_counts")
    ).select("source", "token", "n")
    js = _sc_js(counts)
    # document frequency of a gram = Σ_sources n_docs; the live query
    # windows the raw (doc, gram) rows — same integers, same fold
    grams = spark.read.parquet(os.path.join(path, "gram_counts"))
    from pyspark.sql import Window

    df_g = F.sum("n_docs").over(Window.partitionBy("g"))
    dup = (
        grams.select("source", "n_docs", df_g.alias("df"))
        .groupBy("source")
        .agg(
            F.sum("n_docs").alias("n_grams"),
            F.sum(
                F.when(F.col("df") > 1, F.col("n_docs")).otherwise(0)
            ).alias("n_dup"),
        )
    )
    return _sc_final(per_doc, dup, js)
