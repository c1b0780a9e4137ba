"""Incrementally-maintained corpus quality scorecard (SURVEY §2
test-class, VERDICT r9 #4).

`corpus_quality_scorecard` recomputes three full passes over the
documents table; every scorecard ingredient is a distributive count at
one of three grains, each stored partitioned by `source`:

    doc_stats    (source)         n_docs / total_toks / total_stop / n_pass
    token_counts (source, token)  n
    gram_counts  (source, gram)   n_docs   (doc-distinct per gram)

- Merge: a per-key sum (``matview.merge_delta`` with sums), one call per
  grain, so an append batch rewrites only the source directories it
  touches.
- Dashboard fold: re-folds from the maintained grains, never from the
  raw documents. TTR and the per-source totals are rollups of
  token_counts; the JS divergence folds over present (source, token)
  rows exactly as the live query does; duplicate-5-gram rates fold
  gram_counts through one gram-keyed window where the live query
  windows the raw (doc, gram) rows (Σ n_docs per gram is the same
  document frequency). The grain builders are shared with
  operators/pipeline.py's live query (_sc_tok_frame/_sc_doc_grain/
  _sc_token_grain/_sc_gram_pairs/_sc_js/_sc_final), so incremental ==
  recompute is a property of one set of expressions
  (tests/test_matview_scorecard.py).

At 100 TB the token/gram stores are vocab × sources and grams × sources:
10-100× smaller than the raw text, but hash grams/tokens to 16 bytes
first (the same note as the live query).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkify_datalake_spark.sources.matview import merge_delta
from sparkify_datalake_spark.sources.sinks import write_partitioned_parquet

# the summed columns of each grain; every other column is its key
_GRAIN_SUMS = {
    "doc_stats": ("n_docs", "total_toks", "total_stop", "n_pass"),
    "token_counts": ("n",),
    "gram_counts": ("n_docs",),
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

    Append-only corpus semantics: doc_ids in the delta must be new (the
    corpus_e2e ingest contract); updates/deletes are CDC territory
    (cdc_apply_snapshot), not this view.
    """
    touched = {
        name: merge_delta(
            spark, os.path.join(path, name), d_agg, "source", _GRAIN_SUMS[name]
        )
        for name, d_agg in _grains(delta).items()
    }
    return touched["doc_stats"]


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
