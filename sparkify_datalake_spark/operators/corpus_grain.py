"""Shared whitespace term-frequency grain for the text-analytics family.

`text_burstiness`, `text_freq_spectrum`, `text_unigram_surprisal` and
`text_collocations_pmi` (its unigram side) all consume rollups of the
same (doc_id, lang, token, count) grain. Computed independently, each
pays its own corpus tokenize + explode + first shuffle — the dominant
cost of every one of them. A real pipeline materializes that grain once
per corpus snapshot and fans the reports out from it; this provider is
the session-scoped version of that discipline: the first consumer
tokenizes and localCheckpoints the grain, every later consumer in the
same session reuses it (the dedup_verified_frame discipline, extended
across queries).

Why the (doc_id, w) AGGREGATE and not the raw token stream: the grain
is the output of the family's shared first shuffle, so checkpointing it
caches real work (tokenize + explode + partial-agg + exchange), whereas
a checkpointed raw projection would be slower to re-read than to
re-scan (row-format reads — see the repo bench note on localCheckpoint).
Every downstream rollup (per-term moments, per-lang spectra, unigram
LM, per-doc surprisal) is derivable from it because token counts are
additive and `lang` is functional on `doc_id`.

Scale (100 TB): the grain is per-doc DISTINCT tokens — typically 3–10×
smaller than the token stream — and localCheckpoint's MEMORY_AND_DISK
storage spills; at web scale the drop-in swap is a persisted parquet
snapshot of the same frame (then every consumer also regains vectorized
reads). The grain is cached under `load`'s snapshot rule
(`load.session_frame`): one grain per (session, corpus path), keyed by
the documents fingerprint, so a documents.parquet rewritten at the same
path replaces the old grain instead of serving it, and the replaced
frame goes unreferenced for Spark's ContextCleaner to unpersist.

Zipf's-law note: `text_zipf_fit` pins the regex tokenizer
(`[^a-zA-Z0-9]+`) but rides this grain anyway (r12): whitespace is a
non-alnum separator, so regex-splitting the text equals regex-splitting
each whitespace TYPE and weighting by its count — exact same
frequencies, with the regex explode over the vocabulary instead of the
token stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkify_datalake_spark.sources.load import load, session_frame


def whitespace_tf_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, w, c): per-document whitespace-token counts,
    localCheckpointed once per (session, corpus snapshot) and shared by
    every text query whose report is a rollup of it."""

    def build() -> DataFrame:
        return (
            load(spark, sf_dir, "documents")
            .select(
                "doc_id",
                "lang",
                F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
            )
            .groupBy("doc_id", "lang", "w")
            .agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint(eager=False)
        )

    return session_frame(spark, sf_dir, "documents", "tf_grain", build)
