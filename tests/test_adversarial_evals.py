"""Adversarial eval-fixture family (VERDICT r8 #3): re-run the eval
ops on a HARD corpus (tools/gen_hard_fixture.py) where the signal they
measure actually exists — genuinely multilingual marker text,
anisotropic clustered embeddings, heavy-tailed money values. The
driver fixture can't exercise these (every doc is English-ish, the
embeddings are isotropic), so the evals were wired right but
untested-in-anger until this module.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ),
)


@pytest.fixture(scope="module")
def hard_dir(tmp_path_factory):
    from gen_hard_fixture import write_fixture

    from sparkify_datalake_spark.operators import similarity

    d = str(tmp_path_factory.mktemp("hard_corpus"))
    write_fixture(d)
    # the corpus lives under a fresh tmp dir per run, so its ANN indexes
    # go there too instead of piling up in the shared warehouse
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(similarity, "_INDEX_ROOT", tmp_path_factory.mktemp("ann"))
        yield d


def test_langid_eval_separates_languages(spark, hard_dir):
    """On marker-bearing text the heuristic must be SHIPPABLE: diagonal
    recall >= 0.9 for every marked language and the unmarked slice
    routed to 'und' — versus the driver corpus where it calls
    everything 'en' (honestly reported in round 8)."""
    from sparkify_datalake_spark.operators.text import text_langid_eval

    rows = text_langid_eval(spark, hard_dir).collect()
    recall = {
        (r["lang"], r["lid_guess"]): r["recall_share"] for r in rows
    }
    for lang in ["en", "de", "es", "fr", "zh"]:
        assert recall.get((lang, lang), 0.0) >= 0.90, (lang, recall)
    assert recall.get(("und", "und"), 0.0) == 1.0


def test_matryoshka_prefixes_work_on_anisotropic_geometry(
    spark, hard_dir
):
    """With variance concentrated in the leading dims, prefix retrieval
    must approach the full-dim answer (recall@10 >= 0.8 by dim 32 and
    1.0 at 64) and be monotone in dim — the exact signal the eval
    exists to detect, and the converse of the isotropic corpus's
    honest 0.1–0.5 readings."""
    from sparkify_datalake_spark.operators.similarity import (
        embed_matryoshka_eval,
    )

    rows = embed_matryoshka_eval(spark, hard_dir).collect()
    rec = {r["dim"]: r["recall_at_10"] for r in rows}
    dims = sorted(rec)
    assert rec[dims[-1]] == 1.0  # full dim is the self-consistent anchor
    assert rec[32] >= 0.8, rec
    for lo, hi in zip(dims, dims[1:]):
        assert rec[lo] <= rec[hi] + 0.10001, rec  # monotone (10% slack)


def test_pq_recall_holds_on_anisotropic_corpus(spark, hard_dir):
    """PQ's m=16 codebooks were retuned to recall 1.0 on the isotropic
    corpus (r8); correlated coordinates are the geometry that breaks
    plain PQ (the OPQ trigger condition SURVEY §7.1 parks on this
    measurement). Gate: recall@10 >= 0.9 here; below that, OPQ comes
    off the bench."""
    from sparkify_datalake_spark.operators.similarity import (
        sim_cosine_topk,
        sim_pq_topk,
    )

    exact = {r["vec_id"] for r in sim_cosine_topk(spark, hard_dir).collect()}
    got = {r["vec_id"] for r in sim_pq_topk(spark, hard_dir).collect()}
    recall = len(exact & got) / 10.0
    assert recall >= 0.9, f"PQ recall@10 {recall} — OPQ trigger tripped"


def test_ivfpq_composed_recall_on_anisotropic_corpus(spark, hard_dir):
    """VERDICT r9 #3: the two ANN tiers compound their losses only in
    COMPOSITION (IVF can prune the true neighbor's partition away AND
    the ADC ordering can push it below the rerank cutoff) — this is
    the production index, so its recall gets its own bound on the
    hard geometry. Measured surface (ANN_CURVES_hard.json "ivfpq"):
    recall@10 == 1.0 for every nprobe ∈ {1..8} once rerank ≥ 100; the
    rerank dial is binding (20 → 0.5, 50 → 0.9), nprobe is not (the
    coarse quantizer finds real clusters here). Gate: 1.0 at the
    registered defaults and ≥ 0.9 two rerank notches below — below
    either, the parked OPQ item comes off the bench."""
    from sparkify_datalake_spark.operators.similarity import (
        sim_cosine_topk,
        sim_ivf_pq_topk,
    )

    exact = {r["vec_id"] for r in sim_cosine_topk(spark, hard_dir).collect()}
    got = {
        r["vec_id"] for r in sim_ivf_pq_topk(spark, hard_dir).collect()
    }
    recall = len(exact & got) / 10.0
    assert recall == 1.0, f"composed recall@10 {recall} at defaults — OPQ"
    shallow = {
        r["vec_id"]
        for r in sim_ivf_pq_topk(spark, hard_dir, rerank=50).collect()
    }
    r50 = len(exact & shallow) / 10.0
    assert r50 >= 0.9, f"composed recall@10 {r50} at rerank=50 — OPQ"


def test_percentile_bands_hold_on_heavy_tail(spark, hard_dir):
    """The sketch-bracket engine's coverage assert must HOLD (query
    completes, no assert_true failure) on a lognormal sigma=2.5 value
    column — rank-space guarantees are distribution-free, and this
    pins that claim on a distribution 6 orders of magnitude wide."""
    from pyspark.sql import functions as F

    from sparkify_datalake_spark.operators.percentiles import (
        exact_percentiles,
    )
    from sparkify_datalake_spark.sources.load import load

    orders = load(spark, hard_dir, "orders")
    out = exact_percentiles(
        orders,
        ["o_orderpriority"],
        "o_totalprice",
        [(0.01, "p01"), (0.5, "p50"), (0.99, "p99")],
    ).collect()
    assert len(out) == 5
    # cross-check p50 against numpy on the same parquet
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(hard_dir, "orders.parquet")
    ).to_pandas()
    for row in out:
        vals = tbl.loc[
            tbl["o_orderpriority"] == row["o_orderpriority"],
            "o_totalprice",
        ].to_numpy()
        expect = np.quantile(vals, 0.5, method="linear")
        assert row["p50"] == pytest.approx(expect, rel=1e-9)
