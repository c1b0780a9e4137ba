"""Blocked-GEMM invariance + IVF/PQ build-once persistence (SURVEY §2-I scale
path). The 100 TB guarantee under test: per-task memory is bounded by the
block size, never the label size, and the blocking never changes results.
"""

from __future__ import annotations

import pytest

from sparkify_datalake_spark.operators import similarity as sim
from sparkify_datalake_spark.sources.load import load


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("block_size", [7, 32, 1 << 20])
def test_threshold_pairs_invariant_to_block_size(spark, sf_dir, block_size):
    emb = load(spark, sf_dir, "embeddings")
    base = _rows(sim._threshold_pairs_frame(emb, block_size=1 << 30))
    assert _rows(sim._threshold_pairs_frame(emb, block_size=block_size)) == base
    assert len(base) > 0


@pytest.mark.parametrize("block_size", [7, 32, 1 << 20])
def test_dedup_embed_invariant_to_block_size(spark, sf_dir, block_size):
    emb = load(spark, sf_dir, "embeddings")
    base = _rows(sim._dedup_embed_frame(emb, block_size=1 << 30))
    assert _rows(sim._dedup_embed_frame(emb, block_size=block_size)) == base
    # every vector maps to a survivor (diagonal ⇒ itself at minimum)
    assert len(base) == emb.count()


def test_small_blocks_make_bounded_multi_chunk_tasks(spark, sf_dir):
    """With a tiny block size the task table really does fan one label
    out across many block-pair tasks (the anti-OOM property)."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    tasks = sim._block_tasks(emb, block_size=8)
    per_task = (
        tasks.groupBy("label", "ci", "cj").count().select("count").collect()
    )
    # hash-uniform chunking: statistical bound, wide margin at block=8
    assert max(r["count"] for r in per_task) <= 4 * 8
    n_tasks = (
        tasks.select("label", "ci", "cj").distinct().count()
    )
    assert n_tasks > emb.select("label").distinct().count()


def test_pq_build_trains_once_per_corpus(spark, sf_dir):
    import os

    import numpy as np

    b1, p1 = sim.pq_build(spark, sf_dir, force=True)
    books = os.path.join(os.path.dirname(p1), "codebooks.npy")
    built = os.stat(books).st_mtime_ns
    # an index on disk is loaded, not retrained: the model file is
    # untouched and reloads bit for bit — no retrain, no re-encode
    b2, p2 = sim.pq_build(spark, sf_dir)
    assert p1 == p2 and np.array_equal(b1, b2)
    assert os.stat(books).st_mtime_ns == built
    assert b1.shape == (sim._PQ_M, sim._PQ_K, 64 // sim._PQ_M)
    assert os.path.exists(os.path.join(p1, "_SUCCESS"))


def test_ivf_build_trains_once_per_corpus(spark, sf_dir, monkeypatch):
    calls = {"n": 0}
    real = sim._kmeans_centroids

    def counting(spark_, sf_dir_):
        calls["n"] += 1
        return real(spark_, sf_dir_)

    monkeypatch.setattr(sim, "_kmeans_centroids", counting)
    sim.ivf_build(spark, sf_dir, force=True)  # the ONE training pass
    # every probe loads the centroids from the index dir, as a new
    # session would — it never retrains
    sim.sim_ivf_topk(spark, sf_dir).collect()
    sim.sim_ivf_topk(spark, sf_dir).collect()
    assert calls["n"] == 1


def test_block_kernels_survive_empty_chunk(spark):
    """Hash chunking can leave a chunk empty; a cross-chunk task then
    has one side missing and the kernel must skip it, not crash."""
    from pyspark.sql import functions as F

    # find three vec_ids in one label whose xxhash64 all land in chunk 0
    # of a 2-chunk split — chunk 1 is then empty by construction
    probe = spark.range(0, 200).select(
        F.col("id").alias("vec_id"),
        F.pmod(F.xxhash64("id"), F.lit(2)).alias("c"),
    )
    ids = [r["vec_id"] for r in probe.where("c = 0").limit(3).collect()]
    assert len(ids) == 3
    emb = spark.createDataFrame(
        [(i, 0, [float(i % 7) + 0.5] * 64) for i in ids],
        "vec_id long, label int, embedding array<float>",
    )
    # block_size=2 → C=2 chunks; all rows hash to chunk 0
    pairs = sim._threshold_pairs_frame(emb, block_size=2).collect()
    assert len(pairs) >= 0  # executes without ValueError
    surv = sim._dedup_embed_frame(emb, block_size=2).collect()
    assert len(surv) == 3
