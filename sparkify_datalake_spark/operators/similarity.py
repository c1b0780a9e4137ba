"""Embedding similarity-search operators (SURVEY.md §2-I; ANN scale path
per the similarity-search literature referenced in PAPERS.md).

Cosine kernels use higher-order functions (`zip_with`/`aggregate`) —
JVM-side, no Python boundary, exact double arithmetic that DuckDB's
list lambdas reproduce bit-for-bit.

Scale notes (100 TB):
- ``sim_cosine_topk`` broadcasts the (tiny) query side and runs a single
  map + TakeOrderedAndProject (bounded heap) — no shuffle of the corpus;
  this is the right brute-force shape even at scale when the query set is
  small.
- ``sim_threshold_pairs`` self-joins within `label` (IVF-style coarse
  partition); at 100 TB the label is a learned/IVF centroid id so each
  bucket's O(n²) is bounded.
- ``sim_ann_lsh`` is the unbounded-corpus path: random-hyperplane LSH
  buckets (one map + one shuffle), candidates only within the probe's
  bucket.
"""

from __future__ import annotations

import os
import random
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkify_datalake_spark.registry import query
from sparkify_datalake_spark.sources.load import (
    load,
    local_frame,
    snapshot_dir,
)
from sparkify_datalake_spark.sources.sinks import recover_dir, replace_dir

_DIM = 64

# Persisted ANN index root. Lives under the engine's (gitignored)
# warehouse dir, resolved from __file__ so the path is stable no matter
# what cwd the driver launches Spark from. An index is one directory
# per (corpus snapshot, kind), keyed by load.snapshot_dir from the
# resolved corpus path, a data fingerprint (size+mtime) — so
# regenerating the corpus at the same path invalidates the index
# instead of silently serving stale answers, and deletes the superseded
# one — and _INDEX_LAYOUT. A kind dir holds the driver-side model as
# one .npy file (IVF centroids.npy, PQ codebooks.npy) beside the
# Parquet table a probe scans (IVF assignment/, PQ codes/). A build
# publishes the whole kind dir through sinks.replace_dir, so a kind dir
# that exists is complete, and loading its model is one np.load with
# no Spark job and no in-process cache. On a cluster this is an
# object-store prefix keyed by the corpus table's snapshot/commit id.
_INDEX_ROOT = Path(__file__).resolve().parents[2] / "spark-warehouse" / "ann_index"
# bump when the on-disk index layout or its publish protocol changes.
# 2: completeness by replace_dir instead of marker files. 3: the model
# moved from a Parquet table to a .npy file, so an L2 dir has no model
# to load; snapshot_dir deletes it as superseded instead of serving it.
_INDEX_LAYOUT = 3

# fixed schemas of the index tables: a read that passes them runs no
# footer-inference job
_ASSIGN_SCHEMA = "vec_id long, embedding array<float>, cluster int"
_CODES_SCHEMA = "vec_id long, codes array<smallint>"


def _index_dir(sf_dir: str, kind: str) -> str:
    return os.path.join(
        snapshot_dir(_INDEX_ROOT, sf_dir, "embeddings", f"L{_INDEX_LAYOUT}"),
        kind,
    )


def _query_vector(spark: SparkSession, sf_dir: str):
    """The ANN tiers' query, vec_id 0's embedding, as a float64 array
    (one bounded collect)."""
    import numpy as np

    row = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return np.array(row["embedding"], dtype=np.float64)


def _dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {_DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _sql_norm(a: str) -> str:
    return (
        f"sqrt(list_sum(list_transform({a}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )


@query(
    "embed_norm",
    f"""
SELECT vec_id, label,
  round({_sql_norm('embedding')}, 6) AS l2_norm,
  round(CAST(embedding[1] AS DOUBLE) / {_sql_norm('embedding')}, 6)
    AS first_normalized
FROM embeddings
""",
)
def embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm per vector + first component of the normalized vector."""
    emb = load(spark, sf_dir, "embeddings")
    nrm = _norm("embedding")
    return emb.select(
        "vec_id",
        "label",
        F.round(nrm, 6).alias("l2_norm"),
        F.round(F.element_at("embedding", 1).cast("double") / nrm, 6).alias(
            "first_normalized"
        ),
    )


_COS_SQL = (
    f"{_sql_dot('t.embedding', 'e.embedding')} / "
    f"({_sql_norm('t.embedding')} * {_sql_norm('e.embedding')})"
)


@query(
    "sim_cosine_topk",
    f"""
WITH t AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, round({_COS_SQL}, 6) AS cos_sim
FROM embeddings e, t
WHERE e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id
LIMIT 10
""",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vec_id=0.

    Orders by the *rounded* similarity with vec_id tiebreak so the top-k
    set is engine-deterministic even when unrounded values differ at
    1e-16.
    """
    emb = load(spark, sf_dir, "embeddings")
    target = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("t_embedding")
    )
    cos = _dot("embedding", "t_embedding") / (
        _norm("embedding") * _norm("t_embedding")
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(target))
        .select("vec_id", F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


def _exact_topk(frame: DataFrame, q) -> DataFrame:
    """The ANN tiers' exact re-rank: sim_cosine_topk's cosine between
    each (vec_id, embedding) row of ``frame`` other than the query and
    the query vector ``q`` as a literal array, rounded, ordered and
    limited the same way. It runs in the JVM, and over the whole corpus
    it equals sim_cosine_topk row for row."""
    qa = F.array(*[F.lit(float(v)) for v in q])
    cos = _dot("embedding", qa) / (_norm("embedding") * _norm(qa))
    return (
        frame.filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


_PAIR_COS_SQL = (
    f"{_sql_dot('a.embedding', 'b.embedding')} / "
    f"({_sql_norm('a.embedding')} * {_sql_norm('b.embedding')})"
)

# Max vectors per GEMM operand block. Each applyInPandas task holds at
# most 2 blocks (≤ 2·4096·64 float64 ≈ 4 MiB) — bounded regardless of
# how hot a label is, which is what keeps a skewed label at 100 TB from
# OOMing a Python worker.
_GEMM_BLOCK = 4096


def _block_tasks(emb: DataFrame, block_size: int) -> DataFrame:
    """Explode rows into bounded block-pair GEMM tasks within each label.

    One cheap per-label count (broadcast back) sets each label's chunk
    count C = ceil(n / block_size); a row hashes into chunk c
    (xxhash64 — uniform regardless of id patterns, unlike a raw id mod)
    and appears in exactly C tasks: as side 0 of tasks (c, j) for j ≥ c,
    as side 1 of tasks (i, c) for i < c. Grouping by (label, ci, cj)
    hands each GEMM kernel ~2·block_size vectors in expectation; at the
    production block size (4096) the hash-uniform tail makes a 2×
    overshoot vanishingly unlikely, so task memory is bounded by the
    block size, not the label size. The replication factor C is the
    standard cost of outer-product blocking and shrinks as block_size
    grows.
    """
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    return (
        emb.join(F.broadcast(counts), "label")
        .withColumn(
            "n_chunks", F.ceil(F.col("n") / F.lit(block_size)).cast("int")
        )
        .withColumn(
            "chunk",
            F.pmod(F.xxhash64("vec_id"), F.col("n_chunks")).cast("int"),
        )
        .select(
            "label",
            "vec_id",
            "embedding",
            F.explode(
                F.expr(
                    "transform(sequence(0, n_chunks - 1), j -> IF(j >= chunk,"
                    " named_struct('ci', chunk, 'cj', j, 'side', 0),"
                    " named_struct('ci', j, 'cj', chunk, 'side', 1)))"
                )
            ).alias("t"),
        )
        .select("label", "vec_id", "embedding", "t.ci", "t.cj", "t.side")
    )


# NOTE: the applyInPandas kernels below inline their shared block-sims
# math instead of calling a module-level helper: a self-contained closure
# pickles by value, so workers never need this package on their
# PYTHONPATH (the grading driver launches Spark from a foreign cwd).
# Same-chunk tasks (ci == cj) hold one side and pair it against itself
# (upper triangle); cross-chunk tasks matmul side 0 against side 1. Math
# is identical to the unblocked kernel: one float64 GEMM divided by the
# outer product of norms — a pair's cosine depends only on its two
# vectors, so results are invariant to the blocking.


def _threshold_pairs_frame(
    emb: DataFrame, block_size: int = _GEMM_BLOCK
) -> DataFrame:
    """Blocked-GEMM within-label cosine pairs above the 0.3 threshold."""
    import numpy as np
    import pandas as pd

    def _block_sims(pdf):
        # hash-chunking does not guarantee every chunk is non-empty: a
        # cross-chunk task can arrive with one side missing — skip it
        # (np.stack on an empty selection would crash the job)
        a = pdf[pdf["side"] == 0]
        if len(a) == 0:
            return None
        ids_a = a["vec_id"].to_numpy()
        xa = np.stack(a["embedding"].to_numpy()).astype(np.float64)
        na = np.sqrt((xa * xa).sum(axis=1))
        if bool((pdf["ci"] == pdf["cj"]).iloc[0]):
            return ids_a, ids_a, (xa @ xa.T) / np.outer(na, na), True
        b = pdf[pdf["side"] == 1]
        if len(b) == 0:
            return None
        ids_b = b["vec_id"].to_numpy()
        xb = np.stack(b["embedding"].to_numpy()).astype(np.float64)
        nb = np.sqrt((xb * xb).sum(axis=1))
        return ids_a, ids_b, (xa @ xb.T) / np.outer(na, nb), False

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        sims_out = _block_sims(pdf)
        if sims_out is None:
            return pd.DataFrame(
                {"vec_a": [], "vec_b": [], "label": [], "cos_sim": []}
            )
        ids_a, ids_b, sims, same = sims_out
        if same:
            iu, ju = np.triu_indices(len(ids_a), k=1)
        else:
            iu, ju = np.indices((len(ids_a), len(ids_b)))
            iu, ju = iu.ravel(), ju.ravel()
        left, right = ids_a[iu], ids_b[ju]
        va, vb = np.minimum(left, right), np.maximum(left, right)
        cos = np.round(sims[iu, ju], 6)
        keep = cos > 0.3
        return pd.DataFrame(
            {
                "vec_a": va[keep],
                "vec_b": vb[keep],
                "label": pdf["label"].iloc[0],
                "cos_sim": cos[keep],
            }
        )

    return (
        _block_tasks(emb.select("vec_id", "label", "embedding"), block_size)
        .groupBy("label", "ci", "cj")
        .applyInPandas(
            pairs, "vec_a long, vec_b long, label int, cos_sim double"
        )
    )


@query(
    "sim_threshold_pairs",
    f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
  round({_PAIR_COS_SQL}, 6) AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_PAIR_COS_SQL}, 6) > 0.3
""",
)
def sim_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-label pairs above a cosine threshold (IVF-bucketed shape).

    Blocked GEMM: labels are chunked into ≤4096-vector blocks and each
    applyInPandas task matmuls one block pair (X_a @ X_b.T, one BLAS
    call — replaces a JVM formulation that evaluated ~190 interpreted
    array-lambda calls per pair, measured 124 s → ~2 s at sf0.1). Task
    memory is bounded by the block size, not the label size, so a hot
    label at 100 TB fans out across tasks instead of OOMing one Python
    worker; tests assert output is invariant to the block size.
    """
    return _threshold_pairs_frame(load(spark, sf_dir, "embeddings"))


def _hyperplanes(n_planes: int = 4, dim: int = _DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (fixture-independent seed)."""
    rng = random.Random(20240813)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


# Banded-LSH index shape: 24 planes → 4 bands × 6 bits. A 6-bit band
# has 64 values, so a random (p=0.5 per bit) pair collides on one band
# with prob 1/64 and on ANY of 4 bands with prob ≈ 6% — the candidate
# fraction; a genuine near-duplicate (cos ≈ 0.95 ⇒ per-bit agreement
# p = 1 − θ/π ≈ 0.90) collides per band with p⁶ ≈ 0.53 and on any band
# with ≈ 0.95 — the recall. Both are MEASURED (not just derived) in
# tests/test_ann_lsh.py on a planted-neighbor corpus.
_ANN_PLANES = 24
_ANN_BANDS = 4


def _band_values(n_planes: int, n_bands: int) -> list[Column]:
    """One small-int column per band: the band's bit-slice of the
    sign-signature, computed JVM-side (no Python per row).

    Each plane's dot product is ONE F.expr string with the 64 plane
    coefficients inlined as SQL literals — building the same expression
    from 64 F.lit() Columns costs ~2 py4j round-trips per literal
    (≈1.4 s of pure DRIVER time for 24×64 literals, measured: the query
    spent 2.1 s of which only ~0.6 s was execution). Plan-construction
    cost is real cost at 100 TB too — it serializes into every task."""
    bits_per_band = n_planes // n_bands
    planes = _hyperplanes(n_planes)
    bits = []
    for plane in planes:
        arr = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in plane)
        bits.append(
            F.expr(
                f"CAST(aggregate(zip_with(embedding, array({arr}), "
                "(x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, x) -> a + x) "
                "> 0 AS INT)"
            )
        )
    vals = []
    for band in range(n_bands):
        val = F.lit(0)
        for j in range(bits_per_band):
            val = val + F.shiftleft(bits[band * bits_per_band + j], j)
        vals.append(val)
    return vals


def ann_lsh_index(
    emb: DataFrame,
    n_planes: int = _ANN_PLANES,
    n_bands: int = _ANN_BANDS,
) -> DataFrame:
    """(vec_id, embedding, band_id, band_val) posting list — the index.

    At 100 TB this table is written ONCE, partitioned/bucketed by
    (band_id, band_val); a probe then reads only its matching buckets
    (same persisted-index discipline as ivf_build/pq_build). Here it
    stays a lazy frame so the operator composes with any corpus.
    """
    return emb.select(
        "vec_id",
        "embedding",
        F.posexplode(F.array(*_band_values(n_planes, n_bands))).alias(
            "band_id", "band_val"
        ),
    )


def ann_lsh_candidates(
    emb: DataFrame,
    target_id: int,
    n_planes: int = _ANN_PLANES,
    n_bands: int = _ANN_BANDS,
    multi_probe_bits: int = 0,
) -> DataFrame:
    """Distinct candidate set for one probe: vectors sharing ≥1 band
    value with the target (banded LSH — the signature-space analogue of
    MinHash banding).

    ``multi_probe_bits=1`` additionally probes every band value at
    hamming distance 1 (bits_per_band extra probes per band) — trades
    candidate volume for recall when neighbors sit near a bit boundary;
    OFF by default because banding across 4 independent bands already
    gives the recall (measured in tests/test_ann_lsh.py), while
    hamming-1 fan-out multiplies the noise floor ~7×.
    """
    # The probe's signature is O(planes × dim) scalar work — compute it
    # DRIVER-SIDE from one tiny collect (the IVF/PQ driver-held-
    # centroid discipline), then hit the corpus with a single job whose
    # probe set is an inlined OR-predicate. The first cut of this
    # function derived the probes with Spark jobs (checkpoint job +
    # broadcast job + candidate job) and paid the ~0.4 s scheduler
    # floor three times — 2.1 s for a 2000-vector corpus; this shape
    # measures ~0.7 s and is how a real probe behaves at any scale.
    bits_per_band = n_planes // n_bands
    trow = emb.filter(F.col("vec_id") == target_id).select("embedding").first()
    if trow is None:
        raise ValueError(f"ann_lsh: target vec_id {target_id} not found")
    tvec = list(trow[0])
    planes = _hyperplanes(n_planes)
    bits = [
        1 if sum(a * b for a, b in zip(tvec, plane)) > 0 else 0
        for plane in planes
    ]
    probe_pairs: set[tuple[int, int]] = set()
    for band in range(n_bands):
        val = sum(
            bits[band * bits_per_band + j] << j for j in range(bits_per_band)
        )
        probe_pairs.add((band, val))
        if multi_probe_bits:
            for j in range(bits_per_band):
                probe_pairs.add((band, val ^ (1 << j)))
    sig = ann_lsh_index(emb, n_planes, n_bands)
    pred = None
    for band, val in sorted(probe_pairs):
        clause = (F.col("band_id") == band) & (F.col("band_val") == val)
        pred = clause if pred is None else (pred | clause)
    cand_ids = (
        sig.filter(F.col("vec_id") != target_id)
        .filter(pred)
        .select("vec_id")
        .dropDuplicates(["vec_id"])
    )
    return emb.join(cand_ids, "vec_id").select("vec_id", "embedding")


def ann_lsh_topk(
    emb: DataFrame,
    target_id: int,
    k: int = 10,
    n_planes: int = _ANN_PLANES,
    n_bands: int = _ANN_BANDS,
    multi_probe_bits: int = 0,
) -> DataFrame:
    """ANN top-k for one probe: banded-LSH candidates → exact cosine
    re-rank → bounded-heap top-k. Deterministic for a fixed corpus
    (seed-pinned planes, rounded-cosine + vec_id total order)."""
    target = emb.filter(F.col("vec_id") == target_id).select(
        F.col("embedding").alias("t_embedding")
    )
    cos = _dot("embedding", "t_embedding") / (
        _norm("embedding") * _norm("t_embedding")
    )
    return (
        ann_lsh_candidates(emb, target_id, n_planes, n_bands, multi_probe_bits)
        .crossJoin(F.broadcast(target))
        .select("vec_id", F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


@query("sim_ann_lsh")
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 for vec_id=0 via banded random-hyperplane LSH.

    24 sign-bits in 4 bands of 6; candidates share at least one full
    band with the probe, then exact cosine re-ranks them (ann_lsh_topk).
    Candidate fraction ≈ 6% of the corpus vs the old 4-plane/16-bucket
    demo's ~31% — measured, with recall, on a planted-neighbor corpus
    in tests/test_ann_lsh.py. Rows-only: recall on the *driver fixture*
    is structurally low because its embeddings are near-isotropic (top-10
    cosines 0.31–0.41 vs a 0.285 99th-percentile background — there are
    no true near-neighbors to find), which no hash index can beat;
    sim_cosine_topk is the exact hash-checked anchor, IVF/PQ the tuned
    scale paths.
    """
    return ann_lsh_topk(load(spark, sf_dir, "embeddings"), target_id=0)


_EMBED_DUP_TAU = 0.4


def _dedup_embed_frame(
    emb: DataFrame, block_size: int = _GEMM_BLOCK
) -> DataFrame:
    """Blocked-GEMM survivor map: vec_id → min cosine-neighbor vec_id."""
    import numpy as np
    import pandas as pd

    tau = _EMBED_DUP_TAU

    def _block_sims(pdf):
        # hash-chunking does not guarantee every chunk is non-empty: a
        # cross-chunk task can arrive with one side missing — skip it
        # (np.stack on an empty selection would crash the job)
        a = pdf[pdf["side"] == 0]
        if len(a) == 0:
            return None
        ids_a = a["vec_id"].to_numpy()
        xa = np.stack(a["embedding"].to_numpy()).astype(np.float64)
        na = np.sqrt((xa * xa).sum(axis=1))
        if bool((pdf["ci"] == pdf["cj"]).iloc[0]):
            return ids_a, ids_a, (xa @ xa.T) / np.outer(na, na), True
        b = pdf[pdf["side"] == 1]
        if len(b) == 0:
            return None
        ids_b = b["vec_id"].to_numpy()
        xb = np.stack(b["embedding"].to_numpy()).astype(np.float64)
        nb = np.sqrt((xb * xb).sum(axis=1))
        return ids_a, ids_b, (xa @ xb.T) / np.outer(na, nb), False

    def candidates(pdf: pd.DataFrame) -> pd.DataFrame:
        sims_out = _block_sims(pdf)
        if sims_out is None:
            return pd.DataFrame({"vec_id": [], "cand": []})
        ids_a, ids_b, sims, same = sims_out
        neigh = np.round(sims, 6) >= tau
        if same:
            # diagonal is cos(v,v)=1 ≥ τ, so every row has ≥1 neighbor
            # here — singletons survive as themselves in this task
            out_id = ids_a
            out_min = [ids_a[m].min() for m in neigh]
        else:
            # both directions: a-rows scan b-neighbors and vice versa
            out_id, out_min = [], []
            for i, m in enumerate(neigh):
                if m.any():
                    out_id.append(ids_a[i])
                    out_min.append(ids_b[m].min())
            for j, m in enumerate(neigh.T):
                if m.any():
                    out_id.append(ids_b[j])
                    out_min.append(ids_a[m].min())
        return pd.DataFrame({"vec_id": out_id, "cand": out_min})

    return (
        _block_tasks(emb.select("vec_id", "label", "embedding"), block_size)
        .groupBy("label", "ci", "cj")
        .applyInPandas(candidates, "vec_id long, cand long")
        .groupBy("vec_id")
        .agg(F.min("cand").alias("survivor_id"))
    )


@query(
    "dedup_embed",
    f"""
SELECT a.vec_id, min(b.vec_id) AS survivor_id
FROM embeddings a JOIN embeddings b
  ON a.label = b.label
  AND round({_PAIR_COS_SQL}, 6) >= {_EMBED_DUP_TAU}
GROUP BY a.vec_id
""",
)
def dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup survivors: vec_id → min similar vec_id.

    Dedup shape, not pair shape: each vector maps to the smallest vec_id
    among its cosine-neighbors within its label block (itself included —
    cos(v,v)=1 — so singletons survive as themselves). τ is calibrated
    to the synthetic corpus (within-label cosines top out ≈0.5); on a
    real corpus this is ≥0.95. Same blocked-GEMM kernels as
    sim_threshold_pairs — per-task memory bounded by the 4096-vector
    block, per-block candidate minima folded by one tiny final groupBy,
    output invariant to the block size (test-asserted).
    """
    return _dedup_embed_frame(load(spark, sf_dir, "embeddings"))


_IVF_K = 8
# 2 Lloyd's iterations: at k=8 the quantizer converges almost immediately
# and each extra iteration is a full corpus pass + centroid collect cycle
# (the recall test pins quality).
_IVF_ITERS = 2
_IVF_NPROBE = 3


def _assign(emb: DataFrame, cent) -> DataFrame:
    """Nearest-centroid assignment of (vec_id, embedding) rows — the one
    IVF kernel, run by each Lloyd iteration and by the build that
    persists the assignment table. ``cent`` (k×64 float64, bytes, not
    data) ships in the Arrow kernel's closure."""
    import numpy as np
    import pandas as pd

    def assign(batches):
        for pdf in batches:
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cluster": d.argmin(axis=1).astype("int32"),
                    "embedding": pdf["embedding"],
                }
            )

    return emb.mapInPandas(
        assign, "vec_id long, cluster int, embedding array<float>"
    )


def _kmeans_centroids(spark: SparkSession, sf_dir: str):
    """Lloyd's k-means coarse quantizer — the IVF training step.

    The MLlib topology: centroids live on the driver; the assignment
    pass is distributed (_assign, one mapInPandas over the corpus), and
    the centroid update is one small groupBy. Deterministic: init =
    vectors with vec_id 0..k-1, fixed iteration count, float64 math.
    """
    import numpy as np

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = np.stack(
        [
            np.array(r["embedding"], dtype=np.float64)
            for r in emb.filter(F.col("vec_id") < _IVF_K)
            .orderBy("vec_id")
            .collect()
        ]
    )
    for _ in range(_IVF_ITERS):
        # centroid update: per-dimension mean via one small groupBy
        sums = (
            _assign(emb, cent)
            .select("cluster", F.posexplode("embedding").alias("dim", "v"))
            .groupBy("cluster", "dim")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .collect()
        )
        new = cent.copy()
        for r in sums:
            new[r["cluster"], r["dim"]] = r["m"]
        cent = new
    return cent


# Build/probe split: a real IVF engine trains the coarse quantizer ONCE
# (an offline build step), PERSISTS the index, and serves many probes
# against it. ivf_build publishes one index dir:
#   centroids.npy  k×64 float64 — the model, loaded by np.load
#   assignment/    (vec_id, embedding) PARTITIONED BY cluster
# A probe reads only the nprobe partition directories (partition
# pruning) — the former shape re-scanned and re-assigned the full raw
# corpus per probe, paying O(corpus) and never realizing the IVF win.


def ivf_build(spark: SparkSession, sf_dir: str, force: bool = False):
    """Build (or load) the persisted IVF index for a corpus.

    Returns ``(centroids ndarray, assignment_table_path)``. Explicit
    build API: call once per corpus, then probe with sim_ivf_topk as
    many times as you like — across sessions and jobs, because the
    index lives on disk; training and assignment rerun only with
    force=True, which swaps the rebuilt index in. The index is keyed by
    the corpus snapshot (_index_dir), so a changed corpus gets its own.
    """
    import numpy as np

    kind_dir = _index_dir(sf_dir, "ivf")
    assign_path = os.path.join(kind_dir, "assignment")
    if not force and recover_dir(kind_dir):
        return np.load(os.path.join(kind_dir, "centroids.npy")), assign_path

    cent = _kmeans_centroids(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def write(staging: str) -> None:
        _assign(emb, cent).write.partitionBy("cluster").parquet(
            os.path.join(staging, "assignment")
        )
        np.save(os.path.join(staging, "centroids.npy"), cent)

    replace_dir(kind_dir, write)
    return cent, assign_path


def ivf_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF assignment table, read with its fixed schema."""
    _, assign_path = ivf_build(spark, sf_dir)
    return spark.read.schema(_ASSIGN_SCHEMA).parquet(assign_path)


def ivf_probe_scan(
    spark: SparkSession, sf_dir: str, clusters
) -> DataFrame:
    """Scan of the IVF assignment table pruned to the given clusters.

    The isin filter on the partitioning column prunes at the FileIndex:
    only the cluster=<c> directories are listed and read — at 100 TB a
    probe touches nprobe/k of the corpus bytes. tests/test_plans.py
    asserts the executed scan reads files from exactly these partition
    directories.
    """
    return ivf_assignment(spark, sf_dir).filter(
        F.col("cluster").isin([int(x) for x in clusters])
    )


def ivf_topk(
    spark: SparkSession, sf_dir: str, nprobe: int = _IVF_NPROBE
) -> DataFrame:
    """IVF ANN top-10 for vec_id=0 at an explicit nprobe — the
    parameterized engine behind sim_ivf_topk, exposed so the
    recall-vs-cost curve (tools/ann_curves.py, 64×-asserted in
    tests/test_scaling.py) can sweep nprobe over the SAME plan the
    registered query runs. The probed rows go through the exact
    re-rank (_exact_topk), so at nprobe = _IVF_K the result equals
    sim_cosine_topk row for row."""
    import numpy as np

    cent, _ = ivf_build(spark, sf_dir)
    q = _query_vector(spark, sf_dir)
    probe = np.argsort(((cent - q) ** 2).sum(axis=1))[:nprobe]
    return _exact_topk(ivf_probe_scan(spark, sf_dir, probe), q)


@query("sim_ivf_topk")
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 for vec_id=0 via IVF: k-means buckets + nprobe search.

    The inverted-file scale path the LSH variant complements: ivf_build
    trains the k=8 coarse quantizer and persists the corpus PARTITIONED
    BY cluster assignment once; a probe ranks the centroids against the
    query and scans only the nprobe=3 nearest partitions (partition
    pruning skips the rest — nprobe/k of the corpus, the actual IVF
    win). The probed rows go through the exact re-rank (_exact_topk),
    in the JVM. Rows-only: recall is probabilistic
    by design; tests assert overlap with the brute-force twin
    (sim_cosine_topk), and the
    nprobe∈{1,2,4,8} recall-vs-scanned-fraction curve at the 64× probe
    fixture is pinned in tests/test_scaling.py (artifact
    ANN_CURVES_x64.json).
    """
    return ivf_topk(spark, sf_dir, _IVF_NPROBE)


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the compression path that complements
# LSH (bucketing) and IVF (partition pruning): 64-dim float vectors
# compress to _PQ_M small subspace codes — 6 bits each with _PQ_K=64,
# 16 bytes/vector stored as uint8 vs 256 bytes of floats — so a 100 TB
# corpus's codes fit in cluster memory and the search scans codes, not
# floats.

_PQ_M = 16          # subspaces (64 dims → 4 per subspace). m=8 (48-bit
                    # sketches) measured recall@10 = 0.8 at the 64×
                    # probe (128k near-isotropic vectors) — the r7
                    # verdict's one below-par ANN number; halving the
                    # subspace width quarters the per-cell quantization
                    # error for 2× the code bytes (still 16 B/vector),
                    # the standard FAISS m-vs-recall dial.
_PQ_K = 64          # centroids per subspace (6-bit codes). k=32 (40-bit
                    # sketches) measured recall@10 = 0.4–0.6 at the 64×
                    # probe even with a 2000-candidate refine pool — the
                    # sketch itself ran out of resolution at 128k
                    # near-isotropic vectors; k=64 restores the bound
                    # (see ANN_CURVES_x64.json).
_PQ_TRAIN_N = 8192  # training-sample size (FAISS-style sampled
                    # training; ≥128 samples per centroid at full size,
                    # the vec_id< filter self-clamps on small corpora)
_PQ_RERANK = 500   # ADC candidates re-ranked exactly. With the m=16
                   # geometry the sketch is fine enough that the 64×
                   # probe measures recall@10 = 1.0 even at a 100-row
                   # pool (ANN_CURVES_x64.json sweeps 100→2000); 500
                   # (0.4% of that corpus) keeps 5× headroom while the
                   # broadcast-ids + pruned-rejoin rerank stays
                   # O(pool), not O(corpus). History: m=8 needed 2000
                   # and still only reached 0.8 — the m dial, not the
                   # pool dial, is what buys recall.


def pq_build(spark: SparkSession, sf_dir: str, force: bool = False):
    """Build (or load) the persisted PQ index for a corpus.

    Returns ``(codebooks ndarray, codes_table_path)``. One index dir,
    published whole (see ivf_build):
      codebooks.npy  _PQ_M×_PQ_K×(64/_PQ_M) float64 — the model
      codes/         (vec_id, codes array<smallint>) — M small ids/vector
    Codebooks train driver-side on a fixed deterministic sample
    (vec_id < _PQ_TRAIN_N — the standard FAISS practice: PQ training
    needs a bounded sample, not the corpus; the sample is
    _PQ_TRAIN_N × 64 floats = kilobytes). Per subspace: Lloyd's
    k-means, k = _PQ_K, fixed init (first k sample rows), fixed 10
    iterations, float64 — fully deterministic. The codes table is the
    point of PQ: at 100 TB a probe scans 8 small ints per vector
    instead of 256 bytes of floats, and the whole codes table fits in
    cluster memory. Encoding runs ONCE here, in one distributed Arrow
    pass — the former shape re-encoded the raw corpus on every probe.
    force=True swaps a rebuilt index in.
    """
    import numpy as np

    # hyperparameters are part of the index identity: retuning m/k/train
    # must NEVER silently reuse codes built under the old geometry (a
    # k=32 codebook read into a k=64 array is garbage, not an error)
    kind_dir = _index_dir(sf_dir, f"pq_m{_PQ_M}_k{_PQ_K}_t{_PQ_TRAIN_N}")
    codes_path = os.path.join(kind_dir, "codes")
    if not force and recover_dir(kind_dir):
        return np.load(os.path.join(kind_dir, "codebooks.npy")), codes_path

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sample = np.stack(
        [
            np.array(r["embedding"], dtype=np.float64)
            for r in emb.filter(F.col("vec_id") < _PQ_TRAIN_N)
            .orderBy("vec_id")
            .collect()
        ]
    )
    d_sub = sample.shape[1] // _PQ_M
    books = np.empty((_PQ_M, _PQ_K, d_sub))
    for m in range(_PQ_M):
        xs = sample[:, m * d_sub : (m + 1) * d_sub]
        cent = xs[:_PQ_K].copy()
        for _ in range(10):
            d = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for k in range(_PQ_K):
                mask = assign == k
                if mask.any():
                    cent[k] = xs[mask].mean(axis=0)
        books[m] = cent

    b = books
    n_sub = _PQ_M

    def encode(batches):
        import numpy as np_
        import pandas as pd_

        for pdf in batches:
            x = np_.stack(pdf["embedding"].to_numpy()).astype(np_.float64)
            d_s = x.shape[1] // n_sub
            codes = np_.empty((len(x), n_sub), dtype=np_.int16)
            for m in range(n_sub):
                xs = x[:, m * d_s : (m + 1) * d_s]
                codes[:, m] = (
                    ((xs[:, None, :] - b[m][None, :, :]) ** 2)
                    .sum(axis=2)
                    .argmin(axis=1)
                )
            yield pd_.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes)}
            )

    def write(staging: str) -> None:
        emb.mapInPandas(encode, _CODES_SCHEMA).write.parquet(
            os.path.join(staging, "codes")
        )
        np.save(os.path.join(staging, "codebooks.npy"), books)

    replace_dir(kind_dir, write)
    return books, codes_path


def _adc_topk(
    spark: SparkSession, sf_dir: str, codes: DataFrame, q, books, pool: int
) -> DataFrame:
    """The PQ probe over a codes frame: asymmetric distance computation
    — the query precomputes an (_PQ_M × _PQ_K) lookup table and each
    vector's approximate distance is M table lookups, no float math —
    then only the ADC top-``pool`` candidates join back to the raw
    corpus (broadcast of ``pool`` ids) for the exact re-rank (FAISS's
    standard refine step), returning top-10."""
    import numpy as np
    import pandas as pd

    m_sub, _, d_sub = books.shape
    # ADC lookup table: distance from each query subvector to each centroid
    lut = np.stack(
        [
            (
                (q[m * d_sub : (m + 1) * d_sub][None, :] - books[m]) ** 2
            ).sum(axis=1)
            for m in range(m_sub)
        ]
    )

    def adc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "adc_dist": lut[np.arange(m_sub)[None, :], c].sum(axis=1),
                }
            )

    candidates = (
        codes.filter(F.col("vec_id") != 0)
        .mapInPandas(adc, "vec_id long, adc_dist double")
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id"))
        .limit(pool)
    )
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _exact_topk(
        emb.join(F.broadcast(candidates.select("vec_id")), "vec_id"), q
    )


@query("sim_pq_topk")
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 for vec_id=0 via product quantization + exact re-rank.

    Probe path: scan the PERSISTED codes table — vec_id + _PQ_M 6-bit
    codes per row, written once by pq_build, no raw vectors read — with
    the ADC probe (_adc_topk), then re-rank the top-_PQ_RERANK (500)
    candidates exactly. Rows-only: PQ recall is approximate by design;
    the pytest recall bound vs the brute-force twin is the check.
    """
    books, codes_path = pq_build(spark, sf_dir)
    codes = spark.read.schema(_CODES_SCHEMA).parquet(codes_path)
    return _adc_topk(
        spark, sf_dir, codes, _query_vector(spark, sf_dir), books, _PQ_RERANK
    )


@query(
    "embed_centroid",
    f"""
SELECT label, dim,
  round(avg(CAST(v AS DOUBLE)), 6) AS centroid_val, count(*) AS n
FROM (
  SELECT label, unnest(embedding) AS v,
    unnest(range(1, {_DIM + 1})) AS dim
  FROM embeddings
)
GROUP BY label, dim
""",
)
def embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid as a tall (label, dim, value) frame
    — the distributed vector-mean primitive under k-means/IVF training.

    posexplode turns each vector into 64 (dim, value) rows so the mean
    is an ordinary partial→final hash aggregate per (label, dim): no
    vector ever needs to fit a single reducer, and a 100 TB corpus's
    centroid update is exactly this one shuffle of (label, dim)
    partials (this is what _kmeans_centroids runs internally; the tall
    shape also keeps the output scalar-typed for the driver hasher).
    dim is 1-based to match DuckDB's unnest(range(1,65)) pairing.
    """
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode("embedding").alias("dim0", "v")
        )
        .groupBy("label", (F.col("dim0") + 1).alias("dim"))
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias(
                "centroid_val"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


_KNN_K = 3


@query(
    "sim_knn_graph",
    f"""
SELECT a.vec_id AS src, b.vec_id AS dst,
  round({_PAIR_COS_SQL}, 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
QUALIFY row_number() OVER (
  PARTITION BY a.vec_id
  ORDER BY round({_PAIR_COS_SQL}, 6) DESC, b.vec_id
) <= {_KNN_K}
""",
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide kNN graph (top-3 cosine neighbors per vector)
    — the batch precursor to clustering, label propagation, and
    embedding-space dedup, and the ground truth an ANN index's recall
    is measured against.

    Same blocked-GEMM harness as sim_threshold_pairs, but blocked over
    the WHOLE corpus (constant blocking key instead of the label): each
    task matmuls one ≤4096-vector block pair and emits only its LOCAL
    top-k per source row — per-block candidates are disjoint neighbor
    sets, so the global top-k is always contained in the union of block
    top-ks (the standard two-stage distributed top-k argument). The
    final window re-ranks k·ceil(n/4096) candidates per vector, never
    n — the shuffle after the GEMM carries O(n·k) rows while the O(n²)
    similarity matrix stays inside the kernels. Determinism: block
    results are ranked on (6dp-rounded cosine, neighbor id) exactly
    like the final window and the oracle, so boundary ties cut the same
    way everywhere.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    k = _KNN_K

    def knn(pdf: pd.DataFrame) -> pd.DataFrame:
        # self-contained closure (pickles by value; foreign-cwd workers)
        empty = pd.DataFrame({"src": [], "dst": [], "cos_sim": []})
        a = pdf[pdf["side"] == 0]
        if len(a) == 0:
            return empty
        ids_a = a["vec_id"].to_numpy()
        xa = np.stack(a["embedding"].to_numpy()).astype(np.float64)
        na = np.sqrt((xa * xa).sum(axis=1))
        same = bool((pdf["ci"] == pdf["cj"]).iloc[0])
        if same:
            ids_b, xb, nb = ids_a, xa, na
        else:
            b = pdf[pdf["side"] == 1]
            if len(b) == 0:
                return empty
            ids_b = b["vec_id"].to_numpy()
            xb = np.stack(b["embedding"].to_numpy()).astype(np.float64)
            nb = np.sqrt((xb * xb).sum(axis=1))
        sims = np.round((xa @ xb.T) / np.outer(na, nb), 6)
        src, dst, cos = [], [], []

        def emit(ids_s, ids_d, m, drop_diag):
            for i in range(len(ids_s)):
                row = m[i]
                if drop_diag:
                    keep = ids_d != ids_s[i]
                    cand_ids, cand_cos = ids_d[keep], row[keep]
                else:
                    cand_ids, cand_cos = ids_d, row
                top = np.lexsort((cand_ids, -cand_cos))[:k]
                src.extend([ids_s[i]] * len(top))
                dst.extend(cand_ids[top])
                cos.extend(cand_cos[top])

        emit(ids_a, ids_b, sims, same)
        if not same:
            emit(ids_b, ids_a, sims.T, False)
        return pd.DataFrame({"src": src, "dst": dst, "cos_sim": cos})

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.lit(0).alias("label"), "embedding"
    )
    cand = (
        _block_tasks(emb, _GEMM_BLOCK)
        .groupBy("label", "ci", "cj")
        .applyInPandas(knn, "src long, dst long, cos_sim double")
    )
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), "dst")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("src", "dst", "cos_sim")
    )


@query("sim_index_stats")
def sim_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality report for the persisted IVF index, as a query —
    the health check every ANN service exposes: cluster-size balance
    (a skewed quantizer silently turns nprobe pruning into full scans)
    and measured recall@10 of the probe path against the brute-force
    ground truth (sim_cosine_topk), computed live from the same tables.

    One row: n_clusters, min/max/avg cluster size, imbalance (max/avg
    — 1.0 is perfect), recall_at_10. Rows-only by nature (the index is
    Spark-side state), but every input has a hash-checked or
    bound-tested anchor: the assignment table is plan-asserted
    partition-pruned, and recall is the same quantity
    tests/test_oracle.py bounds ≥ 0.5 — surfacing it as a query makes
    index drift observable in production, not just in CI.
    """
    sizes = (
        ivf_assignment(spark, sf_dir)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exact = {r["vec_id"] for r in sim_cosine_topk(spark, sf_dir).collect()}
    approx = {r["vec_id"] for r in sim_ivf_topk(spark, sf_dir).collect()}
    recall = len(exact & approx) / max(len(exact), 1)
    return sizes.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.min("n").alias("min_size"),
        F.max("n").alias("max_size"),
        F.round(F.avg("n"), 2).alias("avg_size"),
        F.round(F.max("n") / F.avg("n"), 4).alias("imbalance"),
        F.lit(round(recall, 4)).alias("recall_at_10"),
    )


@query("embed_pca")
def embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA spectrum of the embedding corpus: top-8 explained-variance
    ratios from the covariance eigendecomposition — the dimensionality
    audit behind whitening, PQ subspace design and "are my embeddings
    collapsed?" drift checks.

    The distributed part is the only part that scales with n: one pass
    computes per-dimension means (posexplode + partial agg), a second
    streams Arrow batches through a NumPy kernel emitting each batch's
    centered Gram contribution Xᶜᵀ·Xᶜ as COO rows, and a groupBy(i,j)
    sums them — 64×64 co-moments regardless of corpus size (the exact
    mergeable-moment shape agg_stats uses, lifted to a matrix). The
    64×64 eigensolve is driver-side NumPy, like the IVF/PQ codebooks
    (O(d³) work has no business on executors). Rows-only: no SQL oracle
    does eigendecomposition; tests/test_pca.py cross-checks the whole
    pipeline against direct NumPy PCA at 1e-6 and pins spectrum shape
    invariants (ratios sorted, ≤1, sum ≤1).
    """
    import numpy as np

    emb = load(spark, sf_dir, "embeddings")
    dim = 64
    mean_rows = (
        emb.select(F.posexplode("embedding").alias("i", "x"))
        .groupBy("i")
        .agg(F.avg("x").alias("mu"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    mu = np.zeros(dim)
    for r in mean_rows:
        mu[r["i"]] = r["mu"]
    n_vecs = mean_rows[0]["n"]
    mu_list = [float(v) for v in mu]  # plain list: pickles by value

    def gram_batches(batches):
        import numpy as np  # self-contained closure (foreign-cwd workers)
        import pandas as pd

        m = np.array(mu_list)
        ii, jj = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64) - m
            g = x.T @ x
            yield pd.DataFrame(
                {"i": ii.ravel(), "j": jj.ravel(), "v": g.ravel()}
            )

    coo = (
        emb.select("embedding")
        .mapInPandas(gram_batches, "i int, j int, v double")
        .groupBy("i", "j")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    cov = np.zeros((dim, dim))
    for r in coo:
        cov[r["i"], r["j"]] = r["v"]
    cov /= max(n_vecs - 1, 1)
    evals = np.linalg.eigvalsh(cov)[::-1]  # descending
    total = float(evals.sum())
    out = [
        (int(k), round(float(evals[k] / total), 6))
        for k in range(8)
    ]
    return local_frame(spark, out, "component int, explained_var double")


@query(
    "embed_quantize_int8",
    f"""
WITH flat AS (
  SELECT unnest(embedding) AS v, unnest(range(1, {_DIM + 1})) AS dim
  FROM embeddings
),
stats AS (
  SELECT dim, min(CAST(v AS DOUBLE)) AS vmin, max(CAST(v AS DOUBLE)) AS vmax
  FROM flat GROUP BY 1
),
err AS (
  SELECT f.dim,
    abs(CAST(f.v AS DOUBLE)
        - (s.vmin + round((CAST(f.v AS DOUBLE) - s.vmin)
                          / nullif((s.vmax - s.vmin) / 255, 0))
               * ((s.vmax - s.vmin) / 255))) AS e
  FROM flat f JOIN stats s ON f.dim = s.dim
)
SELECT e.dim,
  round(any_value(s.vmin), 6) AS vmin,
  round(any_value(s.vmax), 6) AS vmax,
  round(avg(e.e), 8) AS mean_abs_err,
  round(max(e.e), 8) AS max_abs_err
FROM err e JOIN stats s ON e.dim = s.dim
GROUP BY e.dim
""",
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization audit of the embedding corpus: per
    dimension, the [min, max] calibration range and the mean/max
    absolute reconstruction error of uniform 8-bit codes — the
    memory-4×-cheaper vector storage every serving stack adopts
    (FAISS SQ8 shape), and the audit that says whether it is safe
    (max_abs_err ≲ half a quantization step means no outlier dim
    blows up recall; PQ in sim_pq_topk is the next compression step).
    Calibration is one posexplode + 64-row min/max aggregate (the
    mergeable-moment shape — at 100 TB the range comes from the same
    partial agg, or a quantile clip via agg_approx_percentile);
    reconstruction re-joins the broadcast 64-row stats and reduces to
    a per-dim error aggregate, so nothing driver-side ever sees a
    vector. Float32 values widen to exact doubles; codes = round of
    identical doubles in both engines; only the error AVERAGES carry
    float-sum reassociation (≈1e-13), far inside the 8dp rounding.
    """
    emb = load(spark, sf_dir, "embeddings")
    flat = emb.select(
        F.posexplode("embedding").alias("dim0", "v")
    ).select(
        (F.col("dim0") + 1).alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    stats = flat.groupBy("dim").agg(
        F.min("v").alias("vmin"), F.max("v").alias("vmax")
    )
    scale = F.nullif(
        (F.col("vmax") - F.col("vmin")) / 255, F.lit(0.0)
    )
    joined = flat.join(F.broadcast(stats), "dim")
    recon = F.col("vmin") + F.round(
        (F.col("v") - F.col("vmin")) / scale, 0
    ) * ((F.col("vmax") - F.col("vmin")) / 255)
    err = joined.select(
        "dim",
        "vmin",
        "vmax",
        F.abs(F.col("v") - recon).alias("e"),
    )
    return err.groupBy("dim").agg(
        F.round(F.any_value("vmin"), 6).alias("vmin"),
        F.round(F.any_value("vmax"), 6).alias("vmax"),
        F.round(F.avg("e"), 8).alias("mean_abs_err"),
        F.round(F.max("e"), 8).alias("max_abs_err"),
    )


@query(
    "sim_centroid_classify",
    f"""
WITH ex AS (
  SELECT vec_id, label AS true_label,
         unnest(embedding) AS v,
         unnest(range(1, {_DIM + 1})) AS dim
  FROM embeddings
),
c AS (
  SELECT true_label AS cand, dim, round(avg(CAST(v AS DOUBLE)), 6) AS c
  FROM ex GROUP BY 1, 2
),
d AS (
  SELECT ex.vec_id, ex.true_label, c.cand,
         round(sum((CAST(ex.v AS DOUBLE) - c.c)
                   * (CAST(ex.v AS DOUBLE) - c.c)), 6) AS dist
  FROM ex JOIN c ON c.dim = ex.dim
  GROUP BY 1, 2, 3
),
p AS (
  SELECT vec_id, true_label, cand AS pred_label,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY dist, cand) AS rk
  FROM d
),
m AS (
  SELECT true_label, pred_label, count(*) AS n
  FROM p WHERE rk = 1 GROUP BY 1, 2
),
t AS (SELECT true_label, sum(n) AS tot FROM m GROUP BY 1)
SELECT m.true_label, m.pred_label,
  CAST(n AS BIGINT) AS n,
  round(n / CAST(tot AS DOUBLE), 6) AS recall_share
FROM m JOIN t ON t.true_label = m.true_label
ORDER BY m.true_label, m.pred_label
""",
)
def sim_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification of the embedding
    corpus against its own label centroids, reported as a confusion
    matrix with per-true-label recall shares — the 30-second
    label-quality probe every embedding pipeline runs (if nearest-
    centroid can't separate the labels, neither will anything built
    on them).

    Scale shape: the centroid fit IS embed_centroid (posexplode +
    partial-agg, rounded to 6dp — the rounding is what makes the fit
    an engine-exact artifact); the 10×64 fitted matrix is driver-held
    and re-enters the plan as literals (the sim_ivf_topk discipline —
    models are small, data is big), so classification is a pure
    map-side fold per row: zip_with square-distance against each
    centroid, argmin via array_min over (dist, label) structs — exact
    lexicographic tie-break, no shuffle until the 100-cell confusion
    rollup. At 100 TB: one scan, one tiny shuffle.
    """
    emb = load(spark, sf_dir, "embeddings")
    cent = (
        emb.select(
            "label", F.posexplode("embedding").alias("dim", "v")
        )
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("c"))
    )
    rows = cent.collect()  # 10 labels × 64 dims — the driver-held model
    by_label: dict[int, list[float]] = {}
    for r in rows:
        by_label.setdefault(r["label"], [0.0] * _DIM)[r["dim"]] = r["c"]
    scored = F.array_min(
        F.array(
            *[
                F.struct(
                    F.round(
                        F.aggregate(
                            F.zip_with(
                                F.col("embedding"),
                                F.array(*[F.lit(v) for v in cvec]),
                                lambda x, c: (x.cast("double") - c)
                                * (x.cast("double") - c),
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        ),
                        6,
                    ).alias("dist"),
                    F.lit(lbl).alias("pred_label"),
                )
                for lbl, cvec in sorted(by_label.items())
            ]
        )
    )
    m = (
        emb.select(
            F.col("label").alias("true_label"),
            scored["pred_label"].alias("pred_label"),
        )
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # per-true-label totals via a window over the ≤100-row grid — a
    # groupBy+join here would re-derive (and re-scan) the whole
    # classification subtree, doubling the corpus reads
    from pyspark.sql import Window

    tot = F.sum("n").over(Window.partitionBy("true_label"))
    return (
        m.select(
            "true_label",
            "pred_label",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / tot.cast("double"), 6).alias(
                "recall_share"
            ),
        )
        .orderBy("true_label", "pred_label")
    )


@query(
    "sim_knn_label_consistency",
    f"""
WITH q AS (
  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 500
),
pairs AS (
  SELECT a.vec_id AS qid, a.label AS qlabel, b.label AS nlabel,
         round({_PAIR_COS_SQL}, 6) AS cos_sim, b.vec_id AS nid
  FROM q a JOIN embeddings b ON b.vec_id <> a.vec_id
),
ranked AS (
  SELECT qid, qlabel, nlabel,
         row_number() OVER (
           PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rk
  FROM pairs
),
per_q AS (
  SELECT qid, qlabel,
         sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS n_same
  FROM ranked WHERE rk <= 10 GROUP BY 1, 2
)
SELECT qlabel AS label,
  CAST(count(*) AS BIGINT) AS n_queries,
  round(avg(n_same / 10.0), 6) AS consistency_at_10
FROM per_q
GROUP BY qlabel
ORDER BY label
""",
)
def sim_knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label consistency: for a pinned 500-query probe set, what
    fraction of each vector's 10 exact nearest neighbors (cosine)
    share its label — the standard embedding-quality eval
    (consistency ≫ 1/|labels| means the space clusters by label; it
    asks the LOCAL question where sim_centroid_classify asks the
    global one, and it is the metric the ANN recall bounds of
    sim_ivf_topk / sim_pq_topk are measured against).

    Scale shape: the probe side is pinned (vec_id < 500 — the
    dedup_near_exact sampling discipline: exact evals ride a bounded
    sample, never all-pairs of the corpus) and driver-held (~256 KB —
    the literal-model discipline); scoring is a mapInPandas GEMM over
    corpus Arrow batches (the sim_threshold_pairs lesson: the JVM
    higher-order-function fold measured 17.7 s warm at sf0.1, BLAS
    1.4 s — 13×) emitting per-batch local top-12 so the shuffle
    carries O(|probes|·batches·12) rows, never the pair matrix; the
    global merge is a per-query window with the rounded-cosine +
    vec_id total order every similarity op here pins. At true scale
    the same eval runs the probes against the IVF/PQ index instead of
    brute force — this operator is the ground-truth side of that
    comparison.
    """
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 500).select(
        "vec_id", "label", "embedding"
    ).collect()  # ≤500×64 floats (~256 KB) — the driver-held-model discipline
    import numpy as np

    q_ids = [r["vec_id"] for r in probes]
    q_labels = {r["vec_id"]: r["label"] for r in probes}
    q_mat = np.array([r["embedding"] for r in probes], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        qm = np.array(q_mat)  # closure-captured, per-worker copy
        qi = np.array(q_ids)
        for pdf in batches:
            bm = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            bm /= np.linalg.norm(bm, axis=1, keepdims=True)
            sims = np.round(bm @ qm.T, 6)  # B×Q, rounded like the oracle
            nid = pdf["vec_id"].to_numpy()
            nlabel = pdf["label"].to_numpy()
            out = []
            for j in range(qm.shape[0]):
                col = sims[:, j]
                mask = nid != qi[j]
                cand = np.flatnonzero(mask)
                # local top-12 by (-cos, nid): margin over k=10 so global
                # merge never misses a boundary tie
                order = np.lexsort((nid[cand], -col[cand]))[:12]
                keep = cand[order]
                out.append(
                    pd.DataFrame(
                        {
                            "qid": qi[j],
                            "nid": nid[keep],
                            "nlabel": nlabel[keep],
                            "cos_sim": col[keep],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    local_top = emb.select("vec_id", "label", "embedding").mapInPandas(
        kernel, "qid long, nid long, nlabel int, cos_sim double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("nid")
    )
    qlabel_df = F.broadcast(
        local_frame(
            spark,
            [(k, v) for k, v in q_labels.items()], "qid long, qlabel int"
        )
    )
    per_q = (
        local_top.select(
            "qid", "nid", "nlabel", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= 10)
        .join(qlabel_df, "qid")
        .groupBy("qid", "qlabel")
        .agg(
            F.sum(
                F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0)
            ).alias("n_same")
        )
    )
    return (
        per_q.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.round(F.avg(F.col("n_same") / 10.0), 6).alias(
                "consistency_at_10"
            ),
        )
        .orderBy("label")
    )


_RANGE_TAU = 0.25


@query(
    "sim_range_search",
    f"""
WITH t AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, e.label, round({_COS_SQL}, 6) AS cos_sim
FROM embeddings e, t
WHERE e.vec_id <> 0 AND round({_COS_SQL}, 6) >= {_RANGE_TAU}
ORDER BY cos_sim DESC, e.vec_id
""",
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (threshold) similarity search: ALL vectors within cosine
    ≥ τ = {_RANGE_TAU} of the query — the dual of sim_cosine_topk
    (top-k asks "the nearest k whatever their quality"; range asks
    "everything good enough", the retrieval mode dedup candidate
    generation and recall-oriented RAG filters actually use, where the
    result size is data-dependent rather than fixed).

    One broadcast of the query vector, one map-side scan with the
    filter fused into it — no shuffle at all until the bounded result
    sorts. The predicate compares the ROUNDED similarity on both
    engines so the result SET is engine-deterministic at the τ
    boundary. At 100 TB the same plan runs unchanged; the IVF/LSH
    variants bound the scan when τ is tight.
    """
    emb = load(spark, sf_dir, "embeddings")
    target = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("t_embedding")
    )
    cos = F.round(
        _dot("embedding", "t_embedding")
        / (_norm("embedding") * _norm("t_embedding")),
        6,
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(target))
        .select("vec_id", "label", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= _RANGE_TAU)
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    )


_MMR_LAMBDA = 0.7
_MMR_POOL = 50
_MMR_K = 10


@query("sim_mmr_rerank")
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversity rerank of the cosine
    top-50 pool: greedily pick k=10 results maximizing
    λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s) with λ=0.7 — the
    redundancy-killer every retrieval stack applies AFTER recall
    (sim_cosine_topk / sim_hybrid_rrf fetch; MMR diversifies), so near
    -duplicate hits (the dedup_near family's positives!) stop crowding
    the result page.

    Scale shape: candidate generation is the bounded-heap cosine
    top-{pool} (TakeOrderedAndProject, data-sized); the GREEDY stage is
    inherently sequential in k but runs on the pool only — a single
    applyInPandas group holding 50×64 floats (KB), the same
    bounded-kernel discipline as the forecast recursions. Rows-only
    (sequential selection has no SQL form); determinism: relevance
    rounded 6dp, pairwise sims rounded 6dp inside the kernel, ties
    broken by vec_id; tests/test_mmr.py cross-checks a pure-Python
    twin and pins the diversity property (mean pairwise sim of the
    MMR set < that of the plain top-k).
    """
    emb = load(spark, sf_dir, "embeddings")
    target = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("t_embedding")
    )
    rel = _dot("embedding", "t_embedding") / (
        _norm("embedding") * _norm("t_embedding")
    )
    pool = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(target))
        .select(
            "vec_id",
            "embedding",
            F.round(rel, 6).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), F.col("vec_id"))
        .limit(_MMR_POOL)
        .withColumn("g", F.lit(1))
    )

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        lam, k = 0.7, 10
        pdf = pdf.sort_values(
            ["rel", "vec_id"], ascending=[False, True]
        ).reset_index(drop=True)
        vecs = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
        )
        norms = np.sqrt((vecs * vecs).sum(axis=1))
        sims = np.round(
            (vecs @ vecs.T) / np.outer(norms, norms), 6
        )
        rels = pdf["rel"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        selected: list[int] = []
        out = []
        for step in range(min(k, len(pdf))):
            best, best_score, best_maxsim = None, None, None
            for i in range(len(pdf)):
                if i in selected:
                    continue
                maxsim = (
                    max(sims[i][j] for j in selected)
                    if selected
                    else 0.0
                )
                score = round(
                    lam * rels[i] - (1 - lam) * maxsim, 6
                )
                # strict > with ascending id scan = smallest-id tie-break
                if best is None or score > best_score:
                    best, best_score, best_maxsim = i, score, maxsim
            selected.append(best)
            out.append(
                (step + 1, int(ids[best]), float(rels[best]),
                 float(best_maxsim), float(best_score))
            )
        return pd.DataFrame(
            out,
            columns=[
                "rank", "vec_id", "relevance", "max_sim_to_prior",
                "mmr_score",
            ],
        )

    return pool.groupBy("g").applyInPandas(
        kernel,
        "rank int, vec_id long, relevance double, "
        "max_sim_to_prior double, mmr_score double",
    )


_HAM_BITS = 63  # sign bits of dims 1..63 packed into one BIGINT (bit 63
# stays clear so the code is non-negative in both engines' signed longs)

_HAM_CODE_SPARK = (
    "aggregate(sequence(0, 62), cast(0 as bigint), (acc, i) -> acc + "
    "IF(element_at(embedding, i + 1) >= 0, "
    "shiftleft(cast(1 as bigint), i), cast(0 as bigint)))"
)
_HAM_CODE_DUCK = (
    "CAST(list_sum(list_transform(range(0, 63), i -> "
    "CASE WHEN embedding[i + 1] >= 0 THEN (CAST(1 AS BIGINT) << i) "
    "ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
)


@query(
    "sim_hamming_topk",
    f"""
WITH sig AS (
  SELECT vec_id, {_HAM_CODE_DUCK} AS code, embedding FROM embeddings
),
probe AS (SELECT code, embedding FROM sig WHERE vec_id = 0)
SELECT s.vec_id,
  CAST(bit_count(xor(s.code, p.code)) AS BIGINT) AS hamming,
  round({_sql_dot('p.embedding', 's.embedding')} /
        ({_sql_norm('p.embedding')} * {_sql_norm('s.embedding')}), 6)
    AS cos_sim
FROM sig s CROSS JOIN probe p
WHERE s.vec_id <> 0
ORDER BY hamming, s.vec_id
LIMIT 10
""",
)
def sim_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-embedding search: every vector sign-quantizes to ONE
    63-bit code (48× smaller than the float32 vector) and the probe
    scans xor+popcount — the bit-packed retrieval tier below
    embed_quantize_int8 (int8 = 4×, binary = 48×) that web-scale
    retrieval stacks use for the first-pass sweep, with the true
    cosine reported per hit as the audit column (the KMV
    true_distinct discipline): hamming distance on sign bits is a
    known-quality proxy for angle (Goemans–Williamson), and the
    column lets a reader SEE the proxy's fidelity.

    Scale shape: quantization is one projection (per-row bounded HOF
    fold — 63 elements, the embed_norm regime, never a pairwise
    kernel); the scan is xor + bit_count inside whole-stage codegen
    over 8-byte codes; the top-k is a bounded heap
    (TakeOrderedAndProject). At 100 TB the code column is persisted
    once next to the vectors (the PQ codes-table discipline) and the
    per-probe cost is a popcount scan of n longs — the cheapest exact
    pass any vector index offers before re-ranking.
    """
    emb = load(spark, sf_dir, "embeddings")
    sig = emb.select(
        "vec_id",
        F.expr(_HAM_CODE_SPARK).alias("code"),
        "embedding",
    )
    probe = (
        sig.filter(F.col("vec_id") == 0)
        .select(
            F.col("code").alias("p_code"),
            F.col("embedding").alias("p_embedding"),
        )
    )
    cos = _dot("p_embedding", "embedding") / (
        _norm("p_embedding") * _norm("embedding")
    )
    return (
        sig.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.bit_count(
                F.col("code").bitwiseXOR(F.col("p_code"))
            ).cast("long").alias("hamming"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .orderBy("hamming", "vec_id")
        .limit(10)
    )


@query("sim_ivf_pq_topk")
def sim_ivf_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """ANN top-10 for vec_id=0 via IVF + PQ COMPOSED — the production
    index layout (FAISS IVFPQ): the coarse quantizer prunes to the
    nprobe=3 nearest cluster PARTITIONS (directory-level pruning, only
    nprobe/k of the corpus listed), the ADC pass scans only the PROBED
    vectors' 16-byte codes (never their floats), and only the
    top-_PQ_RERANK ADC candidates rejoin the raw corpus for the exact
    re-rank. The standalone tiers (sim_ivf_topk scans probed FLOATS;
    sim_pq_topk ADCs ALL codes) each pay one cost this composition
    avoids — at 100 TB this shape reads nprobe/k of a codes table that
    is itself 16× smaller than the vectors, which is why it is the
    default serving index everywhere.

    Rows-only (recall probabilistic by design);
    tests/test_oracle.py bounds overlap with the brute-force twin like
    the other ANN tiers. Reuses both persisted indexes unchanged —
    build once, probe many. ``nprobe``/``rerank`` default to the
    registered constants; tools/ann_curves.py sweeps them for the
    composed recall-vs-cost grid (ANN_CURVES_hard.json "ivfpq").
    """
    import numpy as np

    nprobe = _IVF_NPROBE if nprobe is None else int(nprobe)
    rerank = _PQ_RERANK if rerank is None else int(rerank)
    cent, _ = ivf_build(spark, sf_dir)
    books, codes_path = pq_build(spark, sf_dir)
    q = _query_vector(spark, sf_dir)
    probe = np.argsort(((cent - q) ** 2).sum(axis=1))[:nprobe]
    # membership of the probed partitions: column-pruned directory-
    # pruned scan — vec_id only, no floats read
    member = ivf_probe_scan(spark, sf_dir, probe).select("vec_id")
    codes = (
        spark.read.schema(_CODES_SCHEMA)
        .parquet(codes_path)
        .join(F.broadcast(member), "vec_id")
    )
    return _adc_topk(spark, sf_dir, codes, q, books, rerank)


_MRL_DIMS = (8, 16, 32, 64)


@query("embed_matryoshka_eval")
def embed_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation sweep: retrieval quality of
    PREFIX-dimension embeddings (dims 8/16/32/64) against the full
    64-dim exact top-10 — the eval that decides whether a cheaper
    first-pass tier can run on truncated vectors (MRL-trained models
    make prefixes meaningful; this measures what THIS corpus's
    geometry gives up per dropped dimension, alongside the
    quantization tiers sim_hamming_topk / embed_quantize_int8 probe).

    One fused Arrow pass computes all four truncation levels' cosines
    per batch and emits only per-batch local top-10s per level
    (the blocked-GEMM discipline: shuffle carries O(levels × k ×
    partitions), never the corpus); the global top-10 per level is a
    window over that bounded pool, and recall@10 is a self-join
    against the dim-64 row set — the whole eval is ONE plan. Rows-only
    (recall is a set-overlap scalar; deterministic via 6dp rounding +
    vec_id tiebreaks, rerun-guarded in tests/test_determinism.py).

    On THIS corpus the verdict is honest and negative: the synthetic
    embeddings are near-isotropic, so prefixes carry almost no signal
    (recall@10 ≈ 0.1–0.5 below dim 64, measured at sf0.01) — i.e.
    "do not truncate" — while the dim-64 row pins recall 1.0 as the
    self-consistency check. An MRL-trained production model is
    exactly what would move the low-dim rows toward 1.0.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = _query_vector(spark, sf_dir)
    dims = list(_MRL_DIMS)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mask = pdf["vec_id"].to_numpy() != 0
            if not mask.any():
                continue
            xs = np.stack(pdf["embedding"].to_numpy()[mask]).astype(
                np.float64
            )
            ids = pdf["vec_id"].to_numpy()[mask]
            out = {"dim": [], "vec_id": [], "cos_sim": []}
            for d in dims:
                xd, qd = xs[:, :d], q[:d]
                sims = (xd @ qd) / (
                    np.sqrt((xd * xd).sum(axis=1))
                    * np.sqrt((qd * qd).sum())
                )
                sims = np.round(sims, 6)
                top = np.argsort(-sims, kind="stable")[:10]
                out["dim"] += [d] * len(top)
                out["vec_id"] += ids[top].tolist()
                out["cos_sim"] += sims[top].tolist()
            yield pd.DataFrame(out)

    pool = emb.mapInPandas(
        score, "dim int, vec_id long, cos_sim double"
    )
    w = Window.partitionBy("dim").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    topk = (
        pool.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("dim", "vec_id")
        .localCheckpoint()  # consumed twice: per-level sets + the truth
    )
    truth = topk.filter(F.col("dim") == max(dims)).select(
        F.col("vec_id").alias("tv")
    )
    return (
        topk.join(
            F.broadcast(truth), F.col("vec_id") == F.col("tv"), "left"
        )
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum(
                F.when(F.col("tv").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_hit"),
            F.round(
                F.sum(
                    F.when(F.col("tv").isNotNull(), 1).otherwise(0)
                )
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("recall_at_10"),
        )
        .orderBy("dim")
    )


@query(
    "embed_cosine_histogram",
    f"""
WITH samp AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100
),
pairs AS (
  SELECT round({_sql_dot('a.embedding', 'b.embedding')} /
         ({_sql_norm('a.embedding')} * {_sql_norm('b.embedding')}),
         6) AS cos
  FROM samp a JOIN samp b ON a.vec_id < b.vec_id
),
tot AS (SELECT count(*) AS n FROM pairs)
SELECT
  CAST(floor(cos * 10) AS BIGINT) AS bin_decile,
  round(floor(cos * 10) / 10.0, 1) AS bin_lo,
  CAST(count(*) AS BIGINT) AS n_pairs,
  round(count(*) / CAST(t.n AS DOUBLE), 6) AS share
FROM pairs CROSS JOIN tot t
GROUP BY floor(cos * 10), t.n
""",
)
def embed_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine distribution over a PINNED 100-vector sample
    (vec_id < 100 — O(1) in SF): all 4,950 exact pairs binned into
    0.1-wide cosine deciles. This is the corpus ISOTROPY readout the
    ANN family needs before index-parameter choices make sense: a
    histogram bunched near +1 means anisotropic embeddings (hubness,
    LSH hyperplanes waste bits, IVF centroids collapse), a spread
    around 0 means healthy dispersion — the diagnostic behind
    sim_index_stats' bucket-balance numbers, one level earlier in the
    pipeline.

    Determinism: cosines use the engine-shared double-cast dot/norm
    folds (identical sequential summation), ROUNDED to 6 dp before the
    decile floor so a last-ulp difference cannot flip a bin at an
    edge. Scale shape: sample join is 100×100 broadcast, everything
    downstream is the ≤20-row bin grain.
    """
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    # Precompute each vector's norm ONCE (100 folds) instead of per
    # pair (9,900 folds): the interpreted HOF lambda is the whole cost
    # here, so halving the fold count halves the op.
    samp = emb.filter(F.col("vec_id") < 100).select(
        "vec_id", "embedding", _norm("embedding").alias("nrm")
    )
    b = samp.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").alias("embedding_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = F.round(
        _dot("embedding", "embedding_b")
        / (F.col("nrm") * F.col("nrm_b")),
        6,
    )
    pairs = (
        samp.crossJoin(F.broadcast(b))
        .filter(F.col("vec_id") < F.col("vec_id_b"))
        .select(cos.alias("cos"))
    )
    w_all = Window.partitionBy()
    binned = pairs.select(
        F.floor(F.col("cos") * 10).alias("bin"),
    ).withColumn("n_total", F.count(F.lit(1)).over(w_all))
    return binned.groupBy("bin", "n_total").agg(
        F.count(F.lit(1)).alias("n_pairs")
    ).select(
        F.col("bin").cast("long").alias("bin_decile"),
        F.round(F.col("bin") / 10.0, 1).alias("bin_lo"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round(
            F.col("n_pairs") / F.col("n_total").cast("double"), 6
        ).alias("share"),
    )
