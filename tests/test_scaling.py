"""Scaling-curve guard for the dedup / graph / ANN family.

Converts the "no all-pairs path" design claims into a measurement: each
op's wall time from the smallest to the largest fixture may grow at most
5× faster than its driving table — a deliberately loose bound (the VM
has bursty CPU steal, so each point is min-of-2) that still catches a
quadratic regression: documents grow 10× (quadratic would be 100×,
bound 50×) and events grow 100× (quadratic 10000×, bound 500×).
"""

from __future__ import annotations

import time

import pyarrow.parquet as pq
import pytest

from sparkify_datalake_spark.registry import queries

_SMALL = "/root/testdata/sf0.001"
_LARGE = "/root/testdata/sf0.1"

# op → the table whose row count drives its cost
_SCALE_OPS = {
    "dedup_near": "documents",
    "dedup_near_verified": "documents",
    "dedup_incremental": "documents",
    "graph_user_components": "events",
    "sim_ann_lsh": "embeddings",
    "sim_ivf_topk": "embeddings",
    "sim_pq_topk": "embeddings",
    # round-3 continuation: banded phash dedup and block-hash passage
    # dedup must stay near-linear; the exact kNN graph is O(n²/blocks)
    # by design and is deliberately NOT listed
    "mm_dedup_phash": "documents",
    "dedup_block_exact": "documents",
}


def _rows(sf_dir: str, table: str) -> int:
    return pq.read_metadata(f"{sf_dir}/{table}.parquet").num_rows


def _wall(spark, name: str, sf_dir: str) -> float:
    qfn = queries()[name]
    best = float("inf")
    for _ in range(2):
        t0 = time.monotonic()
        qfn(spark, sf_dir).collect()
        best = min(best, time.monotonic() - t0)
    return best


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(_SCALE_OPS))
def test_scaling_is_roughly_linear(spark, name):
    table = _SCALE_OPS[name]
    n_ratio = _rows(_LARGE, table) / _rows(_SMALL, table)
    t_small = _wall(spark, name, _SMALL)
    t_large = _wall(spark, name, _LARGE)
    t_ratio = t_large / max(t_small, 0.05)
    assert t_ratio <= 5.0 * n_ratio, (
        f"{name}: time grew {t_ratio:.1f}x for {n_ratio:.0f}x rows "
        f"({t_small:.2f}s -> {t_large:.2f}s)"
    )


# --- ANN recall-vs-cost curves at the 64× probe (VERDICT r6 #6) -----------
# The committed artifact ANN_CURVES_x64.json is produced by
# tools/ann_curves.py; this test re-derives the same numbers from a live
# index over the 64× probe's embeddings (128,000 vectors), so artifact
# and assertions cannot drift apart silently. Claims: recall@10 is
# monotone non-decreasing in nprobe and exact at nprobe=k (candidates
# only grow; full scan is brute force), and the scanned fraction tracks
# the nprobe/k pruning budget (1.25× headroom for quantizer imbalance —
# a hot cluster would blow far past it).

_X64_VECTORS = 128_000


@pytest.fixture(scope="module")
def x64_dir(spark, tmp_path_factory):
    """The 64× probe's embeddings table in a tmp dir, with its ANN
    indexes under a tmp root, so no 128k index is left in the shared
    warehouse."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from gen_probe_fixture import gen_embeddings, write_table

    from sparkify_datalake_spark.operators import similarity

    d = str(tmp_path_factory.mktemp("x64"))
    write_table(gen_embeddings(spark, _X64_VECTORS), d, "embeddings")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(similarity, "_INDEX_ROOT", tmp_path_factory.mktemp("ann"))
        yield d


@pytest.mark.slow
def test_ann_recall_cost_curves_at_64x(spark, x64_dir):
    from ann_curves import ivf_curve, pq_recall

    curve = ivf_curve(spark, x64_dir)
    recalls = [p["recall_at_10"] for p in curve["points"]]
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert recalls[-1] == 1.0, (
        f"nprobe=k must be exact (full scan), got {recalls[-1]}"
    )
    for p in curve["points"]:
        assert p["scanned_frac"] <= p["budget_frac"] * 1.25, (
            f"nprobe={p['nprobe']} scanned {p['scanned_frac']:.3f} "
            f"of corpus vs budget {p['budget_frac']:.3f} — skewed quantizer"
        )
    assert pq_recall(spark, x64_dir)["recall_at_10"] >= 0.7, (
        "PQ ADC+rerank recall collapsed at 64x"
    )
