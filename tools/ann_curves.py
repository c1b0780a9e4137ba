#!/usr/bin/env python
"""ANN recall-vs-cost curves at the 64× probe fixture (VERDICT r6 #6).

IVF: sweep nprobe ∈ {1,2,4,8} over the persisted k=8 index and record,
per point, recall@10 against the exact brute-force anchor
(sim_cosine_topk) and the scanned fraction of the corpus (rows in the
probed partitions / corpus rows). The claims under test:

- recall@10 is monotonically non-decreasing in nprobe (the candidate
  set only grows), reaching 1.0 at nprobe = k (a full scan is exact);
- scanned fraction tracks nprobe/k — partition pruning is real, and a
  skewed quantizer (one hot cluster) would show up here as a point far
  above its nprobe/k budget.

PQ: recall@10 of the ADC + exact-rerank pipeline at the same scale
(no nprobe knob; the codes table is always fully scanned — its win is
bytes/vector, not rows).

Writes ANN_CURVES_x64.json at the repo root; tests/test_scaling.py
re-derives the same numbers at the 64× fixture (when present) and
asserts the curve properties, so the committed artifact and the
assertions can never drift apart silently.

Usage:  SPARK_GRAFT_DRIVER_MEM=48g python tools/ann_curves.py \
            [--dir /tmp/sparkify_probe_x64_v2] [--out ANN_CURVES_x64.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

NPROBES = (1, 2, 4, 8)


def ivf_curve(spark, sf_dir: str) -> dict:
    """Recall@10 + scanned fraction per nprobe, plus per-cluster sizes."""
    import numpy as np
    from pyspark.sql import functions as F

    from sparkify_datalake_spark.operators.similarity import (
        _IVF_K,
        _query_vector,
        ivf_assignment,
        ivf_build,
        ivf_probe_scan,
        ivf_topk,
    )
    from sparkify_datalake_spark.registry import queries

    qs = queries()
    exact = {
        r["vec_id"] for r in qs["sim_cosine_topk"](spark, sf_dir).collect()
    }
    cent, _ = ivf_build(spark, sf_dir)
    sizes = {
        r["cluster"]: r["n"]
        for r in ivf_assignment(spark, sf_dir)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(sizes.values())
    q = _query_vector(spark, sf_dir)
    order = np.argsort(((cent - q) ** 2).sum(axis=1))
    points = []
    for nprobe in NPROBES:
        ann = {r["vec_id"] for r in ivf_topk(spark, sf_dir, nprobe).collect()}
        # scanned rows re-derived from the pruned scan itself, so the
        # number reflects what the FileIndex actually reads
        scanned = ivf_probe_scan(spark, sf_dir, order[:nprobe]).count()
        points.append(
            {
                "nprobe": nprobe,
                "recall_at_10": round(len(ann & exact) / len(exact), 3),
                "scanned_rows": scanned,
                "scanned_frac": round(scanned / total, 4),
                "budget_frac": round(nprobe / _IVF_K, 4),
            }
        )
    return {
        "k": _IVF_K,
        "corpus_rows": total,
        "cluster_sizes": {str(c): n for c, n in sorted(sizes.items())},
        "points": points,
    }


def pq_recall(spark, sf_dir: str) -> dict:
    """Recall-vs-cost curve like IVF's: sweep the exact-rerank pool
    depth (the PQ cost dial — ADC scans everything cheaply; cost is
    the pool of raw vectors re-ranked exactly)."""
    from sparkify_datalake_spark.operators import similarity as sim
    from sparkify_datalake_spark.registry import queries

    qs = queries()
    exact = {
        r["vec_id"] for r in qs["sim_cosine_topk"](spark, sf_dir).collect()
    }
    total = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    )
    default = sim._PQ_RERANK
    points = []
    try:
        for depth in (100, 250, 500, 1000, default):
            sim._PQ_RERANK = depth
            ann = {
                r["vec_id"]
                for r in qs["sim_pq_topk"](spark, sf_dir).collect()
            }
            points.append(
                {
                    "rerank_pool": depth,
                    "recall_at_10": round(len(ann & exact) / len(exact), 3),
                    "rerank_frac": round(depth / total, 5),
                }
            )
    finally:
        sim._PQ_RERANK = default
    return {
        "m": sim._PQ_M,
        "k": sim._PQ_K,
        "corpus_rows": total,
        "recall_at_10": points[-1]["recall_at_10"],
        "points": points,
    }


def ivfpq_grid(spark, sf_dir: str) -> dict:
    """COMPOSED IVF+PQ recall-vs-cost surface (VERDICT r9 #3): the two
    tiers compound their losses only in composition — IVF can prune
    the true neighbor's partition away AND the ADC ordering can push
    it below the rerank cutoff. Sweeps nprobe × rerank-depth over
    sim_ivf_pq_topk (the production index) and records recall@10 vs
    the exact anchor plus both cost fractions: scanned_frac (rows in
    the probed partitions / corpus — the IVF dial) and rerank_frac
    (exactly re-ranked pool / corpus — the PQ dial)."""
    import numpy as np

    from sparkify_datalake_spark.operators import similarity as sim
    from sparkify_datalake_spark.registry import queries
    from sparkify_datalake_spark.sources.load import load

    qs = queries()
    exact = {
        r["vec_id"] for r in qs["sim_cosine_topk"](spark, sf_dir).collect()
    }
    cent, _ = sim.ivf_build(spark, sf_dir)
    q = sim._query_vector(spark, sf_dir)
    order = np.argsort(((cent - q) ** 2).sum(axis=1))
    total = load(spark, sf_dir, "embeddings").count()
    scanned_by_nprobe = {}
    points = []
    for nprobe in (1, 2, 3, 4, 8):
        if nprobe not in scanned_by_nprobe:
            scanned_by_nprobe[nprobe] = sim.ivf_probe_scan(
                spark, sf_dir, order[:nprobe]
            ).count()
        scanned = scanned_by_nprobe[nprobe]
        for rerank in (20, 50, 100, 500):
            ann = {
                r["vec_id"]
                for r in sim.sim_ivf_pq_topk(
                    spark, sf_dir, nprobe=nprobe, rerank=rerank
                ).collect()
            }
            points.append(
                {
                    "nprobe": nprobe,
                    "rerank_pool": rerank,
                    "recall_at_10": round(len(ann & exact) / len(exact), 3),
                    "scanned_rows": scanned,
                    "scanned_frac": round(scanned / total, 4),
                    "rerank_frac": round(min(rerank, scanned) / total, 5),
                }
            )
    return {
        "k": sim._IVF_K,
        "m": sim._PQ_M,
        "default_nprobe": sim._IVF_NPROBE,
        "default_rerank": sim._PQ_RERANK,
        "corpus_rows": total,
        "points": points,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="/tmp/sparkify_probe_x64_v2")
    ap.add_argument("--out", default=os.path.join(REPO, "ANN_CURVES_x64.json"))
    ap.add_argument(
        "--hard",
        action="store_true",
        help="run on the adversarial fixture (gen_hard_fixture; write "
        "ANN_CURVES_hard.json) instead of the 64x probe fixture",
    )
    args = ap.parse_args()

    from sparkify_datalake_spark.session import get_spark

    spark = get_spark("ann-curves")
    if args.hard:
        if args.dir == "/tmp/sparkify_probe_x64_v2":
            args.dir = "/tmp/sparkify_hard_v1"
        if args.out == os.path.join(REPO, "ANN_CURVES_x64.json"):
            args.out = os.path.join(REPO, "ANN_CURVES_hard.json")
        if not os.path.exists(
            os.path.join(args.dir, "embeddings.parquet")
        ):
            from gen_hard_fixture import write_fixture

            write_fixture(args.dir)
    else:
        from gen_probe_fixture import generate

        generate(spark, args.dir, 64.0)

    result = {
        "fixture": args.dir,
        "ivf": ivf_curve(spark, args.dir),
        "pq": pq_recall(spark, args.dir),
        "ivfpq": ivfpq_grid(spark, args.dir),
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    print(json.dumps(result["ivf"]["points"]))
    print(json.dumps(result["pq"]))
    print(json.dumps(result["ivfpq"]["points"]))
    spark.stop()


if __name__ == "__main__":
    main()
