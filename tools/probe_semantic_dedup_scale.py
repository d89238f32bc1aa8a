"""Semantic-dedup scale probe: pair work and wall-clock at 250k / 1M /
2M vectors through the PRODUCTION path (auto-sized quantizer +
r8 bounded cells + exact-group collapse).

Purpose (BASELINE.md r8 row): the r7 verdict's one `weak` — past the
k=1024 quantizer-training cap, mean cell population grows with n, so
the within-cell pair join's candidate work Σ|cell|² was n²/1024
(16× super-linear from 524k → 2M). `ivf_assign_bounded` re-quantizes
over-cap cells recursively; this probe measures, per scale:

- candidate pair work Σ|cell|·(|cell|−1)/2 after bounding (the exact
  number of cosine evaluations the pair join performs),
- max surviving cell size (must be ≤ max_cell_size for distinct
  vectors),
- wall for the full semantic_dedup (assignment + pair join + CC),
- dedup quality: the planted exact-duplicate groups must collapse.

Data: the gen_testdata embedding recipe (10 unit-norm centers +
N(0,0.35) noise, renormalized, 64-dim) at n vectors, plus 0.2%
planted exact copies — realistic cluster structure, deterministic.

Usage: python tools/probe_semantic_dedup_scale.py [n_vecs ...]
  default: 250000 1000000 2000000
Prints one JSON line per scale.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _make_vectors(path: str, n: int) -> None:
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(4242)
    centers = rng.normal(0, 1, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0, 0.35, (n, 64)).astype(np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    # plant exact copies: the last 0.2% of rows duplicate the first
    # 0.2% verbatim (distinct ids) — semantic dedup must pair each
    # copy with its source at any scale
    n_dup = max(1, n // 500)
    vecs[n - n_dup :] = vecs[:n_dup]
    arr = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.astype(np.float32).ravel(), pa.float32()), 64
    )
    pq.write_table(
        pa.table({"vec_id": pa.array(np.arange(n), pa.int64()), "embedding": arr}),
        f"{path}/part0.parquet",
    )


def probe(spark, n: int, workdir: str, max_cell_size: int = 1024) -> dict:
    from pyspark.sql import functions as F

    from auto_ts_spark.operators.partitioning import MaterializeScope
    from auto_ts_spark.operators.similarity import (
        ivf_assign_bounded,
        semantic_dedup,
    )

    path = os.path.join(workdir, f"emb_{n}")
    if not os.path.exists(path):
        _make_vectors(path, n)
    df = spark.read.parquet(path)

    # --- blocking shape: candidate pair work after bounding ---------
    t0 = time.perf_counter()
    bstats: dict = {}
    with MaterializeScope() as scope:
        assigned = ivf_assign_bounded(
            df, max_cell_size=max_cell_size, scope=scope, stats=bstats
        )
        hist = (
            assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("pair_work"),
                F.max("c").alias("max_cell"),
                F.count(F.lit(1)).alias("n_cells"),
            )
            .first()
        )
    assign_wall = time.perf_counter() - t0

    # --- full semantic dedup (collapse + bounded blocking + CC) -----
    cc: dict = {}
    t1 = time.perf_counter()
    clusters = semantic_dedup(
        df, threshold=0.95, max_cell_size=max_cell_size, cc_stats=cc
    )
    n_clustered = clusters.count()
    n_dropped = clusters.filter(~F.col("is_keep")).count()
    dedup_wall = time.perf_counter() - t1

    n_dup = max(1, n // 500)
    # every planted copy must be found (dropped or keeper of its pair)
    planted_found = clusters.filter(
        F.col("vec_id") >= n - n_dup
    ).count()

    return {
        "n_vecs": n,
        "max_cell_size": max_cell_size,
        "pair_work": int(hist["pair_work"]),
        "pair_work_per_vec": round(hist["pair_work"] / n, 1),
        "max_cell": int(hist["max_cell"]),
        "n_cells": int(hist["n_cells"]),
        "assign_wall_s": round(assign_wall, 2),
        "sub_levels": bstats.get("sub_levels"),
        "hash_split_cells": bstats.get("hash_split_cells"),
        "dedup_wall_s": round(dedup_wall, 2),
        "cc_rounds": cc.get("rounds"),
        "n_clustered": n_clustered,
        "n_dropped": n_dropped,
        "planted": n_dup,
        "planted_found": planted_found,
    }


if __name__ == "__main__":
    sizes = [int(a) for a in sys.argv[1:]] or [250_000, 1_000_000, 2_000_000]
    from auto_ts_spark import get_spark

    spark = get_spark("probe_semantic_dedup_scale")
    workdir = "/root/repo/.localdata/probe_emb"
    probe(spark, 5_000, workdir)  # warmup: codegen + Arrow worker spinup
    for n in sizes:
        print(json.dumps(probe(spark, n, workdir)), flush=True)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    spark.stop()
