"""Decompose semantic_dedup's 64x cost (r7): which stage carries the
exp>1 term in the constant-cluster-size regime (n_centroids = 16*k)?

Stages timed separately at each rung:
  train    — kmeans_centroids(train_iters=1) alone (assign + combine)
  assign   — final nearest-centroid assignment alone (train_iters=0
             centroids, so one deterministic assign pass)
  full     — semantic_dedup end-to-end (train+assign+pairs+CC+keep)

Run: python tools/semdedup_decompose.py [reps]
"""
from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bioframe_spark.session import get_spark  # noqa: E402
from bench import force_count as _force_count  # noqa: E402
from bioframe_spark.datapipe import similarity  # noqa: E402
from tools.ladder import roll_embeddings  # noqa: E402

RUNGS = (1, 4, 16, 64)


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("semdedup-decompose")
    spark.sparkContext.setLogLevel("ERROR")
    emb0 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    results: dict[str, dict[int, float]] = {}
    for k in RUNGS:
        emb = roll_embeddings(emb0, k).cache()
        emb.count()
        nc = 16 * k

        def measure(name, thunk):
            samples = []
            for _ in range(reps):
                t0 = time.time()
                _force_count(thunk())
                samples.append(time.time() - t0)
            med = sorted(samples)[len(samples) // 2]
            results.setdefault(name, {})[k] = med
            print(f"k={k:2d} {name:8s} median {med:7.2f}s", flush=True)

        measure("train", lambda: similarity.kmeans_centroids(
            emb, n_centroids=nc, n_iter=1))
        # threshold > 1 -> zero pairs -> no CC work: times train(0 init)
        # + the one assign pass + the keep-rule window only
        measure("assign", lambda: similarity.semantic_dedup(
            emb, threshold=1.01, n_centroids=nc, train_iters=0))
        measure("full", lambda: similarity.semantic_dedup(
            emb, threshold=0.95, n_centroids=nc, train_iters=1))
        emb.unpersist()

    print("\n| stage | " + " | ".join(f"t{k}" for k in RUNGS)
          + " | exp 16->64 |")
    for name, ts in results.items():
        e = (math.log(ts[64] / ts[16]) / math.log(4)
             if ts.get(16) and ts.get(64) else float("nan"))
        cells = " | ".join(f"{ts.get(k, 0):.2f}" for k in RUNGS)
        print(f"| {name} | {cells} | {e:.2f} |")
    spark.stop()


if __name__ == "__main__":
    main()
