"""Scale ladder for the round-8 persisted MinHash-LSH index: build,
probe, and the amortization claim.

Shape under test: the INDEX grows k× (bijection replication — every
copy suffixes each token, so no cross-copy duplicates and the banded
table is k× distinct rows) while the PROBE BATCH stays fixed (the base
corpus, which bijects onto copy #c00 inside the index) — the realistic
incremental-crawl regime: corpus grows, batch size doesn't.

Expected: build ~linear in k (one signature pass + partitioned write);
probe grows with the index SCAN (one pass of the banded table, no
shuffle of the index, broadcast batch) but stays far below re-mining —
the comparison rung runs minhash_lsh_pairs over (index ∪ batch), which
re-derives signatures for ALL k× docs and self-joins, every time.

Run: python tools/minhash_index_ladder.py [reps]   (reps default 3)
"""
from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bioframe_spark.session import get_spark  # noqa: E402
from bench import force_count as _force_count  # noqa: E402
from bioframe_spark.datapipe import dedup  # noqa: E402
from tools.ladder import biject_docs  # noqa: E402


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("minhash-index-ladder")
    spark.sparkContext.setLogLevel("ERROR")
    docs0 = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    batch = biject_docs(docs0, 1).cache()  # == copy #c00 inside the index
    batch.count()

    results: dict[str, dict[int, float]] = {}
    rows_out: dict[str, dict[int, int]] = {}
    for k in (1, 4, 16, 64):
        corpus = biject_docs(docs0, k).cache()
        nd = corpus.count()
        print(f"k={k}: {nd} docs indexed", flush=True)
        loc = tempfile.mkdtemp(prefix=f"mh_ladder_{k}_")

        t0 = time.time()
        dedup.build_minhash_index(corpus, loc, num_hashes=32, bands=8)
        tb = time.time() - t0
        results.setdefault("build", {})[k] = tb
        print(f"k={k:2d} build              {tb:8.2f}s", flush=True)

        samples, n = [], 0
        for _ in range(reps):
            t0 = time.time()
            n = _force_count(dedup.minhash_lsh_probe(batch, loc,
                                                     threshold=0.5))
            samples.append(time.time() - t0)
        med = sorted(samples)[len(samples) // 2]
        results.setdefault("probe", {})[k] = med
        rows_out.setdefault("probe", {})[k] = n
        print(f"k={k:2d} probe              {med:8.2f}s  ({n} rows)",
              flush=True)

        # the alternative a user without the index pays: re-mine
        # (index ∪ batch) with the self-join miner every increment
        if k <= 16:
            union = corpus.unionByName(
                batch.select(F.concat(F.col("doc_id"), F.lit("#new"))
                             .alias("doc_id"), "text"))
            samples, n = [], 0
            for _ in range(reps):
                t0 = time.time()
                n = _force_count(dedup.minhash_lsh_pairs(
                    union, num_hashes=32, bands=8, threshold=0.5))
                samples.append(time.time() - t0)
            med = sorted(samples)[len(samples) // 2]
            results.setdefault("remine", {})[k] = med
            rows_out.setdefault("remine", {})[k] = n
            print(f"k={k:2d} remine(union)      {med:8.2f}s  ({n} rows)",
                  flush=True)

        corpus.unpersist()
        shutil.rmtree(loc, ignore_errors=True)

    print("\n| op | t1 | t4 | t16 | t64 | exp 16->64 |")
    for name, ts in results.items():
        e = (math.log(ts[64] / ts[16]) / math.log(4)
             if ts.get(16) and ts.get(64) else float("nan"))
        print(f"| {name} | {ts.get(1, float('nan')):.2f} "
              f"| {ts.get(4, float('nan')):.2f} "
              f"| {ts.get(16, float('nan')):.2f} "
              f"| {ts.get(64, float('nan')):.2f} | {e:.2f} |")


if __name__ == "__main__":
    main()
