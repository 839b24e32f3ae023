"""§12-r09b soak: N sequential ``incremental_dedup`` increments against
one persisted MinHash-LSH index (VERDICT-r8 #2).

The r8 ladder proved the probe flat across a 64× index built in ONE
shot; this prices the real crawl loop: every increment APPENDS one file
set per band, so a long soak accretes small files and the probe pays a
footer-read + scan task per file. Measured here: probe / full-increment
latency and the banded table's file count across the soak, then a
``compact_minhash_index`` rewrite and the same probe re-measured, with
the probe result set checked BIT-IDENTICAL pre/post compaction.

Batches are seeded and adversarially mixed: ~30% duplicates of already
indexed docs (must be dropped by the probe), ~10% within-batch dup
pairs (must be resolved batch-locally), the rest fresh (must survive
and be appended).

Run: python tools/minhash_index_soak.py [n_increments] [compact_every]
     (defaults 100, 0 = only compact at the end)
"""
from __future__ import annotations

import os
import random
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bioframe_spark as bf  # noqa: E402
from bioframe_spark.session import get_spark  # noqa: E402
from bioframe_spark.datapipe import dedup  # noqa: E402

SEED = 90921
BASE_DOCS = 2_000
BATCH = 100
WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
         "psi omega red green blue cyan magenta yellow umber teal").split()


def _text(rng):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(30, 60)))


def _pq(spark, rows, name):
    """Round-trip a batch through parquet — the production increment
    shape (batches come from storage, so the banded write's size
    targeting sees a real file-size estimate; a createDataFrame
    LogicalRDD reports unknown and the sizing skips)."""
    p = f"/tmp/minhash_soak_batches/{name}"
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(p)
    return spark.read.parquet(p)


def main():
    n_inc = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    compact_every = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    spark = get_spark("minhash-index-soak")
    spark.sparkContext.setLogLevel("ERROR")
    rng = random.Random(SEED)

    path = "/tmp/minhash_soak_index"
    shutil.rmtree(path, ignore_errors=True)
    corpus = [(i, _text(rng)) for i in range(BASE_DOCS)]
    base = _pq(spark, corpus, "base")
    dedup.build_minhash_index(base, path, num_hashes=16, bands=4)
    next_id = BASE_DOCS

    print("| inc | files | probe s | increment s | kept |")
    t_all = time.time()
    for inc in range(1, n_inc + 1):
        rows = []
        for _ in range(BATCH):
            r = rng.random()
            if r < 0.30 and corpus:  # near-exact dup of an indexed doc
                rows.append((next_id, rng.choice(corpus)[1]))
            elif r < 0.40 and rows:  # within-batch dup
                rows.append((next_id, rows[rng.randrange(len(rows))][1]))
            else:
                rows.append((next_id, _text(rng)))
            next_id += 1
        batch = _pq(spark, rows, f"inc{inc}")

        t0 = time.time()
        dedup.minhash_lsh_probe(batch, path, threshold=0.5,
                                exclude_same_id=False).count()
        t_probe = time.time() - t0

        t0 = time.time()
        with bf.scope():
            n_kept = dedup.incremental_dedup(batch, path,
                                             threshold=0.5).count()
        t_inc = time.time() - t0
        corpus.extend((r[0], r[1]) for r in rows)

        if inc % 10 == 0 or inc == 1:
            st = dedup.minhash_index_stats(spark, path)
            print(f"| {inc} | {st['n_files']} | {t_probe:.2f} "
                  f"| {t_inc:.2f} | {n_kept} |", flush=True)
        if compact_every and inc % compact_every == 0:
            r = dedup.compact_minhash_index(spark, path)
            print(f"  compact @{inc}: {r['files_before']} -> "
                  f"{r['files_after']} files", flush=True)
    print(f"soak wall: {time.time() - t_all:.0f} s")

    # final compaction: probe result must be bit-identical pre/post
    probe_batch = _pq(
        spark,
        [(next_id + i, _text(rng)) for i in range(BATCH)]
        + [(next_id + BATCH + i, corpus[i * 7][1]) for i in range(20)],
        "probe")
    pre = sorted(map(tuple, dedup.minhash_lsh_probe(
        probe_batch, path, threshold=0.5).collect()))
    reps = []
    for _ in range(5):
        t0 = time.time()
        dedup.minhash_lsh_probe(probe_batch, path, threshold=0.5,
                                exclude_same_id=False).count()
        reps.append(time.time() - t0)
    st = dedup.minhash_index_stats(spark, path)
    print(f"pre-compact:  files={st['n_files']} "
          f"probe med={sorted(reps)[2]:.2f} s  hits={len(pre)}")

    r = dedup.compact_minhash_index(spark, path)
    post = sorted(map(tuple, dedup.minhash_lsh_probe(
        probe_batch, path, threshold=0.5).collect()))
    reps = []
    for _ in range(5):
        t0 = time.time()
        dedup.minhash_lsh_probe(probe_batch, path, threshold=0.5,
                                exclude_same_id=False).count()
        reps.append(time.time() - t0)
    print(f"post-compact: files={r['files_after']} "
          f"probe med={sorted(reps)[2]:.2f} s  hits={len(post)}")
    print("probe identical pre/post:", pre == post)
    assert pre == post, "compaction changed probe results!"
    spark.stop()


if __name__ == "__main__":
    main()
