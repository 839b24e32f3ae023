"""Scale ladder: time registry queries on inputs replicated k times.

Usage:
    python tools/ladder.py [--rungs 1,4,16] [--reps N] [--aqe on|off] QUERY...

A QUERY is a name from ``__spark_entry__.queries()`` or from CASES
below (the few cases the registry has no entry for: forced arguments,
coordinate-only inputs, fixed annotation tracks). At rung k the
registry's loaders are patched to k-fold replicas, pinned in the cache
on first use (pin time is kept out of the timer):

- intervals (``ivals_a/b/s/p``): copy i shifted i genome spans right,
  so per-copy density and join selectivity stay fixed and the work
  grows exactly k times; ``chromsizes()`` and ``arms_view()`` grow with
  them;
- documents: copy-tagged (doc_id offset, a ``c{i}`` token prepended;
  copies stay near-duplicates of each other, so pair-mining output
  grows faster than k), or, for the cases in BIJECTION, every token
  suffixed per copy (``x{i:02d}``, applied at 1x too): no gram is
  shared across copies at any k;
- embeddings: vec_id offset and copy i's coordinates rolled by i
  (``roll_embeddings``, at most 64 copies): within-copy cosines are
  kept and no pair across copies is a near-duplicate, so pair counts
  grow k times and semdedup keeps every copy.

Each rep is timed end to end (construction, eager jobs, and
``bench.force_count``) inside ``bioframe_spark.scope()``, which releases
the case's internal persists after the timer stops. A rep that still
leaves CacheManager entries beyond the pinned inputs (a leaked persist
the next rep would replay) stops the run with an error naming the case.
The report gives the median and row count per rung and the exponent
log(t_max/t_min)/log(k_max/k_min): ~1 is linear. Queries that
read parquet without the registry loaders (semdedup, sample_users)
run unreplicated.

``--aqe off`` mimics bench.py's sf<=1 session. Env: SPARK_GRAFT_SF_DIR
(default: the sf0.1 set beside the registry's default data),
SPARK_GRAFT_CPUS (local core count).
"""
from __future__ import annotations

import argparse
import math
import os
import sys
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as em  # noqa: E402
import bioframe_spark as bf  # noqa: E402
from bench import force_count, n_cached  # noqa: E402
from bioframe_spark.datapipe import dedup, ranking, similarity, tokenize  # noqa: E402
from bioframe_spark.session import get_spark  # noqa: E402

SPAN = em.CLEN  # one genome span: shifted copies never overlap
_ORIG = {n: getattr(em, n) for n in ("ivals_a", "ivals_b", "ivals_s",
                                     "ivals_p", "_t", "arms_view")}


def _union(copies):
    return reduce(lambda x, y: x.unionByName(y), copies)


def shift_intervals(df, k):
    if k == 1:
        return df
    return _union([df.withColumns({"start": F.col("start") + F.lit(i * SPAN),
                                   "end": F.col("end") + F.lit(i * SPAN)})
                   for i in range(k)])


def tag_docs(df, k):
    if k == 1:
        return df
    return _union([df.withColumns({
        "doc_id": F.col("doc_id") + F.lit(i * 10_000_000),
        "text": F.concat(F.lit(f"c{i} "), F.col("text"))}) for i in range(k)])


def biject_docs(df, k):
    return _union([df.withColumns({
        "doc_id": F.concat(F.col("doc_id").cast("string"), F.lit(f"#c{i}")),
        "text": F.regexp_replace("text", r"(\S+)", rf"$1x{i:02d}")})
        for i in range(k)])


def roll_embeddings(df, k, dim=64):
    """k copies of the embeddings; copy i rolls every vector's coordinates
    by i places. A permutation of coordinates keeps norms and within-copy
    dot products (up to summation order), while cosines across copies
    scatter around 0: no cross-copy near-duplicates, and each copy has
    the 1x cluster structure."""
    if k > dim:
        raise ValueError(f"at most {dim} embedding copies, got {k}")
    return _union([df] + [df.withColumns({
        "vec_id": F.col("vec_id") + F.lit(i * 10_000_000),
        "embedding": F.concat(F.slice("embedding", i + 1, dim - i),
                              F.slice("embedding", 1, i))})
        for i in range(1, k)])


class Rung:
    """Replicated, pinned inputs at one rung; patches the registry."""

    def __init__(self, spark, sf_dir, k):
        self.spark, self.sf_dir, self.k = spark, sf_dir, k
        self.pins, self.pin_s, self.docs = {}, 0.0, tag_docs
        for n in ("ivals_a", "ivals_b", "ivals_s", "ivals_p"):
            setattr(em, n, lambda s, d, n=n: self.pin(
                n, lambda: shift_intervals(_ORIG[n](s, d), k)))
        em._t = self.table
        em.chromsizes = lambda: {f"chr{i}": k * SPAN
                                 for i in range(em.N_CHROMS)}
        em.arms_view = lambda: [(c, s + i * SPAN, e + i * SPAN, f"c{i}_{n}")
                                for i in range(k)
                                for (c, s, e, n) in _ORIG["arms_view"]()]
        em._STREAM_SRC.clear()  # memoized fixtures are per rung

    def pin(self, key, build):
        if key not in self.pins:
            t0 = time.time()
            self.pins[key] = build().cache()
            self.pins[key].count()
            self.pin_s += time.time() - t0
        return self.pins[key]

    def table(self, spark, sf_dir, name):
        raw = _ORIG["_t"](spark, sf_dir, name)
        if name == "documents":
            return self.pin(self.docs, lambda: self.docs(raw, self.k))
        if name == "embeddings":
            return self.pin(name, lambda: roll_embeddings(raw, self.k))
        return raw

    def iv(self, name, k=None):
        """Coordinate-only replica of ivals_<name> (at rung k if given)."""
        k = self.k if k is None else k
        return self.pin((name, k), lambda: shift_intervals(
            _ORIG["ivals_" + name](self.spark, self.sf_dir)
            .select("chrom", "start", "end"), k))


def _docs(x):
    return x.table(x.spark, x.sf_dir, "documents")


def _emb(x):
    return x.table(x.spark, x.sf_dir, "embeddings")


def _clf_epoch(x):
    from bioframe_spark.datapipe import classifier
    return classifier.train_quality_classifier(_docs(x).withColumn(
        "label", (F.abs(F.xxhash64("doc_id")) % 2).cast("int")),
        dim=1 << 16, epochs=1, lr=1.0)


RW = 50_000


def _on_key(df, groups):
    """``df`` plus a ``sample`` on-key with about ``groups`` (chrom,
    sample) combinations: a per-sample id, the high-cardinality shape."""
    return df.withColumn("sample", F.abs(F.xxhash64("start", "end"))
                         % F.lit(max(groups // em.N_CHROMS, 1)))
CASES = {
    "overlap(auto)": lambda x: bf.overlap(x.iv("a"), x.iv("b"), how="inner"),
    "count_overlaps(fix-b)": lambda x: bf.count_overlaps(x.iv("a"), x.iv("b", 1)),
    "coverage(fix-b)": lambda x: bf.coverage(x.iv("a"), x.iv("b", 1)),
    "merge(auto)": lambda x: bf.merge(x.iv("a")),
    "cluster(auto)": lambda x: bf.cluster(x.iv("a")),
    "closest(auto)": lambda x: bf.closest(x.iv("b"), x.iv("a")),
    "cluster_ranged": lambda x: bf.cluster(x.iv("a"), min_dist=0,
                                           range_width=RW, premerge=False),
    "merge(classic)": lambda x: bf.merge(x.iv("a"), premerge=False,
                                         range_width=None),
    "merge(premerge)": lambda x: bf.merge(x.iv("a"), premerge=True,
                                          range_width=None),
    "merge(ranged)": lambda x: bf.merge(x.iv("a"), premerge=False,
                                        range_width=RW),
    "merge(premerge+ranged)": lambda x: bf.merge(x.iv("a"), premerge=True,
                                                 range_width=RW),
    # ~20k (chrom, on) groups: the per-group cost of the map-side fuse
    "merge(premerge,on20k)": lambda x: bf.merge(
        _on_key(x.iv("a"), 20_000), premerge=True, local=False,
        on=["sample"]),
    "jaccard_cutoff(100)": lambda x: dedup.ngram_jaccard_pairs(
        _docs(x), threshold=0.4, max_doc_freq=100),
    "jaccard_cutoff(100,win)": lambda x: dedup.ngram_jaccard_pairs(
        _docs(x), threshold=0.4, max_doc_freq=100, df_strategy="window"),
    "jaccard_cutoff(100,win+hash)": lambda x: dedup.ngram_jaccard_pairs(
        _docs(x), threshold=0.4, max_doc_freq=100, df_strategy="window",
        hash_shingles=True),
    "minhash_lsh(xx)": lambda x: dedup.minhash_lsh_pairs(_docs(x)),
    "simhash_pairs(xx)": lambda x: dedup.simhash_dup_pairs(_docs(x)),
    "components(minhash)": lambda x: dedup.connected_components(
        dedup.minhash_lsh_pairs(_docs(x)), strategy="loop"),
    "dup_spans(xx64)": lambda x: dedup.duplicate_spans(_docs(x), hash="xx64"),
    "span_removal(xx64)": lambda x: dedup.remove_duplicate_spans(
        _docs(x), hash="xx64"),
    "span_dup_pairs(xx64)": lambda x: dedup.span_dup_pairs(_docs(x),
                                                           hash="xx64"),
    "vocab_topk(100)": lambda x: ranking.vocab_topk(_docs(x), n=100),
    "token_pairs(100)": lambda x: ranking.token_pair_counts(_docs(x), n=100),
    "corpus_stats(approx)": lambda x: tokenize.corpus_stats(_docs(x),
                                                            approx=True),
    "clf_epoch": _clf_epoch,  # returns driver-side weights: timed as a call
    "semdedup(0.9)": lambda x: similarity.semantic_dedup(
        _emb(x).select("vec_id", F.transform(
            "embedding", lambda v: v.cast("double")).alias("embedding")),
        threshold=0.9, n_centroids=16, train_iters=0),
    "semdedup(16k)": lambda x: similarity.semantic_dedup(
        _emb(x), threshold=0.95, n_centroids=16 * x.k, train_iters=1),
    "embedding_dups(0.98)": lambda x: similarity.embedding_dup_pairs(
        _emb(x), threshold=0.98),
    "ann_lsh(50q)": lambda x: similarity.lsh_bucketed_topk(
        _emb(x).limit(50), _emb(x), k=5),
}

# cases whose documents take the token bijection instead of the copy tag
BIJECTION = {
    "dup_spans", "span_removal", "span_dup_pairs", "word_freqs",
    "corpus_stats", "bpe_merges", "bpe_tokens", "jaccard_cutoff(100)",
    "jaccard_cutoff(100,win)", "jaccard_cutoff(100,win+hash)",
    "minhash_lsh(xx)", "simhash_pairs(xx)", "components(minhash)",
    "dup_spans(xx64)", "span_removal(xx64)", "span_dup_pairs(xx64)",
    "corpus_stats(approx)", "clf_epoch",
}


def run_case(x, registry, name, reps):
    x.docs = biject_docs if name in BIJECTION else tag_docs
    samples, n = [], 0
    for _ in range(reps):
        x.spark.sparkContext.setJobDescription(f"ladder:{name}@{x.k}x")
        pin_s = x.pin_s
        with bf.scope():  # released outside the timer
            t0 = time.time()
            out = (CASES[name](x) if name in CASES
                   else registry[name](x.spark, x.sf_dir))
            n = force_count(out) if isinstance(out, DataFrame) else 1
            samples.append(time.time() - t0 - (x.pin_s - pin_s))
        if n_cached(x.spark) > len(x.pins):
            raise RuntimeError(
                f"{name}@{x.k}x left {n_cached(x.spark) - len(x.pins)} "
                "cached frames beyond the pinned inputs")
    med = sorted(samples)[len(samples) // 2]
    print(f"k={x.k:<3d} {name:28s} median {med:8.2f}s "
          f"reps {[round(s, 2) for s in samples]} ({n} rows)", flush=True)
    return med, n


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rungs", default="1,4,16")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--aqe", choices=("on", "off"), default="on")
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    args = ap.parse_args()
    rungs = sorted(int(r) for r in args.rungs.split(","))
    registry = em.queries()
    unknown = [q for q in args.queries if q not in registry and q not in CASES]
    if unknown:
        ap.error(f"unknown QUERY {unknown}; extra cases: {sorted(CASES)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(
        os.path.dirname(em.SF_DEFAULT), "sf0.1"))
    spark = get_spark("ladder")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", str(args.aqe == "on").lower())

    res = {}
    for k in rungs:
        x = Rung(spark, sf_dir, k)
        for q in args.queries:
            res[q, k] = run_case(x, registry, q, args.reps)
        spark.catalog.clearCache()  # drop this rung's pins

    kmin, kmax = rungs[0], rungs[-1]
    print(f"\nsf_dir={sf_dir} aqe={args.aqe} reps={args.reps} "
          f"cores={spark.sparkContext.defaultParallelism}")
    print("| query | " + " | ".join(f"{k}x s" for k in rungs)
          + " | rows " + "/".join(f"{k}x" for k in rungs) + " | exp |")
    print("|---" * (len(rungs) + 3) + "|")
    for q in args.queries:
        t = [res[q, k][0] for k in rungs]
        exp = (f"{math.log(t[-1] / t[0]) / math.log(kmax / kmin):.2f}"
               if kmax != kmin and t[0] > 0 else "-")
        print(f"| {q} | " + " | ".join(f"{v:.2f}" for v in t) + " | "
              + "/".join(str(res[q, k][1]) for k in rungs) + f" | {exp} |")


if __name__ == "__main__":
    main()
