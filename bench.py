"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE COMPACT JSON line (totals + sentinel + worst-5 + the
per-query medians map):
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, ...}
and writes the FULL per-query record (warm medians + cold firsts) to
BENCH_LOCAL.json next to this file. Readers of the stdout line keep a
2000-char tail, so ``stdout_line`` drops the medians map when the line
would outgrow that (the medians-only line measures ~1.45 KB at 53
queries).

Each query is timed end-to-end (plan + execute + materialization of every
output column) after a warmup of the session. The timing action is a
one-pass count + xxhash64-of-all-columns aggregate, NOT ``.count()``:
count() lets Catalyst prune derived projections, so a map-only op (PII
redaction, repetition signals, quality features) would be "timed" as a
bare parquet row count. The hash forces each output value to actually be
computed, which is also what the pandas reference baseline pays when it
materializes full frames. The headline metric is total wall time over
the query set.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from bioframe_spark.session import get_spark  # noqa: E402
import __spark_entry__ as em  # noqa: E402


LINE_MAX = 2000  # chars of stdout tail that readers of the line keep


def stdout_line(rec: dict) -> str:
    """``rec`` as one JSON line of at most LINE_MAX chars when possible:
    an over-long line loses its per-query ``"queries"`` map (totals and
    ``worst5`` stay; BENCH_LOCAL.json has the full record)."""
    line = json.dumps(rec)
    if len(line) > LINE_MAX:
        line = json.dumps({k: v for k, v in rec.items() if k != "queries"})
    return line


def n_cached(spark) -> int:
    """CacheManager entries: the only cache a re-run plan can replay."""
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def force_count(df) -> int:
    """Timing action: one pass that (a) counts rows and (b) hashes every
    output column so no projection can be pruned and no row-preserving
    join-back can be eliminated (SCALING.md §16). max() over the hash is
    overflow-safe under ANSI mode (unlike sum) and cannot be
    constant-folded or rewritten to count(*). Shared by bench.py and
    tools/ladder.py — keep the single copy."""
    cols = [F.map_entries(c).alias(c) if t.startswith("map")
            else F.col(c) for c, t in df.dtypes]
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.max(F.xxhash64(*cols)).alias("h")).collect()[0]
    return row["n"]

BENCH_QUERIES = [
    # the headline interval engine ops
    "overlap_inner",
    "overlap_binned",
    "overlap_prebinned",
    "overlap_left",
    "count_overlaps",
    "coverage",
    "merge",
    "cluster",
    "complement",
    "closest",
    "subtract",
    "assign_view",
    "pileup",
    "gene_coverage",
    # scale-path variants (the 100 TB plans, value-identical to classic)
    "closest_binned",
    "closest_broadcast",
    "merge_ranged",
    "complement_ranged",
    "pileup_ranged",
    # streaming time-to-snapshot: drive the stateful island merge to
    # completion (availableNow) and hash the final snapshot — the whole
    # micro-batch pipeline is inside the timer
    "stream_merge",
    # datapipe ops
    "dedup_exact",
    "text_stats",
    "redact",
    "boilerplate",
    "repetition",
    "dedup_lines",
    "gopher",
    "chunk_docs",
    "pack_seqs",
    "jaccard_pairs",
    "contamination",
    "curate",
    "minhash_lsh",
    "simhash_pairs",
    "dedup_components",
    "dup_spans",
    "span_removal",
    "span_dup_pairs",  # r7: single-kernel rewrite
    "semdedup",  # r7: first bench row for the semantic-dedup family
    "bm25",
    "sample_users",
    "train_split",
    "domain_cap",
    "mixture",
    "embedding_dups",
    "ann_topk",
    "ann_ivf_indexed",
    "events_hourly",
    "sessions",
    # r8 additions: normalization, tokenizer family, hashed classifier
    "normalize",
    "word_freqs",
    "bpe_tokens",
    "hashed_score",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Size the session to the benchmark scale: at sub-GB inputs AQE's
    # stage-materialization barriers cost more wall clock than runtime
    # re-planning saves (measured ~0.2-1.5 s/query here). On a real
    # cluster at TB scale leave AQE ON (get_spark's default) — skew-join
    # splitting and runtime coalescing dominate there.
    if sf <= 1:
        spark.conf.set("spark.sql.adaptive.enabled", "false")

    # warm the JVM / parquet footers with a trivial action
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # CONTENTION SENTINEL (r5 verdict #4): a fixed trivial probe (cached
    # 1M-row count + hash) timed before and after the query loop. Its
    # cost is machine-dependent but workload-independent, so a sentinel
    # that reads far above its solo value (~0.1-0.2 s here) marks the
    # whole snapshot as contention-polluted — compare sentinels FIRST
    # when reading round-over-round deltas (r4 and r5 both needed solo
    # re-runs to separate real regressions from fleet noise).
    sentinel_df = spark.range(1_000_000).select(
        F.col("id"), F.xxhash64("id").alias("h")).cache()
    sentinel_df.count()  # materialize the cache outside the probe

    def probe_sentinel(reps: int = 3) -> float:
        samples = []
        for _ in range(reps):
            t0 = time.time()
            sentinel_df.agg(F.max(F.xxhash64("id", "h"))).collect()
            samples.append(time.time() - t0)
        return round(sorted(samples)[len(samples) // 2], 3)

    sentinel_pre = probe_sentinel()

    # Pre-materialize the synthetic DERIVED interval tables (cache +
    # count), then point the entry module's derivation helpers at the
    # cached frames. The reference baseline (BASELINE.md / VERDICT) is
    # measured from in-memory pandas frames of the same derived data, so
    # timing the parquet scan + derivation inside every query would charge
    # this engine an input tax the baseline doesn't pay. Raw-table queries
    # (documents/embeddings/events) still read parquet directly.
    pinned = []
    for fn_name in ("ivals_a", "ivals_b", "ivals_s", "ivals_p"):
        cached = getattr(em, fn_name)(spark, sf_dir).cache()
        cached.count()
        pinned.append(cached)
        setattr(em, fn_name, lambda spark, sf_dir, _df=cached: _df)
    n_pinned = len(pinned) + 1  # + the sentinel

    # Single-shot timings on a cold 32-core local JVM swing up to 5x
    # (JIT, codegen compilation, shuffle-file page cache). Run each query
    # REPS times and report the MEDIAN as the headline number; the first
    # (cold) run is recorded separately under "cold" so JIT/codegen cost
    # stays visible but stops polluting the steady-state comparison.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    qs = em.queries()

    # The pre-binned bucketed layout amortizes explode+shuffle into the
    # write: pay it ONCE here (setup, untimed — that's the layout's whole
    # point), then time only the recurring catalog-table join. Compare
    # against overlap_inner/overlap_binned to read the amortization win.
    import tempfile

    import bioframe_spark as bf
    from bioframe_spark.sources.fileops import write_prebinned
    loc = tempfile.mkdtemp(prefix="bench_prebinned_")
    write_prebinned(em.ivals_a(spark, sf_dir), "bench_prebinned_a",
                    path=f"{loc}/a")
    write_prebinned(em.ivals_b(spark, sf_dir), "bench_prebinned_b",
                    path=f"{loc}/b")
    qs["overlap_prebinned"] = lambda spark, sf_dir: bf.overlap_prebinned(
        spark.table("bench_prebinned_a"), spark.table("bench_prebinned_b"),
        suffixes=("", "_b"))

    # the persisted IVF index: build once in setup (untimed), time the
    # recurring partition-pruned probe — compare against ann_topk
    # (brute force) and ann_ivf (train+assign inside the query)
    from pyspark.sql import functions as _F

    from bioframe_spark.datapipe import similarity as _sim
    emb_bench = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ivf_loc = f"{loc}/ivf_index"
    _sim.build_ivf_index(emb_bench, ivf_loc, n_centroids=16, train_iters=2)
    qs["ann_ivf_indexed"] = lambda spark, sf_dir: _sim.ivf_topk_indexed(
        emb_bench.filter(_F.col("vec_id") < 50), ivf_loc, k=10, n_probe=4)

    times = {}
    cold = {}
    total = 0.0
    for name in BENCH_QUERIES:
        fn = qs[name]
        samples = []
        n = 0
        for rep in range(reps):
            t0 = time.time()
            # the scope releases the query's internal persists, so no
            # later rep replays them from the cache
            with bf.scope():
                n = force_count(fn(spark, sf_dir))
            samples.append(time.time() - t0)
            if n_cached(spark) > n_pinned:
                raise RuntimeError(
                    f"{name} left {n_cached(spark) - n_pinned} cached frames "
                    "beyond the pinned inputs")
        cold[name] = round(samples[0], 3)
        med = sorted(samples)[len(samples) // 2]
        times[name] = round(med, 3)
        total += med
        print(
            f"# {name}: median {med:.2f}s cold {samples[0]:.2f}s ({n} rows)",
            file=sys.stderr,
        )

    sentinel_post = probe_sentinel()
    full = {
        "metric": "bench_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "cold": cold,
        "reps": reps,
        "sf": sf,
        # solo value ~0.1-0.2 s; 2x+ above that = contended snapshot
        "sentinel": {"pre": sentinel_pre, "post": sentinel_post},
    }
    # The full record (medians + colds) goes to a file; the cold map
    # stays file-only, and stdout_line keeps the line in its tail bound.
    local_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "BENCH_LOCAL.json")
    with open(local_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")
    worst5 = dict(sorted(times.items(), key=lambda kv: -kv[1])[:5])
    line = {k: v for k, v in full.items() if k not in ("cold", "queries")}
    print(stdout_line({**line, "n_queries": len(times), "worst5": worst5,
                       "queries": times, "full": "BENCH_LOCAL.json"}))


if __name__ == "__main__":
    main()
