"""Ownership of internal persists (``bioframe_spark/core/persist.py``):
who releases what an operator persisted, and when."""
import gc
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

import bioframe_spark as bf
from bioframe_spark.core.persist import persist
from bioframe_spark.datapipe import dedup, ranking
from bioframe_spark.datapipe.pipeline import curate_corpus
from bench import force_count
from helpers import ivals


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _n_entries(spark):
    return _cache_manager(spark).cachedData().size()


def _cached_plans(spark):
    data = _cache_manager(spark).cachedData()
    return [data.apply(i).plan().toString() for i in range(data.size())]


def _n_rdds(spark):
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _wait_rdds(spark, n, timeout=10.0):
    """unpersist(blocking=False) drops blocks asynchronously — poll."""
    t0 = time.time()
    while time.time() - t0 < timeout:
        if _n_rdds(spark) <= n:
            return True
        time.sleep(0.1)
    return _n_rdds(spark) <= n


def _is_cached(df):
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    # parquet-backed so the plan size is known: the shingle cache's auto
    # gate resolves False for createDataFrame-backed frames
    rows = [(i, f"alpha beta gamma delta epsilon {i % 6} zeta eta {i % 4} "
                f"theta iota") for i in range(120)]
    p = str(tmp_path_factory.mktemp("persist") / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(p)
    return spark.read.parquet(p)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    words = ["w%d" % i for i in range(60)]
    rows = []
    for i in range(400):
        base = [words[(i * 7 + j * 3) % 60] for j in range(24)]
        if i % 5 == 0 and i:  # near-duplicate of the previous document
            base = [words[((i - 1) * 7 + j * 3) % 60] for j in range(23)]
        rows.append((i, " ".join(base) + f" tail{i % 3}"))
    p = str(tmp_path_factory.mktemp("persist") / "corpus")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(p)
    return spark.read.parquet(p)


def test_persist_without_owner_raises(spark):
    with pytest.raises(RuntimeError, match="owner"):
        persist(spark.range(3))
    with bf.scope() as held:
        df = persist(spark.range(3))
        assert held == [df] and _is_cached(df)
    assert not _is_cached(df)


def test_scope_is_per_thread(spark):
    # a worker thread does not see the scope its parent opened, and
    # concurrent scopes (more threads than cores) never share an owner
    errors, mixed = [], []

    def outside():
        try:
            persist(spark.range(4))
        except RuntimeError as e:
            errors.append(e)

    def inside(i):
        with bf.scope() as held:
            mine = [persist(spark.range(100 * i + j + 1)) for j in range(3)]
            if held != mine:
                mixed.append(i)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with bf.scope() as parent:
            threads = [threading.Thread(target=outside)] + [
                threading.Thread(target=inside, args=(i,)) for i in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    assert len(errors) == 1 and mixed == [] and parent == []
    assert _cache_manager(spark).isEmpty()


def test_persist_leaves_a_cached_input_alone(spark):
    df = spark.range(5).cache()
    df.count()
    try:
        with bf.scope() as held:
            assert persist(df) is df
            assert held == []
        assert _is_cached(df)
    finally:
        df.unpersist()


def test_score_buckets_keeps_caller_cache(spark):
    df = spark.createDataFrame([(i, float(i % 97)) for i in range(1000)],
                               "doc_id long, score double").cache()
    df.count()
    try:
        out = ranking.score_buckets(df)
        assert out.count() == 1000
        del out
        gc.collect()
        assert df.storageLevel.useMemory
    finally:
        df.unpersist()


def test_curate_keeps_jaccard_persist_after_gc(spark, corpus):
    # the pair miner runs inside curate_corpus: its shingle persist must
    # live as long as the curate result, not as long as the pair frame
    spark.catalog.clearCache()
    out = curate_corpus(corpus, min_tokens=5)
    gc.collect()
    plans = _cached_plans(spark)
    assert len(plans) == 2 and any("__arr" in p for p in plans), plans
    assert out.count() > 0
    del out
    gc.collect()
    assert _cache_manager(spark).isEmpty()


def test_frac_gene_coverage_keeps_coverage_persists(spark):
    # createDataFrame inputs estimate at 1<<60 bytes, so coverage merges
    # the genes through merge's persisting premerge path
    spark.catalog.clearCache()
    d1 = ivals(spark, [("chr1", 10 * i, 10 * i + 25) for i in range(40)])
    genes = ivals(spark, [("chr1", 7 * i, 7 * i + 5) for i in range(60)])
    want = sorted(bf.coverage(d1, genes).select("start", "coverage").collect())
    gc.collect()
    assert _cache_manager(spark).isEmpty()
    out = bf.frac_gene_coverage(d1, genes)
    gc.collect()
    assert _n_entries(spark) > 0
    assert sorted(out.select("start", "coverage").collect()) == want
    del out
    gc.collect()
    assert _cache_manager(spark).isEmpty()


def test_scope_keeps_binned_closest_chain_warm(spark):
    # chained straight onto the call, the closest frame is dropped at
    # once; inside a scope its rung persists stay cached until the
    # derived frame has run, and the scope releases them all
    spark.catalog.clearCache()
    a = [("chr%d" % (i % 3), 37 * i, 37 * i + 20) for i in range(3000)]
    b = [("chr%d" % (i % 3), 371 * i + 5, 371 * i + 40) for i in range(300)]
    d1, d2 = ivals(spark, a), ivals(spark, b)
    want = sorted(bf.closest(d1, d2, strategy="cogroup")
                  .filter(F.col("distance") < 100).collect())
    gc.collect()
    assert _cache_manager(spark).isEmpty()

    with bf.scope() as held:
        derived = bf.closest(d1, d2, strategy="binned").filter(
            F.col("distance") < 100)
        n_live = _n_entries(spark)
        gc.collect()
        assert held and n_live > 0 and _n_entries(spark) == n_live
        assert sorted(derived.collect()) == want
        plan = derived._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert _cache_manager(spark).isEmpty()
    # same rows when the chain runs outside any scope
    plain = bf.closest(d1, d2, strategy="binned").filter(
        F.col("distance") < 100)
    gc.collect()
    assert sorted(plain.collect()) == want


def test_jaccard_shingle_persist_released_by_scope(spark, docs):
    spark.catalog.clearCache()
    with bf.scope() as held:
        out = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.3)
        out.count()
        assert len(held) == 1 and held[0].storageLevel.useMemory
    assert not held[0].storageLevel.useMemory
    assert _cache_manager(spark).isEmpty()


def test_scope_keeps_persists_of_dropped_source(spark, docs):
    # a frame derived from an operator result keeps the result's
    # persists inside a scope after the result itself is dropped
    spark.catalog.clearCache()
    with bf.scope() as held:
        src = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.3)
        derived = src.select("id1", "id2")
        del src
        gc.collect()
        derived.count()
        assert held and all(_is_cached(h) for h in held)
    assert not any(_is_cached(h) for h in held)


def test_unscoped_result_releases_on_gc(spark):
    # a harness that materializes a result and drops it must not leak a
    # CacheManager entry for the session lifetime
    spark.catalog.clearCache()
    base = _n_rdds(spark)
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog again " * 3
          + f"tail {i % 2}") for i in range(8)], "doc_id long, text string")
    out = dedup.duplicate_spans(docs, k=5, w=4, strategy="join")
    out.count()
    assert _n_rdds(spark) > base, "join strategy should persist its emission"
    del out
    gc.collect()
    assert _cache_manager(spark).isEmpty()
    assert _wait_rdds(spark, base)


def test_finalizer_after_unpersist_is_safe(spark):
    # the result's finalizer may run after its persists were already
    # unpersisted (here: by clearCache); the second release is a no-op
    docs = spark.createDataFrame([(i, float(i)) for i in range(8)],
                                 "doc_id long, score double")
    out = ranking.score_buckets(docs)
    assert out.count() == 8
    spark.catalog.clearCache()
    del out
    gc.collect()  # must not raise
    assert _cache_manager(spark).isEmpty()


def _iv(spark, n, step, width, chroms=1):
    return ivals(spark, [("chr%d" % (i % chroms), step * i, step * i + width)
                         for i in range(n)])


def _txt(spark):
    return spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog near the river "
             f"bank {i % 3} and more words follow here {i % 2}")
         for i in range(12)], "doc_id long, text string")


# each operator on an input that reaches its persist
OWNED = {
    "merge": lambda s, d: bf.merge(_iv(s, 200, 10, 15)),
    "cluster": lambda s, d: bf.cluster(_iv(s, 200, 10, 15), min_dist=0,
                                       range_width=100, premerge=False),
    "coverage": lambda s, d: bf.coverage(_iv(s, 40, 10, 25),
                                         _iv(s, 60, 7, 5)),
    "frac_gene_coverage": lambda s, d: bf.frac_gene_coverage(
        _iv(s, 40, 10, 25), _iv(s, 60, 7, 5)),
    "closest": lambda s, d: bf.closest(_iv(s, 300, 37, 20, 3),
                                       _iv(s, 30, 371, 35, 3),
                                       strategy="binned"),
    "ngram_jaccard_pairs": lambda s, d: dedup.ngram_jaccard_pairs(
        d, threshold=0.3),
    "simhash_dup_pairs": lambda s, d: dedup.simhash_dup_pairs(_txt(s),
                                                              cache=True),
    "duplicate_spans": lambda s, d: dedup.duplicate_spans(
        _txt(s), k=5, w=4, strategy="join"),
    "remove_duplicate_spans": lambda s, d: dedup.remove_duplicate_spans(
        _txt(s), k=5, w=4, strategy="join"),
    "score_buckets": lambda s, d: ranking.score_buckets(
        s.createDataFrame([(i, float(i)) for i in range(9)],
                          "doc_id long, score double")),
    "curate_corpus": lambda s, d: curate_corpus(d, min_tokens=3),
}


@pytest.mark.parametrize("op", sorted(OWNED))
def test_unscoped_call_leaves_cache_empty(spark, docs, op):
    spark.catalog.clearCache()
    with bf.scope() as held:
        force_count(OWNED[op](spark, docs))
        assert held, f"{op} did not reach a persist"
    assert _cache_manager(spark).isEmpty()
    force_count(OWNED[op](spark, docs))
    assert _cache_manager(spark).isEmpty()
