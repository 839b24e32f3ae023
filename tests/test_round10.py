"""Round-10 optimization pins: jaccard counts-ride equivalence, hot-list
InSet/anti-join equivalence, the ranged islands persist's owner, and the
streaming state-shuffle sizing helper."""

import pytest
from pyspark.sql import functions as F

import bioframe_spark as bf
from bioframe_spark.datapipe import dedup


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    rows = [(i, f"alpha beta gamma delta epsilon {i % 6} zeta eta {i % 4} "
                f"theta iota") for i in range(120)]
    # parquet-backed so the plan size is known (the cache auto-gate
    # resolves False for createDataFrame-backed frames)
    p = str(tmp_path_factory.mktemp("r10") / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(p)
    return spark.read.parquet(p)


def test_jaccard_counts_ride_matches_aggregated_counts(spark, docs):
    # default path = the r10 counts-ride formulation; the window-cutoff
    # path with a never-firing cutoff = the historical aggregated-counts
    # formulation over the identical shingle set
    ride = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.3).collect()))
    agg = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.3, max_doc_freq=10**9,
        df_strategy="window").collect()))
    assert ride == agg and len(ride) > 0


def test_jaccard_hot_list_inset_vs_antijoin(spark, docs):
    # the same cutoff through the literal-InSet path and the
    # over-the-bar broadcast anti-join path must drop the same keys
    kw = dict(n=3, threshold=0.3, max_doc_freq=60)
    inset = sorted(map(tuple,
                       dedup.ngram_jaccard_pairs(docs, **kw).collect()))
    spark.conf.set("spark.bioframe.hotInSetMax", "1")
    try:
        anti = sorted(map(tuple,
                          dedup.ngram_jaccard_pairs(docs, **kw).collect()))
    finally:
        spark.conf.unset("spark.bioframe.hotInSetMax")
    assert inset == anti and len(inset) > 0


def test_ranged_islands_persist_rides_merge_result(spark):
    rows = [("chr1", 10 * i, 10 * i + 15) for i in range(500)]
    df = spark.createDataFrame(rows, "chrom string, start long, end long")
    with bf.scope() as held:
        bf.merge(df, min_dist=0, range_width=100).count()
        assert held, "ranged merge should persist its islands"
        assert any(h.storageLevel.useMemory or h.storageLevel.useDisk
                   for h in held)
    assert not any(h.storageLevel.useMemory for h in held)


def test_sized_state_shuffle_restores_conf(spark):
    from bioframe_spark.streaming.stream_ops import sized_state_shuffle

    old = spark.conf.get("spark.sql.shuffle.partitions")
    with sized_state_shuffle(spark, 8):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
    with pytest.raises(RuntimeError):
        with sized_state_shuffle(spark, 8):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
