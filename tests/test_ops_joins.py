"""Golden tests for the join family: overlap / setdiff / count_overlaps /
coverage / subtract. Expectations hand-derived from the reference semantics
(tests/test_ops.py:301-2069 style: literal frames, exact values)."""

import pytest
from helpers import ivals, rows

import bioframe_spark as bf

D1 = [
    ("chr1", 1, 5),
    ("chr1", 3, 8),
    ("chr1", 6, 6),    # point
    ("chr1", 8, 10),
    ("chr1", 12, 14),
    ("chr2", 4, 10),
]
D2 = [
    ("chr1", 4, 6),
    ("chr1", 8, 10),
    ("chr2", 5, 6),
]


@pytest.fixture(scope="module")
def d1(spark):
    return ivals(spark, D1)


@pytest.fixture(scope="module")
def d2(spark):
    return ivals(spark, D2)


def test_overlap_inner(d1, d2):
    out = bf.overlap(d1, d2, how="inner")
    got, cols = rows(out)
    assert cols == ["chrom", "chrom_", "end", "end_", "start", "start_"]
    expected = sorted(
        [
            ("chr1", "chr1", 5, 6, 1, 4),
            ("chr1", "chr1", 8, 6, 3, 4),
            ("chr1", "chr1", 10, 10, 8, 8),
            ("chr2", "chr2", 10, 6, 4, 5),
        ]
    )
    assert [t for t in got] == [tuple(e) for e in expected]


def test_overlap_left(d1, d2):
    out = bf.overlap(d1, d2, how="left")
    got, _ = rows(out)
    assert len(got) == 6  # 4 pairs + 2 unmatched rows with null right side
    n_null = sum(1 for t in got if any(v is None for v in t))
    assert n_null == 2


def test_overlap_outer(d1, d2, spark):
    extra2 = ivals(spark, D2 + [("chr3", 0, 5)])
    out = bf.overlap(d1, extra2, how="outer")
    got, _ = rows(out)
    assert len(got) == 7  # 4 pairs + 2 left-only + 1 right-only


def test_overlap_points(spark):
    # a point overlaps a covering segment; two adjacent points don't overlap
    pts = ivals(spark, [("chr1", 1, 1), ("chr1", 2, 2)])
    seg = ivals(spark, [("chr1", 0, 5)])
    assert bf.overlap(pts, seg, how="inner").count() == 2
    assert bf.overlap(pts, pts.select("chrom", "start", "end"),
                      how="inner", suffixes=("", "_y")).count() == 2  # only self-pairs
    # point at segment end does not overlap (half-open)
    seg2 = ivals(spark, [("chr1", 0, 1)])
    assert bf.overlap(ivals(spark, [("chr1", 1, 1)]), seg2, how="inner").count() == 0


def test_overlap_on_key(spark):
    a = ivals(spark, [("chr1", 1, 5, "+"), ("chr1", 1, 5, "-")],
              extra=[("strand", "string")])
    b = ivals(spark, [("chr1", 3, 6, "+")], extra=[("strand", "string")])
    out = bf.overlap(a, b, how="inner", on=["strand"])
    assert out.count() == 1
    assert out.collect()[0]["strand"] == "+"


def test_overlap_return_overlap(d1, d2):
    out = bf.overlap(d1, d2, how="inner", return_overlap=True)
    got = {(r["start"], r["start_"]): (r["overlap_start"], r["overlap_end"])
           for r in out.collect()}
    assert got[(1, 4)] == (4, 5)
    assert got[(3, 4)] == (4, 6)
    assert got[(8, 8)] == (8, 10)


def test_overlap_binned_matches_plain(d1, d2):
    plain, _ = rows(bf.overlap(d1, d2, how="inner"))
    binned, _ = rows(bf.overlap(d1, d2, how="inner", strategy="binned", bin_size=4))
    assert plain == binned
    plain_l, _ = rows(bf.overlap(d1, d2, how="left"))
    binned_l, _ = rows(bf.overlap(d1, d2, how="left", strategy="binned", bin_size=4))
    assert plain_l == binned_l


def test_setdiff(d1, d2):
    out = bf.setdiff(d1, d2)
    got, _ = rows(out)  # cols sorted: chrom, end, start
    assert got == sorted([("chr1", 6, 6), ("chr1", 14, 12)])


def test_count_overlaps(d1, d2):
    out = bf.count_overlaps(d1, d2)
    got = {(r["chrom"], r["start"], r["end"]): r["count"] for r in out.collect()}
    assert got == {
        ("chr1", 1, 5): 1,
        ("chr1", 3, 8): 1,
        ("chr1", 6, 6): 0,
        ("chr1", 8, 10): 1,
        ("chr1", 12, 14): 0,
        ("chr2", 4, 10): 1,
    }


def test_coverage(d1, d2):
    out = bf.coverage(d1, d2)
    got = {(r["chrom"], r["start"], r["end"]): r["coverage"] for r in out.collect()}
    assert got == {
        ("chr1", 1, 5): 1,
        ("chr1", 3, 8): 2,
        ("chr1", 6, 6): 0,
        ("chr1", 8, 10): 2,
        ("chr1", 12, 14): 0,
        ("chr2", 4, 10): 1,
    }


def test_subtract(d1, d2):
    out = bf.subtract(d1, d2)
    got, _ = rows(out)  # cols sorted: chrom, end, start
    expected = sorted(
        [
            ("chr1", 4, 1),    # [1,5) minus [4,6) -> [1,4)
            ("chr1", 4, 3),    # [3,8) -> [3,4)
            ("chr1", 8, 6),    # [3,8) -> [6,8)
            ("chr1", 6, 6),    # point survives inside a gap
            ("chr1", 14, 12),
            ("chr2", 5, 4),
            ("chr2", 10, 6),
        ]
    )
    assert got == [tuple(e) for e in expected]


def test_coverage_keeps_merge_persist_alive(spark):
    # createDataFrame inputs estimate at 1<<60 bytes, so the join path's
    # merge(df2) premerges and persists its fused frame; that persist
    # must survive coverage() returning (and merge's own result being
    # collected) until the coverage result is dropped
    import gc

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    d1 = ivals(spark, [("chr1", 10 * i, 10 * i + 25) for i in range(40)])
    d2 = ivals(spark, [("chr1", 7 * i, 7 * i + 5) for i in range(60)])
    out = bf.coverage(d1, d2)
    gc.collect()
    assert not cm.isEmpty()
    assert out.count() == 40
    del out
    gc.collect()
    assert cm.isEmpty()


def test_count_overlaps_coverage_return_input_false(spark):
    from helpers import ivals

    d1 = ivals(spark, [("chr1", 0, 10), ("chr1", 50, 60)])
    d2 = ivals(spark, [("chr1", 5, 8), ("chr1", 6, 20)])
    cnt = bf.count_overlaps(d1, d2, return_input=False)
    assert cnt.columns == ["count"]
    assert sorted(r["count"] for r in cnt.collect()) == [0, 2]
    cov = bf.coverage(d1, d2, return_input=False)
    assert cov.columns == ["coverage"]
    assert sorted(r["coverage"] for r in cov.collect()) == [0, 5]


def test_overlap_keep_order(spark):
    from helpers import ivals
    import pytest

    a = ivals(spark, [("chr2", 0, 9), ("chr1", 50, 60), ("chr1", 0, 5)])
    b = ivals(spark, [("chr1", 3, 8), ("chr2", 4, 6), ("chr1", 55, 70)])
    out = bf.overlap(a, b, how="left", keep_order=True).collect()
    # output follows df1's canonical (chrom,start,end) order
    assert [(r["chrom"], r["start"]) for r in out] == [
        ("chr1", 0), ("chr1", 50), ("chr2", 0)]
    assert "__keep_order" not in bf.overlap(a, b, how="left", keep_order=True).columns
    with pytest.raises(ValueError, match="keep_order"):
        bf.overlap(a, b, how="inner", keep_order=True)
    # binned strategy, both outer reconstructions: the minted order/id
    # columns make every left row value unique — per-value loneliness
    # must degrade gracefully to per-row and keep the same output
    want = sorted((r["chrom"], r["start"], r["start_"])
                  for r in bf.overlap(a, b, how="left").collect())
    for path in ("window", "anti"):
        spark.conf.set("spark.bioframe.outerPath", path)
        try:
            got = bf.overlap(a, b, how="left", keep_order=True,
                             return_index=True, strategy="binned",
                             bin_size=4)
            assert [(r["chrom"], r["start"]) for r in got.collect()] == [
                ("chr1", 0), ("chr1", 50), ("chr2", 0)]
            assert sorted((r["chrom"], r["start"], r["start_"])
                          for r in got.collect()) == want
        finally:
            spark.conf.unset("spark.bioframe.outerPath")


def test_subtract_chrom_only_in_df1_passes_whole(spark):
    # fast path: a df1 chromosome absent from df2 is all-gap — rows pass
    # through whole; fully-covered rows on shared chromosomes drop
    a = ivals(spark, [("chr1", 10, 20), ("chr2", 0, 100), ("chr1", 2, 4)])
    b = ivals(spark, [("chr1", 0, 30)])
    got, _ = rows(bf.subtract(a, b))
    assert got == [("chr2", 100, 0)]


def test_subtract_fast_vs_binned_paths_agree(spark):
    a = ivals(spark, [("chr1", 0, 10), ("chr1", 15, 40), ("chr2", 5, 9),
                      ("chr3", 1, 3), ("chr1", 25, 26)])
    b = ivals(spark, [("chr1", 5, 20), ("chr1", 30, 35), ("chr2", 0, 100)])
    fast, _ = rows(bf.subtract(a, b))
    spark.conf.set("spark.bioframe.smallInputBytes", "1")
    try:
        binned, _ = rows(bf.subtract(a, b))
    finally:
        spark.conf.unset("spark.bioframe.smallInputBytes")
    assert fast == binned
    # canonical column order: (chrom, end, start)
    assert fast == sorted([("chr1", 5, 0), ("chr1", 26, 25), ("chr1", 30, 20),
                           ("chr1", 40, 35), ("chr3", 3, 1)])


def test_subtract_null_rows_dropped(spark):
    a = ivals(spark, [("chr1", 0, 10), (None, 1, 2), ("chr1", None, None)])
    b = ivals(spark, [("chr1", 2, 5)])
    got, _ = rows(bf.subtract(a, b))
    assert got == [("chr1", 2, 0), ("chr1", 10, 5)]
