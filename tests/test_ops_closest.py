"""Golden tests for closest (kNN interval join) — semantics pinned to
reference tests/test_ops.py:1168-1493."""

import pytest
from helpers import ivals

import bioframe_spark as bf


@pytest.fixture(scope="module")
def d1(spark):
    return ivals(spark, [("chr1", 10, 20)])


@pytest.fixture(scope="module")
def d2(spark):
    return ivals(spark, [("chr1", 0, 5), ("chr1", 22, 30), ("chr1", 40, 50)])


def test_closest_basic(d1, d2):
    out = bf.closest(d1, d2, k=1)
    r = out.collect()
    assert len(r) == 1
    assert (r[0]["start_"], r[0]["end_"], r[0]["distance"]) == (22, 30, 2)


def test_closest_k(d1, d2):
    out = bf.closest(d1, d2, k=2)
    got = sorted((r["start_"], r["distance"]) for r in out.collect())
    assert got == [(0, 5), (22, 2)]
    out3 = bf.closest(d1, d2, k=3)
    got3 = sorted((r["start_"], r["distance"]) for r in out3.collect())
    assert got3 == [(0, 5), (22, 2), (40, 20)]


def test_closest_overlap_wins(spark, d1):
    d2 = ivals(spark, [("chr1", 15, 25), ("chr1", 21, 22)])
    out = bf.closest(d1, d2, k=1).collect()
    assert (out[0]["start_"], out[0]["distance"]) == (15, 0)


def test_closest_ignore_overlaps(spark, d1):
    d2 = ivals(spark, [("chr1", 15, 25), ("chr1", 26, 30)])
    out = bf.closest(d1, d2, k=1, ignore_overlaps=True).collect()
    assert (out[0]["start_"], out[0]["distance"]) == (26, 6)


def test_closest_ignore_directions(spark, d1):
    d2 = ivals(spark, [("chr1", 0, 5), ("chr1", 22, 30)])
    up = bf.closest(d1, d2, k=1, ignore_downstream=True).collect()
    assert (up[0]["start_"], up[0]["distance"]) == (0, 5)
    dn = bf.closest(d1, d2, k=1, ignore_upstream=True).collect()
    assert (dn[0]["start_"], dn[0]["distance"]) == (22, 2)


def test_closest_direction_col(spark):
    d1 = ivals(spark, [("chr1", 10, 20, "-")], extra=[("strand", "string")])
    d2 = ivals(spark, [("chr1", 0, 5), ("chr1", 22, 30)])
    # on '-' strand, upstream is to the right
    up = bf.closest(d1, d2, k=1, ignore_downstream=True, direction_col="strand").collect()
    assert (up[0]["start_"], up[0]["distance"]) == (22, 2)
    dn = bf.closest(d1, d2, k=1, ignore_upstream=True, direction_col="strand").collect()
    assert (dn[0]["start_"], dn[0]["distance"]) == (0, 5)


def test_closest_no_candidates(spark, d1):
    d2 = ivals(spark, [("chr2", 0, 5)])
    out = bf.closest(d1, d2, k=1).collect()
    assert len(out) == 1
    assert out[0]["start_"] is None and out[0]["distance"] is None


def test_closest_self(spark):
    d = ivals(spark, [("chr1", 0, 5), ("chr1", 6, 10), ("chr1", 20, 30)])
    out = bf.closest(d, k=1)
    got = {r["start"]: (r["start_"], r["distance"]) for r in out.collect()}
    assert got[0] == (6, 1)
    assert got[6] == (0, 1)
    assert got[20] == (6, 10)


def test_closest_tie_breaking(spark):
    d1 = ivals(spark, [("chr1", 10, 11)])
    d2 = ivals(
        spark,
        [("chr1", 0, 5, 2.0), ("chr1", 16, 21, 1.0)],  # both at distance 5
        extra=[("score", "double")],
    )
    # default tie-break: canonical (start2, end2) order → (0,5)
    out = bf.closest(d1, d2, k=1).collect()
    assert out[0]["start_"] == 0
    # tie_breaking_col: lower score wins → (16,21)
    out2 = bf.closest(d1, d2, k=1, tie_breaking_col="score").collect()
    assert out2[0]["start_"] == 16


def test_closest_return_overlap(spark):
    d1 = ivals(spark, [("chr1", 10, 20)])
    d2 = ivals(spark, [("chr1", 15, 25)])
    r = bf.closest(d1, d2, k=1, return_overlap=True).collect()[0]
    assert r["have_overlap"] is True
    assert (r["overlap_start"], r["overlap_end"]) == (15, 20)


def test_closest_multi_chrom(spark):
    d1 = ivals(spark, [("chr1", 10, 20), ("chr2", 10, 20), ("chr3", 0, 5)])
    d2 = ivals(spark, [("chr1", 30, 40), ("chr2", 0, 2)])
    out = bf.closest(d1, d2, k=1)
    got = {r["chrom"]: (r["start_"], r["distance"]) for r in out.collect()}
    assert got["chr1"] == (30, 10)
    assert got["chr2"] == (0, 8)
    assert got["chr3"] == (None, None)


def test_closest_k2_with_ignore_overlaps(spark):
    d1 = ivals(spark, [("chr1", 10, 20)])
    d2 = ivals(spark, [("chr1", 12, 18), ("chr1", 25, 30), ("chr1", 0, 5), ("chr1", 40, 45)])
    out = bf.closest(d1, d2, k=2, ignore_overlaps=True)
    got = sorted((r["start_"], r["distance"]) for r in out.collect())
    assert got == [(0, 5), (25, 5)]


def test_closest_self_k2(spark):
    d = ivals(spark, [("chr1", 0, 5), ("chr1", 10, 15), ("chr1", 30, 35)])
    out = bf.closest(d, k=2)
    got = {}
    for r in out.collect():
        got.setdefault(r["start"], []).append((r["start_"], r["distance"]))
    assert sorted(got[0]) == [(10, 5), (30, 25)]
    assert sorted(got[10]) == [(0, 5), (30, 15)]
    assert sorted(got[30]) == [(0, 25), (10, 15)]


def test_closest_strand_k2_directional(spark):
    d1 = ivals(spark, [("chr1", 50, 60, "-")], extra=[("strand", "string")])
    d2 = ivals(spark, [("chr1", 0, 10), ("chr1", 20, 30), ("chr1", 70, 80), ("chr1", 90, 100)])
    # '-' strand: upstream = right side
    up = bf.closest(d1, d2, k=2, ignore_downstream=True, direction_col="strand")
    got = sorted((r["start_"], r["distance"]) for r in up.collect())
    assert got == [(70, 10), (90, 30)]
    dn = bf.closest(d1, d2, k=2, ignore_upstream=True, direction_col="strand")
    got2 = sorted((r["start_"], r["distance"]) for r in dn.collect())
    assert got2 == [(0, 40), (20, 20)]


def test_closest_fewer_than_k(spark):
    d1 = ivals(spark, [("chr1", 10, 20)])
    d2 = ivals(spark, [("chr1", 30, 40)])
    out = bf.closest(d1, d2, k=5)
    assert out.count() == 1  # only one candidate exists, no padding rows


def test_closest_within_matches_closest(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    mk = lambda n, seed: [(f"chr{i%2}", int(s), int(s) + int(l))
                          for i, (s, l) in enumerate(zip(
                              np.random.default_rng(seed).integers(0, 500, n),
                              np.random.default_rng(seed + 1).integers(1, 20, n)))]
    d1 = ivals(spark, mk(40, 1))
    d2 = ivals(spark, mk(30, 5))
    capped = bf.closest_within(d1, d2, max_dist=100, k=1)
    full = bf.closest(d1, d2, k=1).filter("distance <= 100")
    key = lambda df: sorted(
        (r["chrom"], r["start"], r["end"], r["start_"], r["end_"], r["distance"])
        for r in df.collect()
    )
    assert key(capped) == key(full)


def test_closest_within_cap_excludes(spark):
    d1 = ivals(spark, [("chr1", 0, 5)])
    d2 = ivals(spark, [("chr1", 50, 60)])
    assert bf.closest_within(d1, d2, max_dist=10).count() == 0
    assert bf.closest_within(d1, d2, max_dist=45).count() == 1


# --- self-mode positional-identity regressions -------------------------------
# Self-exclusion in the kernel is positional; Spark's two cogroup shuffles may
# deliver the same rows in DIFFERENT orders, so the body must canonicalize
# both tables before excluding (reference passes one shared array instead).

def test_kernel_self_mode_misaligned_arrival_order():
    import numpy as np
    import pyarrow as pa

    from bioframe_spark.core.arrops import closest_kernel
    from bioframe_spark.operators.closest import _ClosestBody

    # the kernel excludes a row's own position, nothing else
    s, e = np.array([5, 100, 0]), np.array([15, 110, 10])
    i1, i2, dist = closest_kernel(s, e, s, e, self_mode=True)
    assert sorted(zip(i1, i2, dist)) == [(0, 2, 0), (1, 0, 85), (2, 0, 0)]

    rows = [("chr1", 0, 10, "a"), ("chr1", 5, 15, "b"), ("chr1", 100, 110, "c")]

    def table(order):
        return pa.table({c: [rows[i][j] for i in order]
                         for j, c in enumerate(["chrom", "start", "end",
                                                "name"])})

    body = _ClosestBody(cols1=None, cols2=None, suffixes=("", "_"), k=1,
                        ignore_overlaps=False, ignore_upstream=False,
                        ignore_downstream=False, direction_col=None,
                        tie_breaking_col=None, return_overlap=False,
                        return_distance=True, self_mode=True)
    # adversarial: the two cogroup sides arrive in different orders
    out = body(table([1, 2, 0]), table([2, 0, 1]))
    got = set(zip(out["name"].to_pylist(), out["name_"].to_pylist(),
                  out["distance"].to_pylist()))
    assert got == {("a", "b", 0), ("b", "a", 0), ("c", "b", 85)}


def test_kernel_self_mode_exact_duplicates():
    import numpy as np

    from bioframe_spark.core.arrops import closest_kernel

    # fully identical rows are interchangeable: each is the other's
    # distance-0 closest (reference self-closest keeps exact dups)
    s, e = np.array([0, 0]), np.array([5, 5])
    i1, i2, dist = closest_kernel(s, e, s, e, k=1, self_mode=True)
    assert sorted(zip(i1, i2)) == [(0, 1), (1, 0)]
    assert all(d == 0 for d in dist)


def test_closest_self_shuffled_partitions(spark):
    d = ivals(spark, [("chr1", 5, 15), ("chr1", 100, 110), ("chr1", 0, 10),
                      ("chr2", 3, 4), ("chr2", 50, 60)]).repartition(7)
    out = bf.closest(d, k=1)
    got = sorted((r["chrom"], r["start"], r["start_"], r["distance"])
                 for r in out.collect())
    assert got == [("chr1", 0, 5, 0), ("chr1", 5, 0, 0), ("chr1", 100, 5, 85),
                   ("chr2", 3, 50, 46), ("chr2", 50, 3, 46)]


def test_closest_zero_length_at_start_no_duplicate(spark):
    # a zero-length df2 interval exactly at start1 reaches the candidate set
    # via BOTH the overlap path and the left-neighbor path; the global pair
    # dedup must collapse it even with another candidate sorted in between
    d1 = ivals(spark, [("chr1", 10, 20)])
    d2 = ivals(spark, [("chr1", 10, 10), ("chr1", 12, 18)])
    out = bf.closest(d1, d2, k=3).collect()
    got = sorted((r["start_"], r["end_"], r["distance"]) for r in out)
    assert got == [(10, 10, 0), (12, 18, 0)]


# --- binned (cap-escalation) strategy equivalence ----------------------------

def _canon(df):
    cols = [c for c in ("chrom", "start", "end", "strand",
                        "chrom_", "start_", "end_", "strand_", "distance")
            if c in df.columns]
    return sorted(
        tuple(r[c] for c in cols) for r in df.select(*cols).collect()
    )


def _rand_ivals(spark, n, seed, span=2000, strand=False):
    import numpy as np

    rs = np.random.default_rng(seed).integers(0, span, n)
    rl = np.random.default_rng(seed + 1).integers(1, 30, n)
    rows = [
        (f"chr{i % 3}", int(s), int(s) + int(l))
        + (("+" if i % 2 else "-",) if strand else ())
        for i, (s, l) in enumerate(zip(rs, rl))
    ]
    extra = [("strand", "string")] if strand else None
    return ivals(spark, rows, extra=extra)


def test_closest_binned_matches_cogroup(spark):
    d1 = _rand_ivals(spark, 60, 11)
    d2 = _rand_ivals(spark, 45, 23)
    for k in (1, 3):
        a = bf.closest(d1, d2, k=k, strategy="cogroup")
        b = bf.closest(d1, d2, k=k, strategy="binned")
        assert _canon(a) == _canon(b), f"k={k}"


def test_closest_binned_left_semantics(spark):
    # chr9 exists only in df1: binned must left-complete with a null row
    d1 = ivals(spark, [("chr1", 0, 5), ("chr9", 100, 110)])
    d2 = ivals(spark, [("chr1", 50, 60)])
    a = bf.closest(d1, d2, strategy="cogroup")
    b = bf.closest(d1, d2, strategy="binned")
    assert _canon(a) == _canon(b)
    assert b.filter("chrom = 'chr9' AND chrom_ IS NULL").count() == 1


def test_closest_binned_flags_match(spark):
    d1 = _rand_ivals(spark, 40, 31, strand=True)
    d2 = _rand_ivals(spark, 30, 47)
    for kw in (
        dict(ignore_overlaps=True),
        dict(ignore_upstream=True),
        dict(ignore_downstream=True),
        dict(ignore_upstream=True, direction_col="strand"),
    ):
        a = bf.closest(d1, d2, k=2, strategy="cogroup", **kw)
        b = bf.closest(d1, d2, k=2, strategy="binned", **kw)
        assert _canon(a) == _canon(b), kw


def test_closest_binned_tie_breaking_and_overlap_cols(spark):
    d1 = ivals(spark, [("chr1", 10, 20)])
    d2 = ivals(spark, [("chr1", 30, 40, 5.0), ("chr1", 30, 41, 1.0)],
               extra=[("w", "double")])
    a = bf.closest(d1, d2, tie_breaking_col="w", strategy="binned").first()
    assert a["w_"] == 1.0
    b = bf.closest(d1, d2, return_overlap=True, strategy="binned").first()
    assert b["have_overlap"] is False
    ov = bf.closest(ivals(spark, [("chr1", 25, 35)]), d2,
                    return_overlap=True, strategy="binned").first()
    assert ov["have_overlap"] is True and ov["overlap_start"] == 30


def test_closest_binned_rejects_self_mode(spark):
    import pytest

    d1 = ivals(spark, [("chr1", 0, 5)])
    with pytest.raises(ValueError, match="binned"):
        bf.closest(d1, strategy="binned")


def test_closest_binned_escalation_covers_far_neighbors(spark):
    # neighbor farther than the initial cap (bound//1024 ≥ 1024): forces at
    # least one ladder escalation before completion
    d1 = ivals(spark, [("chr1", 0, 10)])
    d2 = ivals(spark, [("chr1", 3_000_000, 3_000_010)])
    got = bf.closest(d1, d2, strategy="binned").first()
    assert got["distance"] == 3_000_000 - 10


def test_closest_binned_releases_ladder_persists(spark):
    # every rung persist (df2, each round's found rows, the last
    # remaining set) rides on the result: once the result is
    # materialized and dropped, the session CacheManager is empty again
    import gc

    spark.catalog.clearCache()
    a = [("chr%d" % (i % 3), 37 * i, 37 * i + 20) for i in range(3000)]
    b = [("chr%d" % (i % 3), 371 * i + 5, 371 * i + 40) for i in range(300)]
    out = bf.closest(ivals(spark, a), ivals(spark, b), strategy="binned")
    assert len(out.collect()) == 3000
    del out
    gc.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# --- one body, four strategies ------------------------------------------------

M = (1 << 63) - 1
NULL_ROWS1 = [
    ("chr1", 50, 60, "+", "tie"),  # null-tie df2 row at the same distance
    ("chr2", 50, 60, None, "nullstrand"),  # a null strand reads as '+'
    ("chr1", None, 4, "+", "nullstart"),
    ("chr1", 3, None, "+", "nullend"),
    (None, 1, 2, "+", "nullchrom"),
    ("chr3", M, M, "+", "ptmax"),
    ("chr3", 8, 8, "-", "pt"),
]
NULL_ROWS2 = [
    ("chr1", 30, 40, None, "n1"), ("chr1", 70, 80, 1.0, "s1"),
    ("chr1", None, 45, 0.0, "nullstart2"),
    ("chr2", 30, 40, 2.0, "a2"), ("chr2", 75, 80, 2.0, "b2"),
    ("chr3", 10, 20, 0.5, "c3"), ("chr3", M, M, 0.5, "pt3"),
]


@pytest.fixture(scope="module")
def null_frames(spark, tmp_path_factory):
    """df1 read from parquet (its size is known, so ``auto`` finishes on
    the driver) mixing null chrom/start/end rows with a point at
    INT64_MAX in one column; df2 with a null tie value and a null
    start."""
    from bioframe_spark.core.construction import local_df

    p = str(tmp_path_factory.mktemp("closest_nulls") / "df1")
    local_df(NULL_ROWS1, "chrom string, start long, end long, "
                         "strand string, name string").write.parquet(p)
    df2 = local_df(NULL_ROWS2, "chrom string, start long, end long, "
                               "score double, name string")
    return spark.read.parquet(p), df2


@pytest.mark.parametrize("k", [1, 2])
@pytest.mark.parametrize("opts", [
    dict(tie_breaking_col="score"),
    dict(direction_col="strand", ignore_upstream=True),
], ids=["null_tie", "null_strand"])
def test_closest_strategies_agree_on_nulls(null_frames, k, opts):
    """auto (driver path), cogroup, broadcast and binned return the same
    rows: a df1 row with a null chrom, start or end gets the left-join
    null row, a null tie value ranks last, and a null strand reads as
    '+'."""
    from helpers import rows

    df1, df2 = null_frames
    got = {s: rows(bf.closest(df1, df2, k=k, suffixes=("", "_b"),
                              return_overlap=True, strategy=s, **opts))
           for s in ("auto", "cogroup", "broadcast", "binned")}
    for s in ("cogroup", "broadcast", "binned"):
        assert got[s] == got["auto"], s
    out, cols = got["auto"]
    by_name = {}
    for r in out:
        by_name.setdefault(r[cols.index("name")], []).append(
            (r[cols.index("name_b")], r[cols.index("distance")]))
    for name in ("nullstart", "nullend", "nullchrom"):
        assert by_name[name] == [(None, None)]
    if "tie_breaking_col" in opts and k == 1:
        assert by_name["tie"] == [("s1", 10)]
    if "direction_col" in opts:
        assert by_name["nullstrand"] == [("b2", 15)]


def test_closest_self_list_payload_partition_independent(spark):
    """Self-mode with coordinate duplicates and a list-typed payload
    (which cannot be sorted natively): the canonical order still makes
    the output independent of how the rows are partitioned, and a point
    excluded as its own neighbour still leaves k neighbours."""
    from helpers import rows

    df = spark.createDataFrame(
        [("chr1", 0, 10, [1, 2]), ("chr1", 0, 10, [3]),
         ("chr1", 0, 10, [1, 2]), ("chr1", 20, 30, None),
         ("chr2", 5, 5, [7]), ("chr2", 5, 5, [8]), ("chr2", 9, 12, [])],
        "chrom string, start long, end long, tags array<int>")
    a = rows(bf.closest(df.repartition(3), k=2))
    b = rows(bf.closest(df.repartition(5, "tags"), k=2))
    assert a == b
    assert len(a[0]) == 14  # every row has two neighbours
