"""The tiny-input path: operators whose inputs fit ``ops._TINY_INPUT_BYTES``
finish on the driver and hand back an Arrow-built LocalRelation, with no
Python-worker stage at execution time.

Every case compares the tiny path against the same call forced onto the
distributed path (the gate lowered below any size, or ``local=False`` for
merge). Inputs are ``local_df``- or parquet-built: a list-built
``createDataFrame`` frame has no size estimate and never reaches the path.
"""

import pytest
from helpers import rows

import bioframe_spark as bf
from bioframe_spark.core.construction import local_df
from bioframe_spark.operators import ops

M = (1 << 63) - 1
SCH = "chrom string, start long, end long, name string"
PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                "BatchEvalPython")

A = [
    ("chr1", 1, 5, "a"), ("chr1", 3, 8, "b"), ("chr1", 10, 10, "pt"),
    ("chr1", 4, 4, "pt2"), ("chr1", 20, 30, "far"),
    ("chr2", 0, M, "big"), ("chr2", M, M, "ptmax"), ("chr2", 7, M, "tail"),
    ("chr1", None, 4, "nullstart"), (None, 1, 2, "nullchrom"),
    ("chr3", 5, 9, None),
]
B = [
    ("chr1", 2, 4, "x"), ("chr1", 10, 10, "y"), ("chr1", 9, 12, "y"),
    ("chr2", 5, M, "z"), ("chr2", M, M, "x"), ("chr3", 0, 1, None),
    ("chr1", None, 3, "x"),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(df):
    assert df._jdf.queryExecution().optimizedPlan().getClass() \
        .getSimpleName() == "LocalRelation"
    plan = _plan(df)
    assert not any(n in plan for n in PYTHON_NODES), plan


@pytest.fixture
def distributed(monkeypatch):
    """Run a call with the tiny gate closed."""
    def run(fn):
        with monkeypatch.context() as m:
            m.setattr(ops, "_TINY_INPUT_BYTES", -1)
            return fn()
    return run


@pytest.fixture(scope="module")
def a(spark):
    return local_df(A, SCH)


@pytest.fixture(scope="module")
def b(spark):
    return local_df(B, SCH)


def _same(fn, distributed, python_node=None):
    """fn() takes the tiny path, matches the distributed path, and the
    distributed plan runs ``python_node`` (when the kernel has one)."""
    tiny = fn()
    _assert_local(tiny)
    dist = distributed(fn)
    if python_node:
        assert python_node in _plan(dist)
    assert rows(tiny) == rows(dist)
    return tiny


def test_merge(a):
    coords = a.select("chrom", "start", "end")
    tiny = ops.merge(coords)
    _assert_local(tiny)
    assert rows(tiny) == rows(ops.merge(coords, local=False))


@pytest.mark.parametrize("min_dist", [0, 3, None])
def test_merge_on_and_int_chrom(spark, min_dist):
    df = local_df([(1, 0, 5, "p"), (1, 4, 9, "p"), (1, 4, 9, "q"),
                   (2, 3, 3, "p"), (2, 3, 3, "p"), (2, M, M, "p"),
                   (None, 1, 2, "p"), (1, 2, 3, None)],
                  "chrom long, start long, end long, g string")
    tiny = ops.merge(df, min_dist=min_dist, on=["g"])
    _assert_local(tiny)
    assert rows(tiny) == rows(ops.merge(df, min_dist=min_dist, on=["g"],
                                        local=False))


def test_coverage(a, b, distributed):
    _same(lambda: ops.coverage(a, b.select("chrom", "start", "end")),
          distributed, "ArrowEvalPython")
    out = _same(lambda: ops.coverage(a, b.select("chrom", "start", "end"),
                                     return_input=False),
                distributed, "ArrowEvalPython")
    assert out.columns == ["coverage"]


def test_count_overlaps(a, b, distributed):
    _same(lambda: ops.count_overlaps(a, b), distributed, "ArrowEvalPython")
    _same(lambda: ops.count_overlaps(a, b, on=["name"]), distributed,
          "ArrowEvalPython")


def test_assign_view(a, distributed):
    view = local_df([("chr1", 0, 6, "p"), ("chr1", 6, 100, "q"),
                     ("chr2", 0, M, "w")], SCH)
    _same(lambda: ops.assign_view(a, view), distributed, "ArrowEvalPython")
    _same(lambda: ops.assign_view(a, view, drop_unassigned=True),
          distributed, "ArrowEvalPython")


def test_closest_with_nulls(a, b, distributed):
    # null coordinates away from INT64_MAX
    small = "start < 100 or start is null"
    _same(lambda: bf.closest(a.filter(small), b.filter(small), k=2,
                             suffixes=("", "_b"), return_overlap=True),
          distributed, "MapInArrow")


def test_closest_int64_max(a, b, distributed):
    nn = "start is not null and end is not null"
    _same(lambda: bf.closest(a.filter(nn), b.filter(nn),
                             suffixes=("", "_b")),
          distributed, "MapInArrow")


def test_closest_nulls_and_int64_max(a, b, distributed):
    # null coordinates next to INT64_MAX in one column: both paths keep
    # the int64 values exact
    _same(lambda: bf.closest(a, b, k=2, suffixes=("", "_b"),
                             return_overlap=True),
          distributed, "MapInArrow")


def test_int_chrom_all_operators(spark, distributed):
    sch = "chrom long, start long, end long"
    x = local_df([(1, 0, 10), (1, 5, 5), (2, 3, 9), (10, 1, 4)], sch)
    y = local_df([(1, 2, 6), (2, 8, 20), (10, 0, 2), (3, 0, 9)], sch)
    _same(lambda: ops.coverage(x, y), distributed, "ArrowEvalPython")
    _same(lambda: ops.count_overlaps(x, y), distributed, "ArrowEvalPython")
    _same(lambda: bf.closest(x, y, suffixes=("", "_y")), distributed,
          "MapInArrow")


def test_empty_df1(a, b, distributed):
    e = a.filter("start > 1000000000000000000000")
    _same(lambda: ops.coverage(e, b.select("chrom", "start", "end")),
          distributed)
    _same(lambda: ops.count_overlaps(e, b), distributed)
    _same(lambda: bf.closest(e, b.filter("start < 100"),
                             suffixes=("", "_b")), distributed)
    tiny = ops.merge(e.select("chrom", "start", "end"))
    _assert_local(tiny)
    assert tiny.count() == 0


def test_parquet_input(spark, tmp_path, b, distributed):
    local_df(A, SCH).write.parquet(str(tmp_path / "a"))
    pa_ = spark.read.parquet(str(tmp_path / "a"))
    _same(lambda: ops.coverage(pa_, b.select("chrom", "start", "end")),
          distributed, "ArrowEvalPython")


def test_inverted_rows_fall_through(a, b):
    inv = local_df([("chr1", 9, 2, "inv")], SCH)
    out = ops.coverage(a, b.select("chrom", "start", "end").unionByName(
        inv.select("chrom", "start", "end")))
    assert "Join" in _plan(out)


def test_explicit_strategy_keeps_its_construction(a, b):
    assert "MapInArrow" in _plan(bf.closest(
        a.filter("start < 100"), b.filter("start < 100"),
        strategy="broadcast"))


def test_over_gate_and_unknown_size_keep_python_stage(spark, b):
    unknown = spark.createDataFrame(A, SCH)
    assert not ops._tiny(unknown)
    out = ops.coverage(unknown, b.select("chrom", "start", "end"))
    assert "ArrowEvalPython" in _plan(out)


def test_streaming_never_tiny(spark):
    stream = spark.readStream.format("rate").load()
    assert not ops._tiny(stream)


def test_malformed_knob_raises(spark, a, b):
    # only an unset knob reads as its default; a typo must not silently
    # fall back to it
    spark.conf.set("spark.bioframe.smallInputMaxRows", "2M")
    try:
        with pytest.raises(ValueError, match="smallInputMaxRows.*2M"):
            ops.coverage(a, b.select("chrom", "start", "end"))
    finally:
        spark.conf.unset("spark.bioframe.smallInputMaxRows")


def test_row_cap_falls_through(spark, a, b):
    # df1's 11 rows exceed a lowered cap that df2's 7 rows fit under
    cov = lambda: ops.coverage(a, b.select("chrom", "start", "end"))
    spark.conf.set("spark.bioframe.smallInputMaxRows", "8")
    try:
        out = cov()
    finally:
        spark.conf.unset("spark.bioframe.smallInputMaxRows")
    assert "ArrowEvalPython" in _plan(out)
    assert rows(out) == rows(cov())
