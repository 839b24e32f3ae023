"""Interval-relational operators on Spark DataFrames.

Spark-first re-expression of the reference operator set
(``/root/reference/src/bioframe/ops.py``, 1901 LoC). Every operator is a
pure function DataFrame → DataFrame, lazy until an action; Catalyst owns
planning (join strategy, pushdown, AQE). Design notes per operator cite the
reference ``file:line`` whose *semantics* (not code) are reproduced.

Key physical choices:

- ``overlap`` is an equi-join on (chrom, *on) with the range predicate as a
  join condition. Catalyst executes SMJ / broadcast-hash on the equi keys.
  For large×large joins with long chromosomes a *binned* strategy is
  available: both sides explode intervals over fixed-size genomic bins,
  join on (chrom, bin) + exact predicate, and keep each pair exactly once
  (at the smallest shared bin) — turning a per-chrom cartesian into a
  bounded-fanout equi-join that parallelizes within a chromosome.
- ``merge``/``cluster``/``complement`` are gaps-and-islands window
  aggregations (running max + cumulative sum), i.e. one shuffle by
  (chrom, *on) then map-side work.
- ``closest`` (``operators/closest.py``; no native as-of join in OSS
  Spark) runs one Arrow body around a vectorized sort+searchsorted
  kernel: over a collected small df2 as a ``mapInArrow`` over df1,
  cogrouped per chromosome (``applyInArrow``), or on the driver; large
  inputs take a binned cap-escalation ladder.
- Python kernels take and return Arrow (``mapInArrow``, ``arrow_udf``,
  or the driver's ``_bounded_arrow`` table) and group rows with
  ``arrops.group_rows``, so int64 columns holding nulls never pass
  through pandas' float64.
- Tiny inputs (``_tiny``: plan size at most ``_TINY_INPUT_BYTES``) finish
  on the driver under ``strategy="auto"``: one bounded Arrow collect per
  side, the operator's NumPy kernel, and an Arrow-built LocalRelation
  hand-back (``construction.local_df``), so no Python-worker stage,
  shuffle or per-chromosome product runs at execution time. This covers
  ``merge`` (under its own 32 MB ``local`` gate), the ``coverage``,
  ``count_overlaps`` and ``assign_view`` kernels and broadcast
  ``closest``. ``overlap`` keeps its join: its driver path did not pay
  end to end (SCALING §17).
"""

from __future__ import annotations

INT64_MAX = (1 << 63) - 1

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..core import construction
from ..core.arrops import group_rows, island_sweep, key_tuples
from ..core.persist import owns, persist
from ..core.specs import _resolve_cols, _verify_columns
from ..core.stringops import parse_region
from ..functions.intervals import (
    effective_end,
    natsort_key,
    overlap_predicate,
    region_select_predicate,
)

__all__ = [
    "select",
    "expand",
    "overlap",
    "cluster",
    "merge",
    "coverage",
    "closest",
    "subtract",
    "setdiff",
    "count_overlaps",
    "trim",
    "complement",
    "sort_bedframe",
    "assign_view",
    "pileup",
]


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

def _suffixed(df: DataFrame, suffix: str) -> DataFrame:
    """Rename every column with *suffix* appended."""
    if suffix == "":
        return df
    return df.select([F.col(c).alias(c + suffix) for c in df.columns])


def _with_rid(df: DataFrame, ck: str, sk: str, ek: str, rid: str = "__rid") -> DataFrame:
    """Attach a deterministic per-row id (struct of chrom + in-chrom rank).

    Spark rows have no identity (the reference leans on the pandas integer
    index, e.g. ``ops.py:464-478``); a row id is required by every operator
    that groups join results back to left rows. Partitioned by chrom so the
    window shuffle co-locates with the subsequent join/groupBy on chrom.
    """
    order = [c for c in (sk, ek) if c in df.columns] or [df.columns[0]]
    w = Window.partitionBy(ck).orderBy(*[F.col(c).asc_nulls_last() for c in order])
    return df.withColumn(rid, F.struct(F.col(ck).alias("c"), F.row_number().over(w).alias("r")))


def _with_global_rid(df: DataFrame, ck: str, sk: str, ek: str, rid: str) -> DataFrame:
    """Attach a dense global LONG row id ordered by (chrom, start, end).

    Scalable two-phase ranking: per-chrom row_number (one window, shuffled
    by chrom) + per-chrom offsets from a tiny broadcast counts table —
    avoids a single-partition global window.
    """
    w = Window.partitionBy(ck).orderBy(F.col(sk).asc_nulls_last(), F.col(ek).asc_nulls_last())
    local = df.withColumn("__lrn", F.row_number().over(w))
    counts = df.groupBy(ck).count()
    wofs = Window.orderBy(F.col(ck).asc_nulls_last()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        F.col(ck).alias("__ck"),
        F.coalesce(F.sum("count").over(wofs), F.lit(0)).alias("__ofs"),
    )
    out = local.join(
        F.broadcast(offsets), local[ck].eqNullSafe(offsets["__ck"]), "left"
    ).withColumn(rid, (F.col("__ofs") + F.col("__lrn") - 1).cast("long"))
    return out.drop("__ck", "__ofs", "__lrn")


def _join_type(how: str) -> str:
    m = {"inner": "inner", "left": "left_outer", "right": "right_outer", "outer": "full_outer"}
    if how not in m:
        raise ValueError(f"how must be one of {list(m)}, got {how!r}")
    return m[how]


_SMALL_INPUT_BYTES = 32 << 20  # scan-size bound under which derived frames
# (merged intervals, complements) are safely broadcastable and per-row-id
# machinery costs more than it saves

_BROADCAST_BYTES = 1 << 20  # only truly tiny sides take the plain path:
# a broadcast-hash join on a ~25-key chrom column still scans the full
# per-chromosome product row-by-row — the shuffle is not the cost, the
# predicate evaluations are


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the frame (file-size based for scans)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 60  # unknown → assume large (prefer the scalable path)


_TINY_INPUT_BYTES = 1 << 20  # at or below this scan size an operator runs
# whole on the driver and hands back a LocalRelation: a Python-worker
# stage (Arrow UDF, mapInArrow) costs ~250-300 ms fixed per call on a
# 4-core host, the NumPy kernel a few ms. Not a knob: a LocalRelation of
# ~120k rows costs ~440 ms to scan, so local execution loses well below
# the broadcast sizes clusters raise the other gates to (SCALING §17)


def _tiny(df: DataFrame) -> bool:
    """df is small enough to finish on the driver (``_TINY_INPUT_BYTES``).
    Unknown sizes read as 1<<60, so they never qualify; streaming frames
    cannot be collected."""
    return not df.isStreaming and _plan_size_bytes(df) <= _TINY_INPUT_BYTES


def _atomic(df: DataFrame, c: str) -> bool:
    """Column ``c`` holds hashable scalars: the driver and map-side
    kernels can group by it and key a lookup with it (array/map/struct/
    binary values cannot)."""
    return not dict(df.dtypes)[c].startswith(
        ("array", "map", "struct", "binary"))


def _spread_if_underpartitioned(df: DataFrame) -> DataFrame:
    """Broadcast-kernel / map-only-projection parallelism IS the scan's:
    a small cached or single-row-group input arrives as ONE partition and
    serializes the whole kernel onto one core (measured: closest's
    broadcast path at 14.6 s single-task vs ~1 s spread on a 1-partition
    cached df1). Round-robin ONLY when the scan is under-split — a
    well-split 100 TB scan keeps its partitioning and this is a no-op.
    Streaming frames pass through (micro-batch parallelism is the
    source's concern). NOTE: apply BEFORE attaching kernel columns —
    deterministic filters on derived columns can be pushed below the
    repartition and re-serialize the work onto the scan task."""
    if df.isStreaming:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _threshold(df: DataFrame, key: str, default: int) -> int:
    """Deployment knob: ``spark.bioframe.<key>`` (an integer) overrides a
    built-in strategy threshold — lets a cluster tune the plain/binned
    and classic/ranged cutovers without code changes. Unset reads as
    ``default``; a value that is not an integer raises, so a mistyped
    knob cannot silently do nothing."""
    v = df.sparkSession.conf.get("spark.bioframe." + key, None)
    if v is None:
        return default
    try:
        return int(v)
    except ValueError:
        raise ValueError(
            f"spark.bioframe.{key} must be an integer, got {v!r}") from None


class _BinStats(tuple):
    """(lo, hi, auto_bin) — unpacks like the bare 3-tuple hint — plus the
    sizing fields the outer-path choice needs (row counts, mean/max
    lengths per side). Hints passed as plain tuples leave the extras None
    (sizing unknown)."""

    n1 = n2 = len1 = len2 = max1 = max2 = None

    def __new__(cls, lo, hi, bin_size, n1=None, n2=None,
                len1=None, len2=None, max1=None, max2=None):
        self = super().__new__(cls, (lo, hi, bin_size))
        self.n1, self.n2 = n1, n2
        self.len1, self.len2 = len1, len2
        self.max1, self.max2 = max1, max2
        return self


def _bin_stats(df1, sk1, ek1, df2, sk2, ek2) -> tuple:
    """(lo, hi, auto_bin): global coordinate span across both sides and an
    auto bin width — wide enough that interval duplication stays ~1×
    (≥16× the typical length, via the cheap-to-aggregate mean), narrow
    enough to split a chromosome into thousands of join keys. One tiny
    column-pruned agg job per side.

    The span also CLIPS intervals before binning: an overlap can only occur
    inside both spans, so binning the clipped interval is lossless — and it
    protects against unbounded sentinels (end = INT64_MAX would otherwise
    explode into 10^15 bins). Mean length (not max) drives the width so one
    whole-chromosome outlier can't force a single giant bin; long outliers
    just duplicate into more bins, which stays cheap.

    ``hi`` must be the max EFFECTIVE (point-rewritten) end, not the raw
    max: a zero-length interval AT the raw max end reaches raw_hi+1 under
    the overlap predicate, but its first bin floor(hi/bin) can sit past a
    partner clipped to raw_hi (when hi lands on a bin boundary), silently
    dropping a true pair — caught by hypothesis differential fuzz.
    """
    def side(df, sk, ek):
        return df.select(
            F.col(sk).alias("__s"),
            F.least(effective_end(F.col(sk), F.col(ek)),
                    F.lit(INT64_MAX)).alias("__e"),
        )

    # one job for both sides (union + grouping key), not two
    u = side(df1, sk1, ek1).withColumn("__side", F.lit(1)).unionByName(
        side(df2, sk2, ek2).withColumn("__side", F.lit(2))
    )
    rows = {
        r["__side"]: r
        for r in u.groupBy("__side").agg(
            F.min("__s").alias("lo"), F.max("__e").alias("hi"),
            F.avg(F.col("__e") - F.col("__s")).alias("len"),
            F.max(F.col("__e") - F.col("__s")).alias("maxlen"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
    }
    if 1 not in rows or 2 not in rows or rows[1]["lo"] is None or rows[2]["lo"] is None:
        return _BinStats(0, 1, 10_000_000)
    lo1, hi1, len1 = rows[1]["lo"], rows[1]["hi"], rows[1]["len"]
    lo2, hi2, len2 = rows[2]["lo"], rows[2]["hi"], rows[2]["len"]
    lo = min(lo1, lo2)
    hi = min(max(hi1, hi2), INT64_MAX)
    # a negative lo with a sentinel hi makes hi - lo exceed int64 (a
    # Python int py4j cannot ship as a long literal) — the span only
    # sizes bins and clips coordinates, so clamping it keeps every
    # downstream literal in range
    span = min(max(hi - lo, 1), INT64_MAX)
    avg_len = min(max(len1 or 1.0, len2 or 1.0), float(span))
    bin_size = int(min(max(avg_len * 16, span / 4096, 1024), span))
    return _BinStats(lo, hi, bin_size, n1=rows[1]["n"], n2=rows[2]["n"],
                     len1=len1, len2=len2,
                     max1=rows[1]["maxlen"], max2=rows[2]["maxlen"])


def _choose_strategy(df1, df2, strategy: str) -> str:
    """'auto': plain while either side is broadcast-small (Catalyst will
    broadcast; the range predicate filters a small product), else binned —
    a chrom-equi join between two big sides degrades to a per-chromosome
    cartesian with a post-filter, which is quadratic in rows-per-chrom."""
    if strategy != "auto":
        return strategy
    bar = _threshold(df1, "broadcastBytes", _BROADCAST_BYTES)
    if min(_plan_size_bytes(df1), _plan_size_bytes(df2)) <= bar:
        return "plain"
    return "binned"


# --------------------------------------------------------------------------
# select / expand — pure filter & projection (no shuffle)
# --------------------------------------------------------------------------

def select(df: DataFrame, region, cols=None) -> DataFrame:
    """Rows overlapping one query range (reference ``ops.py:29-147``).

    A pure filter: with parquet sources Catalyst pushes the predicate to the
    scan (min/max row-group pruning; partition pruning when the table is
    partitioned by chrom).
    """
    ck, sk, ek = _resolve_cols(cols)
    _verify_columns(df, [ck, sk, ek], "select")
    chrom, start, end = parse_region(region)
    return df.filter(
        region_select_predicate(F.col(ck), F.col(sk), F.col(ek), chrom, start, end)
    )


def select_mask(df: DataFrame, region, cols=None, mask_col: str = "mask") -> DataFrame:
    """df + boolean column marking rows overlapping the region.

    DEVIATION (documented, intentional): the reference returns a
    POSITIONAL boolean numpy array aligned to the input frame's row
    order (``ops.py:29-67``); Spark rows have no stable positions, so
    this returns the input WITH a boolean ``mask_col`` instead — same
    information, row-aligned by construction rather than by index. Do
    NOT collect this expecting the reference's array: Spark output
    order is undefined. For the reference's positional semantics use
    :func:`select_mask_positional` — ``(index, mask)`` rows over the
    canonical (chrom, start, end) order or any caller-supplied stable
    index column — or :func:`select_indices` (dense canonical-order ids
    of the matching rows)."""
    ck, sk, ek = _resolve_cols(cols)
    chrom, start, end = parse_region(region)
    return df.withColumn(
        mask_col,
        F.coalesce(
            region_select_predicate(F.col(ck), F.col(sk), F.col(ek), chrom, start, end),
            F.lit(False),
        ),
    )


def select_mask_positional(df: DataFrame, region, cols=None,
                           index_col: str | None = None) -> DataFrame:
    """The reference's POSITIONAL boolean mask (``ops.py:29-67``) as rows.

    Returns ``(index, mask)`` — one row per input row, ``mask`` true where
    the interval overlaps ``region``. With ``index_col=None`` the index is
    the dense global id in canonical (chrom, start, end) order (the only
    total order a distributed frame can promise; collecting sorted by
    ``index`` reproduces the reference's array over the canonically-sorted
    input exactly, and ``np.nonzero`` of it equals :func:`select_indices`).
    Pass ``index_col`` naming a stable id column to get positional parity
    for ANY row order the caller has encoded — e.g. a pandas RangeIndex
    carried through ``bf.from_any(pdf.reset_index())``.

    No shuffle when ``index_col`` is given (pure projection); otherwise one
    per-chrom window + broadcast offset join (see ``_with_global_rid``).
    """
    ck, sk, ek = _resolve_cols(cols)
    _verify_columns(df, [ck, sk, ek], "select_mask_positional")
    chrom, start, end = parse_region(region)
    if index_col is None:
        d = _with_global_rid(df, ck, sk, ek, "index")
        index_col = "index"
        index_expr = F.col(index_col).cast("long")
    else:
        _verify_columns(df, [index_col], "select_mask_positional")
        d = df
        # only an integral id column is cast to long; anything else (a
        # string key, a timestamp) is returned AS-IS — an unconditional
        # cast would turn non-numeric ids into all-null indexes under
        # non-ANSI configs (or a runtime error under ANSI), silently
        # losing positional parity
        dt = dict(d.dtypes)[index_col]
        index_expr = (F.col(index_col).cast("long")
                      if dt in ("tinyint", "smallint", "int", "bigint")
                      else F.col(index_col))
    return d.select(
        index_expr.alias("index"),
        F.coalesce(
            region_select_predicate(F.col(ck), F.col(sk), F.col(ek),
                                    chrom, start, end),
            F.lit(False),
        ).alias("mask"),
    )


def select_indices(df: DataFrame, region, cols=None) -> DataFrame:
    """Dense global row ids (by canonical (chrom,start,end) order) of rows
    overlapping the region — the Spark stand-in for ``select_indices``
    (``ops.py:69-90``)."""
    ck, sk, ek = _resolve_cols(cols)
    d = _with_global_rid(df, ck, sk, ek, "index")
    return select(d, region, cols=cols).select("index")


def select_labels(df: DataFrame, region, cols=None,
                  label_col: str | None = None) -> DataFrame:
    """Labels of rows overlapping the region (reference ``ops.py:91-113``).

    The reference returns ``df.index[mask]`` — pandas row labels. Spark
    rows carry no index, so the label is an explicit column: pass
    ``label_col`` to project it from matching rows; with ``label_col=None``
    the canonical dense id doubles as the label (identical to
    ``select_indices``, mirroring a default RangeIndex).
    """
    if label_col is None:
        return select_indices(df, region, cols=cols).withColumnRenamed(
            "index", "label"
        )
    _verify_columns(df, [label_col], "select_labels")
    return select(df, region, cols=cols).select(F.col(label_col).alias("label"))


def expand(df: DataFrame, pad: int | None = None, scale: float | None = None,
           side: str = "both", cols=None) -> DataFrame:
    """Pad/rescale intervals (reference ``ops.py:150-225``). Projection only.

    Negative ``pad`` shrinks but not past the midpoint
    ``start + floor((end-start)/2)``. ``scale`` rescales around the
    midpoint with half-to-even rounding (numpy ``round`` parity → bround).

    Coordinates SATURATE at ±INT64_MAX instead of raising: expanding a
    complement output (sentinel ends at INT64_MAX) is a normal
    composition, and under ANSI mode a raw ``end + pad`` would throw
    ARITHMETIC_OVERFLOW (numpy in the reference silently wraps — worse).
    """
    ck, sk, ek = _resolve_cols(cols)
    _verify_columns(df, [ck, sk, ek], "expand")
    if (pad is None) == (scale is None):
        raise ValueError("exactly one of pad or scale must be supplied")
    if side not in ("both", "left", "right"):
        raise ValueError("side must be 'both', 'left' or 'right'")
    s, e = F.col(sk), F.col(ek)
    if pad is not None:
        if not isinstance(pad, int):
            raise ValueError("additive pad must be integer")
        # null-preserving saturation: the coalesce fallback must fire
        # only on OVERFLOW (try_* null on non-null inputs), never turn a
        # null coordinate into a saturated one (reference passes nulls
        # through untouched)
        new_s = (
            F.when(s.isNull(), s).otherwise(
                F.coalesce(F.try_subtract(s, F.lit(pad)),
                           F.lit(-INT64_MAX)))
            if side in ("both", "left") else s)
        new_e = (
            F.when(e.isNull(), e).otherwise(
                F.coalesce(F.try_add(e, F.lit(pad)), F.lit(INT64_MAX)))
            if side in ("both", "right") else e)
        if pad < 0:
            # negative pad: try_* fallbacks invert (a - (-p) overflows
            # UP, e + (-p) overflows DOWN)
            new_s = (
                F.when(s.isNull(), s).otherwise(
                    F.coalesce(F.try_subtract(s, F.lit(pad)),
                               F.lit(INT64_MAX)))
                if side in ("both", "left") else s)
            new_e = (
                F.when(e.isNull(), e).otherwise(
                    F.coalesce(F.try_add(e, F.lit(pad)),
                               F.lit(-INT64_MAX)))
                if side in ("both", "right") else e)
            # overflow-free exact midpoint floor((s+e)/2): raw (e - s)
            # overflows int64 when a negative-saturated start meets an
            # INT64_MAX sentinel end (ANSI: ARITHMETIC_OVERFLOW). The
            # shift identity floor((a+b)/2) = (a>>1)+(b>>1)+(a&b&1)
            # never leaves int64 and is exact where the old double
            # multiply rounded above 2^53.
            mid = (F.shiftright(s, 1) + F.shiftright(e, 1)
                   + s.bitwiseAND(e).bitwiseAND(F.lit(1)))
            new_s = F.least(new_s, mid)
            new_e = F.greatest(new_e, mid)
        return df.withColumns({sk: new_s, ek: new_e})
    if scale < 0:
        raise ValueError("multiplicative scale must be >=0")
    pads = F.lit(0.5) * F.lit(scale - 1.0) * (e - s).cast("double")
    sat_lo, sat_hi = F.lit(-INT64_MAX), F.lit(INT64_MAX)

    def _sat_cast(x):
        # double -> long saturating: double(INT64_MAX) rounds UP to 2^63,
        # so even the clamp boundary must go through try_cast; nulls
        # stay null (saturate only on genuine overflow)
        return F.when(x.isNull(), F.lit(None).cast("long")).otherwise(
            F.coalesce(x.try_cast("long"),
                       F.when(x > 0, sat_hi).otherwise(sat_lo)))

    new_s = _sat_cast(F.bround(s - pads)) if side in ("both", "left") else s
    new_e = _sat_cast(F.bround(e + pads)) if side in ("both", "right") else e
    return df.withColumns({sk: new_s, ek: new_e})


# --------------------------------------------------------------------------
# overlap — the keystone interval join
# --------------------------------------------------------------------------

def _overlap_condition(ck1, sk1, ek1, ck2, sk2, ek2, on1on2: list) -> Column:
    # plain equality (nulls never match) — eqNullSafe would wrap the join
    # keys in coalesce/isnull and complicate the hash partitioning
    cond = F.col(ck1) == F.col(ck2)
    for a, b in on1on2:
        cond = cond & (F.col(a) == F.col(b))
    cond = cond & overlap_predicate(F.col(sk1), F.col(ek1), F.col(sk2), F.col(ek2))
    return cond


def overlap(
    df1: DataFrame,
    df2: DataFrame,
    how: str = "left",
    return_input: bool = True,
    return_index: bool = False,
    return_overlap: bool = False,
    suffixes: tuple = ("", "_"),
    keep_order: bool | None = None,
    cols1=None,
    cols2=None,
    on: list | None = None,
    ensure_int: bool = True,
    strategy: str = "auto",
    bin_size: int | None = None,
    _bin_hint: tuple | None = None,
) -> DataFrame:
    """Interval join: all pairs of overlapping intervals (reference
    ``ops.py:361-556`` + kernel ``arrops.py:290-412``).

    Declarative plan: ``df1 ⋈ df2 on chrom-equality (+`on` keys) ∧
    s1<e2' ∧ s2<e1'`` with point-rewritten ends. Catalyst picks
    broadcast-hash when a side is small, else sort-merge on the equi keys
    with the range predicate as a join filter.

    strategy='binned' explodes both sides over fixed genomic bins and joins
    on (chrom, bin) — bounds per-task fanout and parallelizes within a
    chromosome; each pair is kept exactly once (at its smallest shared
    bin), so no dedup shuffle is needed. Use for large×large inputs with
    few chromosomes (the 100 TB path). 'auto' = plain (AQE handles skew).

    ``keep_order=True`` (only with ``how='left'``, as in the reference
    ``ops.py:451-454``) sorts the output by df1's canonical
    (chrom,start,end) order — the Spark stand-in for "df1's index order",
    since Spark frames carry no input ordering. Default None = unordered
    output (no sort cost); the reference's default-True-for-left is NOT
    mirrored because an implicit global sort is the wrong default on a
    cluster.

    ``return_index`` adds dense LONG ids ``index``+suffixes ordered by
    (chrom,start,end) — the Spark stand-in for the pandas index.

    ``ensure_int`` is accepted for reference signature parity and is a
    NO-OP by construction (documented deviation): the reference needs it
    because pandas outer joins upcast int coordinates to float64 + NaN
    (``ops.py:414-428``); Spark LONG columns are natively nullable, so
    unmatched outer rows are null longs and the schema never changes.
    """
    ck1, sk1, ek1 = _resolve_cols(cols1)
    ck2, sk2, ek2 = _resolve_cols(cols2)
    _verify_columns(df1, [ck1, sk1, ek1], "overlap df1")
    _verify_columns(df2, [ck2, sk2, ek2], "overlap df2")
    if keep_order and how != "left":
        raise ValueError("keep_order=True only allowed for how='left'")
    on = list(on) if on else []
    for c in on:
        _verify_columns(df1, [c], "overlap on")
        _verify_columns(df2, [c], "overlap on")
    sfx1, sfx2 = suffixes
    jt = _join_type(how)

    d1, d2 = df1, df2
    if return_index:
        d1 = _with_global_rid(d1, ck1, sk1, ek1, "index")
        d2 = _with_global_rid(d2, ck2, sk2, ek2, "index")
    if keep_order:
        d1 = _with_global_rid(d1, ck1, sk1, ek1, "__keep_order")
    L = _suffixed(d1, sfx1)
    R = _suffixed(d2, sfx2)
    if set(L.columns) & set(R.columns):
        raise ValueError(
            f"suffixes {suffixes} leave ambiguous columns: {set(L.columns) & set(R.columns)}"
        )
    c1, s1, e1 = ck1 + sfx1, sk1 + sfx1, ek1 + sfx1
    c2, s2, e2 = ck2 + sfx2, sk2 + sfx2, ek2 + sfx2
    cond = _overlap_condition(c1, s1, e1, c2, s2, e2,
                              [(c + sfx1, c + sfx2) for c in on])

    strategy = _choose_strategy(d1, d2, strategy)
    if strategy == "binned":
        # _bin_hint (lo, hi, bin) lets composite operators (subtract) skip
        # the stats jobs when the inputs' span is already known — avoids
        # re-executing an expensive upstream plan just to measure it
        stats = _bin_hint or _bin_stats(d1, sk1, ek1, d2, sk2, ek2)
        lo, hi, auto_bin = stats
        if bin_size is None:
            bin_size = auto_bin
        joined = _binned_overlap_join(L, R, (c1, s1, e1), (c2, s2, e2),
                                      [(c + sfx1, c + sfx2) for c in on],
                                      jt, bin_size, lo, hi, stats=stats)
    else:
        # plain path = broadcast-hash on the small side; spread the probe
        # ONLY when its scan arrives under-partitioned (e.g. a single
        # row-group parquet would pin the whole join to one task) — a
        # well-split input keeps its partitioning, no extra shuffle
        if _plan_size_bytes(d1) > _BROADCAST_BYTES:
            par = L.sparkSession.sparkContext.defaultParallelism
            if L.rdd.getNumPartitions() < par:
                L = L.repartition(par * 2)
        joined = L.join(R, cond, jt)

    if return_overlap:
        # Spark least/greatest skip nulls — null out unmatched outer rows
        both = F.col(s1).isNotNull() & F.col(s2).isNotNull()
        ov_s = F.when(both, F.greatest(F.col(s1), F.col(s2)))
        ov_e = F.when(both, F.least(F.col(e1), F.col(e2)))
        joined = joined.withColumns(
            {"overlap_" + sk1: ov_s, "overlap_" + ek1: ov_e}
        )
    if keep_order:
        joined = joined.orderBy("__keep_order" + sfx1).drop("__keep_order" + sfx1)
    if not return_input:
        keep = []
        if return_index:
            keep += ["index" + sfx1, "index" + sfx2]
        if return_overlap:
            keep += ["overlap_" + sk1, "overlap_" + ek1]
        joined = joined.select(*keep)
    return joined


def _outer_path(L, jt, stats, bin_size, lo, hi) -> str:
    """'window' or 'anti': how a binned outer join reconstructs its lonely
    rows.

    The single-pass window (r3) is scan/shuffle-minimal — one outer bin
    join, one window exchange — but partitions the join output by the full
    row VALUE, so one hot value (a whole-chromosome interval over a dense
    region) concentrates copies x bins x matches rows into a single window
    task that AQE cannot split. The semi/anti path costs two extra
    column-pruned input passes but never shuffles the fanout-sized join
    output and has no single-task stage (see ``anti_lonely``).

    Auto rule: estimate the worst per-value window partition under uniform
    density — (bins the longest probe row spans) x (mean build rows per
    bin); a row that fully covers a bin overlaps EVERY row binned there,
    so this is a genuine lower bound for long rows — and switch to 'anti'
    above ``spark.bioframe.outerHotRows`` (default 1M; the estimate ran
    ~4x under the measured hot-row partition in tools/skew_bench.py, so
    1M estimated ~ 4M actual ~ tens of seconds of one straggler task).
    Density hotspots are invisible to these global aggregates; clusters
    with known hot regions should set ``spark.bioframe.outerPath=anti``.

    Second term (r9, guide §2.3/§8): even with NO hot value, the window
    path's one exchange carries the full joined OUTPUT (every payload
    column x every pair), while the anti path's two extra passes are
    column-pruned INPUT scans — so past a total-output size the window
    loses outright. Switch to 'anti' when the uniform-density pair
    estimate ``n1*n2*(len1/bin+1)*(len2/bin+1)/n_bins`` exceeds
    ``spark.bioframe.outerPairRows``. The estimate ignores per-chrom
    concentration and runs ~85x above the true pair count on the bench
    corpus — the default bar (2e9 estimator units) is therefore
    calibrated by direct A/B, not taken literally: the replicated-corpus
    ladder (1x/4x/16x, AQE on) measured window faster at 5.6M actual
    pairs (2.88 vs 3.72 s), a wash at ~23M (3.85 vs 3.75), anti faster
    at 90M (10.58 vs 9.07); 2e9 units ~ the wash point, keeping the
    small-scale regime on the measured-faster window path.
    """
    mode = "auto"
    try:
        mode = L.sparkSession.conf.get("spark.bioframe.outerPath", "auto")
    except Exception:
        pass
    if mode in ("window", "anti"):
        return mode
    n1 = getattr(stats, "n1", None)
    if not n1:  # sizing unknown (bare-tuple hint / empty input): status quo
        return "window"
    n_bins = max(1.0, float(hi - lo) / bin_size)
    r_per_bin = stats.n2 * ((stats.len2 or 0.0) / bin_size + 1.0) / n_bins
    l_per_bin = stats.n1 * ((stats.len1 or 0.0) / bin_size + 1.0) / n_bins
    hot = 0.0
    if jt in ("left_outer", "full_outer"):
        hot = max(hot, ((stats.max1 or 0) / bin_size + 1.0) * r_per_bin)
    if jt in ("right_outer", "full_outer"):
        hot = max(hot, ((stats.max2 or 0) / bin_size + 1.0) * l_per_bin)
    bar = _threshold(L, "outerHotRows", 1_000_000)
    if hot > bar:
        return "anti"
    pairs = n_bins * l_per_bin * r_per_bin
    pair_bar = _threshold(L, "outerPairRows", 2_000_000_000)
    return "anti" if pairs > pair_bar else "window"


def with_bin(df: DataFrame, bin_size: int, cols=None,
             hi: int = INT64_MAX) -> DataFrame:
    """Explode an interval table over fixed genomic bins — the PERSISTED
    pre-binned layout for recurring binned joins. Adds ``bin`` (one row
    per bin the interval touches, point intervals via the length-1
    rewrite) and ``first_bin``. Persist it bucketed by the join keys::

        write_bucketed(with_bin(df, 10_000), "t_binned",
                       bucket_cols=("chrom", "bin"),
                       sort_cols=("start", "end"))

    and recurring joins via :func:`overlap_prebinned` run with ZERO
    exchange on either side (bucket-pairwise scans). Both tables MUST
    share the same ``bin_size`` and origin 0 — the kept-once pair rule
    only holds on a common grid. Unlike the internal join (which clips
    to the observed partner span), a stored layout cannot know future
    partners, so ends clip only at ``hi`` (default INT64_MAX): don't
    pre-bin tables carrying unbounded sentinel ends without passing a
    genome-bound ``hi``."""
    ck, sk, ek = _resolve_cols(cols)
    _verify_columns(df, [ck, sk, ek], "with_bin")
    ee = F.least(effective_end(F.col(sk), F.col(ek)), F.lit(hi))
    first = F.floor(F.col(sk) / bin_size)
    last = F.greatest(F.floor((ee - 1) / bin_size), first)
    return (
        df.filter(F.col(ck).isNotNull())
        .withColumn("first_bin", first)
        .withColumn("bin", F.explode(F.sequence(first, last)))
    )


def overlap_prebinned(t1: DataFrame, t2: DataFrame,
                      suffixes: tuple = ("", "_"),
                      cols1=None, cols2=None,
                      on: list | None = None) -> DataFrame:
    """Inner interval join over two :func:`with_bin` tables (same grid).

    The point of the pre-binned layout: when both tables are persisted
    ``bucketBy(N, chrom, bin)`` + ``sortBy(start, end)``, this join
    plans with NO Exchange on either side (plan-asserted in
    tests/test_physical_plans.py) — the explode AND the shuffle of the
    keystone binned join are paid once at write time and amortized over
    every recurring query. Pair semantics are identical to
    ``overlap(..., how='inner', strategy='binned')``: the kept-once rule
    (pair survives only at ``bin == max(first_bin1, first_bin2)``)
    emits each overlapping pair exactly once with no dedup shuffle.
    The shared-grid contract covers ``bin_size``, origin 0, AND the
    ``with_bin`` ``hi`` end-clip: a sentinel-end row clipped at a
    genome bound on one side occupies fewer bins than a partner binned
    with the default unbounded ``hi``, and pairs beyond the tighter
    clip are silently lost — write both tables through
    ``write_prebinned`` with one ``hi``.  Outer variants need the
    un-exploded originals — use ``overlap`` for those."""
    ck1, sk1, ek1 = _resolve_cols(cols1)
    ck2, sk2, ek2 = _resolve_cols(cols2)
    for t, c, s, e in ((t1, ck1, sk1, ek1), (t2, ck2, sk2, ek2)):
        _verify_columns(t, [c, s, e, "bin", "first_bin"], "overlap_prebinned")
    on = list(on) if on else []
    sfx1, sfx2 = suffixes
    L = _suffixed(t1, sfx1)
    R = _suffixed(t2, sfx2)
    if set(L.columns) & set(R.columns):
        raise ValueError(f"suffixes {suffixes} leave ambiguous columns: "
                         f"{set(L.columns) & set(R.columns)}")
    cond = (F.col(ck1 + sfx1) == F.col(ck2 + sfx2)) \
        & (F.col("bin" + sfx1) == F.col("bin" + sfx2))
    for c in on:
        cond = cond & (F.col(c + sfx1) == F.col(c + sfx2))
    cond = cond & overlap_predicate(
        F.col(sk1 + sfx1), F.col(ek1 + sfx1),
        F.col(sk2 + sfx2), F.col(ek2 + sfx2))
    return (
        L.join(R, cond, "inner")
        .filter(F.col("bin" + sfx1) == F.greatest(F.col("first_bin" + sfx1),
                                                  F.col("first_bin" + sfx2)))
        .drop("bin" + sfx1, "bin" + sfx2,
              "first_bin" + sfx1, "first_bin" + sfx2)
    )


def _binned_overlap_join(L, R, lkeys, rkeys, on_pairs, jt, bin_size, lo, hi,
                         stats=None):
    """Binned interval join: explode each interval over the fixed-size bins
    it touches (clipped to the observed global span [lo, hi] — lossless for
    pair generation, bounds the explode), equi-join on (chrom, bin, *on),
    apply the exact predicate, and keep each pair only at
    bin == max(first_bin1, first_bin2) — each pair survives exactly once,
    no dedup shuffle.

    Distributes a single huge chromosome across many tasks; shuffle keys
    gain cardinality chrom×bins. Inner pairs are exact; outer variants
    append their lonely rows via a SEMI-join hit set + full-row-value anti
    join (no row ids, no per-chromosome id window — identical full rows
    are interchangeable, and an anti join keeps each unmatched duplicate
    copy independently). Only frames with unorderable columns (maps can't
    join on a row struct) fall back to minted ``_with_rid`` identities.
    """
    from pyspark.sql import types as _T

    c1, s1, e1 = lkeys
    c2, s2, e2 = rkeys

    def binned(df, c, s, e):
        ee = effective_end(F.col(s), F.col(e))
        s_clip = F.greatest(F.col(s), F.lit(lo))
        e_clip = F.least(ee, F.lit(hi))
        first = F.floor(s_clip / bin_size)
        last = F.greatest(F.floor((e_clip - 1) / bin_size), first)
        # drop rows with ANY null coordinate: a null chrom/start/end can
        # never match (overlap predicate is null), and a null start/end
        # would explode(sequence(null,..)) to zero rows anyway — filter
        # explicitly so the outer window paths and the null-row appends
        # below partition the input exactly (no silently-vanishing rows)
        return (
            df.filter(F.col(c).isNotNull() & F.col(s).isNotNull()
                      & F.col(e).isNotNull())
            .withColumn("__first_bin", first)
            .withColumn("__bin", F.explode(F.sequence(first, last)))
        )

    def null_rows(df, c, s, e):
        # rows the binned frames exclude; outer joins retain them with
        # null partner columns (the engine's "null rows never match"
        # rule), the same way the plain and semi/anti paths do
        return df.filter(F.col(c).isNull() | F.col(s).isNull()
                         | F.col(e).isNull())

    def orderable(df):
        return not any(isinstance(f.dataType, _T.MapType) for f in df.schema.fields)

    # ids only when an outer side needs reconstruction AND its rows can't
    # serve as their own identity (unorderable columns)
    Lr, Rr = L, R
    lrow_ok = orderable(L)
    rrow_ok = orderable(R)
    if jt in ("left_outer", "full_outer") and not lrow_ok:
        Lr = _with_rid(L, c1, s1, e1, "__rid1")
    if jt in ("right_outer", "full_outer") and not rrow_ok:
        Rr = _with_rid(R, c2, s2, e2, "__rid2")
    lb = binned(Lr, c1, s1, e1).withColumnRenamed("__first_bin", "__fb1")
    rb = (
        binned(Rr, c2, s2, e2)
        .withColumnRenamed("__first_bin", "__fb2")
        .withColumnRenamed("__bin", "__bin2")
    )
    # Force a shuffle join on (chrom, bin): both sides exchange on the join
    # keys — full cluster spread (defeats the single-task pin of
    # single-row-group scans), and AQE's skew-join splitting applies. A
    # broadcast here would keep the whole per-pair workload on the probe
    # side's (possibly single) scan tasks. The explicit numPartitions
    # matters: join-product CPU cost is invisible to AQE's byte-size
    # advisory, so a bare hint would let AQE coalesce small-bytes/
    # high-fanout inputs back onto few tasks — a REPARTITION_BY_NUM
    # exchange is exempt from coalescing, and the SMJ's matched partition
    # counts keep the other side at the same parallelism.
    n_part = L.sparkSession.sparkContext.defaultParallelism * 2
    lb = lb.repartition(n_part, F.col(c1), F.col("__bin")).hint("shuffle_merge")
    cond = (F.col(c1) == F.col(c2)) & (F.col("__bin") == F.col("__bin2"))
    for a, b in on_pairs:
        cond = cond & (F.col(a) == F.col(b))
    cond = cond & overlap_predicate(F.col(s1), F.col(e1), F.col(s2), F.col(e2))

    path = "window"
    if jt != "inner":
        path = _outer_path(L, jt, stats, bin_size, lo, hi)

    if path == "window" and jt == "left_outer" and lrow_ok:
        # SINGLE-PASS left join: run the bin join LEFT OUTER once; one
        # whole-partition window keyed by the left row VALUE tells every
        # row whether its value matched anywhere; the filter keeps matched
        # pairs (kept-once bin rule) and, for never-matched values, one
        # row per duplicate copy (its first-bin row, right side already
        # null from the outer join). ONE consumer of the join subtree —
        # no re-execution. Hot-value concentration is the documented
        # trade; _outer_path switches to the anti path when the estimate
        # crosses spark.bioframe.outerHotRows.
        j = lb.join(rb, cond, "left_outer")
        w_val = Window.partitionBy(*[F.col(c) for c in L.columns])
        hit = F.col(c2).isNotNull()
        out = (
            j.withColumn("__any", F.max(hit.cast("int")).over(w_val) == 1)
            .filter(
                (hit & (F.col("__bin") == F.greatest(F.col("__fb1"),
                                                     F.col("__fb2"))))
                | (~F.col("__any") & (F.col("__bin") == F.col("__fb1")))
            )
            .drop("__bin", "__bin2", "__fb1", "__fb2", "__any")
        )
        nulls = null_rows(L, c1, s1, e1)
        for c in R.columns:
            nulls = nulls.withColumn(c, F.lit(None).cast(R.schema[c].dataType))
        return out.unionByName(nulls, allowMissingColumns=True)

    if path == "window" and jt == "right_outer" and rrow_ok:
        # mirror of the single-pass left join above
        j = lb.join(rb, cond, "right_outer")
        w_val = Window.partitionBy(*[F.col(c) for c in R.columns])
        hit = F.col(c1).isNotNull()
        out = (
            j.withColumn("__any", F.max(hit.cast("int")).over(w_val) == 1)
            .filter(
                (hit & (F.col("__bin") == F.greatest(F.col("__fb1"),
                                                     F.col("__fb2"))))
                | (~F.col("__any") & (F.col("__bin2") == F.col("__fb2")))
            )
            .drop("__bin", "__bin2", "__fb1", "__fb2", "__any")
        )
        nulls = null_rows(R, c2, s2, e2)
        for c in L.columns:
            nulls = nulls.withColumn(c, F.lit(None).cast(L.schema[c].dataType))
        return out.unionByName(nulls, allowMissingColumns=True)

    if path == "window" and jt == "full_outer" and lrow_ok and rrow_ok:
        # both reconstructions from ONE full-outer bin join: two chained
        # whole-partition windows (one per side's row value). The window
        # keys are SALTED for rows whose flag is never consulted: every
        # unmatched right-only row has all L columns null, so an unsalted
        # w_l funnels the entire right-only output through ONE all-null
        # window partition (and w_r symmetrically) — for largely-disjoint
        # inputs that is most of the data on a single task. Rows with a
        # genuine left value keep a constant salt (their __anyl is real);
        # null-left rows spread by the hash of the right row, and their
        # __anyl is garbage that the filter never reads (the lonely-left
        # term requires hitL).
        j = lb.join(rb, cond, "full_outer")
        hitL = F.col(c1).isNotNull()
        hitR = F.col(c2).isNotNull()
        pair_hit = hitL & hitR
        salt_l = F.when(hitL, F.lit(0)).otherwise(
            F.xxhash64(*[F.col(c) for c in R.columns]))
        salt_r = F.when(hitR, F.lit(0)).otherwise(
            F.xxhash64(*[F.col(c) for c in L.columns]))
        w_l = Window.partitionBy(salt_l, *[F.col(c) for c in L.columns])
        w_r = Window.partitionBy(salt_r, *[F.col(c) for c in R.columns])
        out = (
            j.withColumn("__anyl", F.max(pair_hit.cast("int")).over(w_l) == 1)
            .withColumn("__anyr", F.max(pair_hit.cast("int")).over(w_r) == 1)
            .filter(
                (pair_hit & (F.col("__bin") == F.greatest(F.col("__fb1"),
                                                          F.col("__fb2"))))
                | (hitL & ~hitR & ~F.col("__anyl")
                   & (F.col("__bin") == F.col("__fb1")))
                | (hitR & ~hitL & ~F.col("__anyr")
                   & (F.col("__bin2") == F.col("__fb2")))
            )
            .drop("__bin", "__bin2", "__fb1", "__fb2", "__anyl", "__anyr")
        )
        nl = null_rows(L, c1, s1, e1)
        for c in R.columns:
            nl = nl.withColumn(c, F.lit(None).cast(R.schema[c].dataType))
        nr = null_rows(R, c2, s2, e2)
        for c in L.columns:
            nr = nr.withColumn(c, F.lit(None).cast(L.schema[c].dataType))
        return (out.unionByName(nl, allowMissingColumns=True)
                .unionByName(nr, allowMissingColumns=True))

    pairs = (
        lb.join(rb, cond, "inner")
        .filter(F.col("__bin") == F.greatest(F.col("__fb1"), F.col("__fb2")))
        .drop("__bin", "__bin2", "__fb1", "__fb2")
    )
    if jt == "inner":
        return pairs

    def anti_lonely(side_df, side_cols, probe, build, key_col, row_ok):
        """Rows of side_df whose value overlaps nothing on the other side.

        The hit set comes from a SEMI join of the binned frames — not from
        the pair output and not from a whole-partition window:

        * r2 anti-joined against ``pairs``, and Catalyst re-executed the
          whole keystone join per consumer (no exchange reuse across the
          union branches) — 2x the binned join at scale.
        * r3 derived loneliness with ``max(hit) over
          Window.partitionBy(*side_cols)`` on a single outer bin join —
          one consumer, but every join-output row of one hot value
          (copies x bins x matches) funnels through ONE window task that
          AQE cannot split, and the full_outer variant sent every
          unmatched opposite-side row (all side_cols null) into a single
          all-null partition.  It also re-shuffled the entire fanout-sized
          join output by row value just to tag it.

        A left_semi of the binned probe against the binned build emits at
        most |probe| rows (no pair fanout; SMJ semi stops at the first
        match per row).  Its exchanges do NOT canonicalize equal to the
        pair join's (different pruned schemas — measured, see
        tests/test_plan_budgets.py), so the pass costs two extra
        column-pruned input scans and exchanges per outer side; the win
        is that they are input-bounded and narrow, never touching the
        fanout-sized pair output.  The anti join on the full row value
        (null-safe struct comparison; duplicates on the build side are
        harmless to anti semantics so no distinct) is a plain equi join:
        hash-spread, AQE-skew-splittable, and it keeps each never-matched
        duplicate copy independently plus the null-chrom rows (a null
        field never equals a hit value) with no separate isNull scan.
        """
        if row_ok:
            hitvals = probe.join(build, cond, "left_semi").select(
                F.struct(*[F.col(c) for c in side_cols]).alias("__mrow"))
            return side_df.join(
                hitvals,
                F.struct(*[F.col(c) for c in side_cols]) == F.col("__mrow"),
                "left_anti",
            )
        hits = probe.join(build, cond, "left_semi").select(key_col)
        return side_df.join(hits, key_col, "left_anti")

    out = pairs
    if jt in ("left_outer", "full_outer"):
        lonely = anti_lonely(Lr if not lrow_ok else L, L.columns,
                             lb, rb, "__rid1", lrow_ok)
        for c in R.columns:
            lonely = lonely.withColumn(c, F.lit(None).cast(R.schema[c].dataType))
        out = out.unionByName(lonely, allowMissingColumns=True)
    if jt in ("right_outer", "full_outer"):
        lonely = anti_lonely(Rr if not rrow_ok else R, R.columns,
                             rb, lb, "__rid2", rrow_ok)
        for c in L.columns:
            lonely = lonely.withColumn(c, F.lit(None).cast(L.schema[c].dataType))
        out = out.unionByName(lonely, allowMissingColumns=True)
    return out.drop("__rid1", "__rid2")


# --------------------------------------------------------------------------
# gaps-and-islands family: cluster / merge
# --------------------------------------------------------------------------

def _expand_point_dups(dd: DataFrame, sk: str, ek: str,
                       min_dist: int | None) -> DataFrame:
    """Repair the one case where the distinct pre-agg is lossy: under
    ``min_dist=None`` duplicate POINT intervals (start == end) are each
    their own island in the reference (the strict border test
    ``start >= running_max`` passes against a twin's own end,
    ``arrops.py:470-471``), so collapsing them to one multiplicity-m row
    would fuse m islands into one. Re-expand those rows to per-copy rows
    with a within-coordinate ordinal ``__dup`` and multiplicity 1.
    Positive-width duplicates strictly overlap their twins and stay
    collapsed; any other ``min_dist`` merges coincident points anyway
    (``s > s + min_dist`` is false), so no expansion (``__dup`` = 0)."""
    if min_dist is not None:
        return dd.withColumn("__dup", F.lit(0))
    arr = F.when(
        F.col(sk) == F.col(ek),
        F.array_repeat(F.lit(1).cast("long"), F.col("__mult").cast("int")),
    ).otherwise(F.array(F.col("__mult")))
    others = [c for c in dd.columns if c != "__mult"]
    return dd.select(
        *others, F.posexplode(arr).alias("__dup", "__m")
    ).withColumnRenamed("__m", "__mult")


def _border(start: Column, prev_max: Column, min_dist) -> Column:
    """The one Spark island-border rule (``arrops.island_sweep`` is its
    NumPy twin): a row opens an island where ``start > prev_max +
    min_dist``, or ``start >= prev_max`` under ``min_dist=None``
    (half-open abutting intervals and coincident points stay separate),
    and always where ``prev_max`` is null (nothing precedes it).
    ``try_add``: a running max at INT64_MAX (sentinel ends) plus
    ``min_dist`` overflows under ANSI; nothing can start beyond it, so
    the overflow reads as no border (coalesce to false)."""
    if min_dist is None:
        border = start >= prev_max
    else:
        border = F.coalesce(start > F.try_add(prev_max, F.lit(min_dist)),
                            F.lit(False))
    return F.when(prev_max.isNull(), F.lit(True)).otherwise(border)


def _distinct_islands(df: DataFrame, ck: str, sk: str, ek: str, on: list,
                      min_dist: int | None) -> DataFrame:
    """Island numbers over DISTINCT (chrom,*on,start,end) intervals with a
    multiplicity column ``__mult`` (semantics of ``arrops.merge_intervals``,
    ``arrops.py:415-479``: sort by (start,end); border where
    start > running_max_end + min_dist; strict ``>=`` when min_dist is None
    — half-open abutting intervals stay separate).

    Deduplicating first makes the window sort a TOTAL order: with duplicate
    rows, the border flag computed in one window pass and summed in another
    can see different tie orders (a real cross-engine/cross-run hazard), and
    it shrinks the window input. Callers re-expand via ``__mult`` or join
    back on the interval key.
    """
    keys = [ck] + on
    if min_dist is not None and min_dist < 0:
        raise ValueError("min_dist>=0 or None required")
    dd = df.groupBy(*keys, sk, ek).agg(F.count(F.lit(1)).alias("__mult"))
    dd = _expand_point_dups(dd, sk, ek, min_dist)
    w = Window.partitionBy(*keys).orderBy(sk, ek, "__dup")
    prev_max_end = F.max(ek).over(w.rowsBetween(Window.unboundedPreceding, -1))
    border = _border(F.col(sk), prev_max_end, min_dist)
    return dd.withColumn(
        "__island",
        F.sum(border.cast("long")).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def _distinct_islands_ranged(df: DataFrame, ck: str, sk: str, ek: str, on: list,
                             min_dist: int | None, range_width: int,
                             weight: str | None = None) -> DataFrame:
    """Gaps-and-islands WITHOUT the per-chromosome window ceiling.

    The classic formulation (``_distinct_islands``) sorts each (chrom,*on)
    group in one window partition — parallelism = number of groups (~25
    for a human genome), a real ceiling at 100 TB. This variant
    range-partitions each chromosome by ``floor(start/range_width)`` and
    repairs the island structure across range boundaries:

    1. per-(keys, range) window: local running max + local border flags —
       parallelism = groups × ranges;
    2. tiny per-range aggregate (max end) → running "carry" M(r) =
       max end over all preceding ranges of the group (a window over the
       small range table, broadcast back);
    3. effective border = local border AND start beyond the carry
       (prev_max' = max(local_prev_max, M), so a border survives iff the
       row clears both) — a carry that bridges a local gap correctly
       fuses islands across the boundary;
    4. global island id = (Σ effective borders in preceding ranges) +
       within-range border cumsum − 1: rows before a range's first
       effective border fall into the previous chain's last island.

    Produces EXACTLY the same (island, mult) assignment as the classic
    window (equivalence-tested on random data incl. duplicates).
    """
    keys = [ck] + on
    if min_dist is not None and min_dist < 0:
        raise ValueError("min_dist>=0 or None required")
    # ``weight``: rows are pre-aggregated islands carrying a count (the
    # pre-merge path) — multiplicity is the SUM of weights, not the row
    # count. Point-dup expansion stays exact: a pre-merged point row
    # always carries weight 1 (under min_dist=None local merging never
    # fuses coincident points, and islands holding >=2 rows have
    # positive width), so __mult still equals the number of copies.
    mult = F.sum(weight) if weight else F.count(F.lit(1))
    # ONE input-sized exchange (SCALING §2, ranged plan shape):
    # repartitioning by (keys, __rng) FIRST satisfies both the dedup
    # aggregate and the windows — hash partitioning on a subset of the
    # grouping columns clusters the dedup groups (__rng is a function
    # of sk, so adding it to the groupBy leaves the groups identical),
    # and the aggregate preserves the partitioning the windows require,
    # so EnsureRequirements inserts only sorts downstream. Trade-off:
    # the raw rows cross the exchange un-deduplicated (no map-side
    # partial aggregation first) — a loss only when within-partition
    # duplicates are heavy, a shape the premerge path collapses first.
    dd = (df.withColumn("__rng", F.floor(F.col(sk) / F.lit(range_width)))
            .repartition(*keys, "__rng")
            .groupBy(*keys, "__rng", sk, ek)
            .agg(mult.cast("long").alias("__mult")))
    dd = _expand_point_dups(dd, sk, ek, min_dist)
    w = Window.partitionBy(*keys, "__rng").orderBy(sk, ek, "__dup")
    local_prev = F.max(ek).over(w.rowsBetween(Window.unboundedPreceding, -1))
    local_border = _border(F.col(sk), local_prev, min_dist)

    # The carry aggregate reads the PRE-dedup input: per-(keys, range)
    # max end is duplicate-invariant, so this branch is a column-pruned
    # scan + partial aggregation of a tiny (keys × ranges) table, never a
    # second execution of the dedup aggregate and its exchange (SCALING
    # §2, ranged plan shape).
    ragg = df.groupBy(
        *keys, F.floor(F.col(sk) / F.lit(range_width)).alias("__rng")
    ).agg(F.max(ek).alias("__rmax"))
    carry = ragg.select(
        *[F.col(k).alias("__c_" + k) for k in keys],
        F.col("__rng").alias("__c_rng"),
        F.max("__rmax").over(
            Window.partitionBy(*[F.col(k) for k in keys]).orderBy("__rng")
            .rowsBetween(Window.unboundedPreceding, -1)
        ).alias("__M"),
    )
    cond = F.col("__rng") == F.col("__c_rng")
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(F.col("__c_" + k))
    dd = dd.join(F.broadcast(carry), cond, "left").drop(
        *["__c_" + k for k in keys], "__c_rng"
    )
    # a null carry (first range of the group) clears by _border's rule
    border_eff = local_border & _border(F.col(sk), F.col("__M"), min_dist)
    dd = dd.withColumn(
        "__b", border_eff.cast("long")
    ).withColumn(
        "__local_isl", F.sum("__b").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn(
        # per-range effective-border count as a WINDOW column over the
        # same (keys, __rng) partitioning — no extra exchange, and the
        # offsets table below derives from the persisted frame instead of
        # replaying the whole subtree as a groupBy branch
        "__k", F.sum("__b").over(w.rowsBetween(Window.unboundedPreceding,
                                               Window.unboundedFollowing))
    )
    # ONE materialization point: the offsets branch and the caller's
    # consumer both read this frame; without it each consumer re-executes
    # scan → dedup agg → exchange → windows (no exchange reuse across the
    # branches — column pruning de-canonicalizes the subtrees). Same
    # persist-the-shared-frame convention as merge()'s premerge path,
    # released by the calling operator's owner (core/persist.py).
    dd = persist(dd)
    # partitioning (keys, __rng) is preserved by the cache, so this
    # aggregate is map-side only (no exchange) over the persisted rows
    kcounts = dd.groupBy(*keys, "__rng").agg(F.max("__k").alias("__k"))
    offsets = kcounts.select(
        *[F.col(k).alias("__o_" + k) for k in keys],
        F.col("__rng").alias("__o_rng"),
        F.coalesce(
            F.sum("__k").over(
                Window.partitionBy(*[F.col(k) for k in keys]).orderBy("__rng")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__ofs"),
    )
    cond = F.col("__rng") == F.col("__o_rng")
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(F.col("__o_" + k))
    dd = dd.join(F.broadcast(offsets), cond, "left").drop(
        *["__o_" + k for k in keys], "__o_rng"
    )
    # 1-based within the group, matching _distinct_islands: rows before a
    # range's first effective border get __ofs = the previous chain's last
    # island number
    dd = dd.withColumn("__island", F.col("__ofs") + F.col("__local_isl"))
    return dd.drop("__rng", "__M", "__b", "__local_isl", "__ofs", "__k")


_RANGED_PILEUP_BYTES = 64 << 20  # pileup's two-phase ranged scan-sum
# overtakes the classic window earlier than merge/cluster (16x-ladder
# measurement: 5.7 s vs 9.0 s at ~144 MB, a wash below ~40 MB)
_RANGED_WINDOW_BYTES = 256 << 20  # above this scan size a per-chromosome
# window partition risks stragglers and task-memory pressure; the
# window-family ops (merge/cluster/complement/pileup) auto-switch to
# their range-partitioned constructions (identical output, parallelism
# groups × ranges) — mirroring closest(strategy='auto')


def _auto_range_width(df: DataFrame, sk: str, ek: str, range_width,
                      default_bytes: int | None = None):
    """Resolve a ``range_width`` parameter: the default ``"auto"`` selects
    the ranged construction by input size with a width splitting the
    coordinate span into ~8 ranges per core; ``None`` forces the classic
    per-group window; an int is explicit. ``default_bytes`` lets an op
    override the shared crossover (measured per-op on the 16x scale
    ladder: pileup's ranged scan-sum wins from ~64 MB, while merge's
    border-row window and cluster's join-back keep the classic path
    ahead to at least 256 MB)."""
    if range_width != "auto":
        return range_width
    if _plan_size_bytes(df) <= _threshold(df, "rangedWindowBytes",
                                          default_bytes
                                          or _RANGED_WINDOW_BYTES):
        return None
    row = df.agg(F.min(sk).alias("lo"), F.max(ek).alias("hi")).collect()[0]
    if row["lo"] is None:
        return None
    span = max(int(min(row["hi"], INT64_MAX)) - int(row["lo"]), 1)
    n = df.sparkSession.sparkContext.defaultParallelism * 8
    return max(span // n, 1024)


def _null_key_rows(df, ck, sk, ek, on):
    keys = [ck, sk, ek] + on
    pred = F.lit(False)
    for c in keys:
        pred = pred | F.col(c).isNull()
    return df.filter(pred), df.filter(~pred)


_CLUSTER_PREMERGE_BYTES = 8 << 20  # cluster's premerge crossover (see
# cluster(); SCALING §9) — its classic construction is ~3x merge's

_PREMERGE_CLASSIC_ROWS = 4_000_000  # after the fuse, if the SHRUNKEN
# row count (known exactly — the fused frame is persisted and counted)
# fits comfortably in per-chromosome window tasks, the classic border
# merge beats the ranged construction (its point-dup expansion + carry
# join are pure overhead on island-bounded data; SCALING §11-r06).
# Above it, merge-UNFRIENDLY data (local fuse shrank nothing) keeps the
# ranged path so no single-chrom window task explodes. Knob:
# spark.bioframe.premergeClassicRows.


def _premerge_local(df: DataFrame, ck: str, sk: str, ek: str, on: list,
                    min_dist) -> DataFrame:
    """MAP-SIDE island collapse: per buffered run of Arrow batches, fuse
    each run of locally-overlapping intervals into one span carrying its
    row count ``__cnt`` (``arrops.island_sweep`` per (chrom, *on) group)
    — no shuffle, pure row reduction before the window/shuffle stages.
    Exactness: fusing rows that WILL share an island is order-independent
    (the union span and count are island invariants), and local borders
    can only under-fuse (cross-partition islands repair downstream),
    never over-fuse. The strict ``min_dist=None`` border (``>=``) is
    applied locally too, so coincident points are never fused and every
    emitted point row has ``__cnt`` 1 (the invariant
    ``_expand_point_dups`` needs).

    Runs as ``mapInArrow``: RecordBatches are buffered up to
    ``premergeBatchRows`` rows, grouped with ``arrops.group_rows`` and
    the output built with ``take``, so no pandas conversion runs.

    Input must be null-free in (chrom, start, end, *on) — callers split
    null rows first — and its key columns atomic (ValueError otherwise).
    Output: (chrom, start, end, *on, __cnt).
    """
    cols_ = [ck, sk, ek] + on
    keys = [ck] + on
    bad = [c for c in keys if not _atomic(df, c)]
    if bad:
        raise ValueError(f"premerge needs atomic key columns; {bad} hold "
                         "array/map/struct/binary values")
    out_schema = T.StructType(
        [df.schema[c] for c in cols_] + [T.StructField("__cnt", T.LongType())]
    )
    # Fuse over BUFFERED batches, not raw Arrow batches: the shrink
    # ratio is set by how many rows share a fuse window, and the default
    # 10k-row Arrow batch caps it far below where it saturates (SCALING
    # §11-r06). Buffering costs O(buffer) task memory (~10 MB at the
    # default) and is batch-boundary-exact: under-fusing across buffer
    # edges repairs downstream, same as across partitions.
    buf_rows = _threshold(df, "premergeBatchRows", 262_144)

    def gen(batches):
        held, held_n = [], 0
        for b in batches:
            if not b.num_rows:
                continue
            held.append(b.select(cols_))
            held_n += b.num_rows
            if held_n >= buf_rows:
                yield from _fuse(pa.Table.from_batches(held)).to_batches()
                held, held_n = [], 0
        if held:
            yield from _fuse(pa.Table.from_batches(held)).to_batches()

    def _fuse(t):
        s_all = t[sk].cast(pa.int64()).to_numpy()
        e_all = t[ek].cast(pa.int64()).to_numpy()
        take, ends, cnts = [], [], []
        for ix in group_rows(t, keys)[1]:
            f, _, e, c = island_sweep(s_all[ix], e_all[ix], min_dist=min_dist)
            take.append(ix[f])
            ends.append(e)
            cnts.append(c)
        out = t.take(pa.array(np.concatenate(take)))
        end = pa.array(np.concatenate(ends)).cast(t.schema.field(ek).type)
        return out.set_column(cols_.index(ek), ek, end).append_column(
            "__cnt", pa.array(np.concatenate(cnts), pa.int64()))

    return df.mapInArrow(gen, out_schema)


def _border_merge_weighted(d: DataFrame, ck: str, sk: str, ek: str,
                           on: list, min_dist, weight: str | None = None
                           ) -> DataFrame:
    """merge's distributed tail on the classic per-(chrom, *on) window:
    union spans + counts straight from the BORDER rows. Null-free input;
    each row stands for ``weight`` intervals (the fused ``__cnt``
    column) or for one (``None``: raw rows).

    One Window operator computes, in a single pass over one sort,
    prev_max (exclusive running max of end), a row number, the
    exclusive weight cumsum and the whole-group max/total; the border
    filter (``_border``) shrinks the stream to one row per island, and a
    second (tiny) window reads each island's end and size from the NEXT
    border via ``lead()``:

    - island end = lead(prev_max): the exclusive running max at the next
      border is the max end over every row before it, which equals THIS
      island's max end (a border implies all earlier ends lie below its
      start, so the prefix max is attained inside the current island);
      last island → group max;
    - island size = lead(cum) - cum: the weight between borders; last
      island → group total - cum.

    No second full-width window pass and no hash aggregation of data
    rows (SCALING §2).

    Tie-safety over raw rows: border flags depend only on coordinates
    (the running max over any permutation of tied rows is identical), so
    island MEMBERSHIP is order-invariant. The second window orders by
    the pass-1 row number — a strict total order — because border rows
    can tie on (start, end) (two identical point intervals under
    ``min_dist=None`` are each a border) and a coordinate re-sort could
    transpose them between the two passes, corrupting lead().
    ``cluster`` needs stable per-row ids and uses ``_distinct_islands``.
    """
    keys = [ck] + on
    wt = F.col(weight) if weight else F.lit(1)
    w = Window.partitionBy(*keys).orderBy(sk, ek)
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    d = d.select(
        ck, sk, ek, *on,
        F.max(ek).over(wprev).alias("__pm"),
        F.row_number().over(w).alias("__rn"),
        F.coalesce(F.sum(wt).over(wprev), F.lit(0)).alias("__ce"),
        F.max(ek).over(wfull).alias("__gmax"),
        F.sum(wt).over(wfull).alias("__gtot"),
    )
    d = d.filter(_border(F.col(sk), F.col("__pm"), min_dist))
    w2 = Window.partitionBy(*keys).orderBy("__rn")
    return d.select(
        ck, sk,
        F.coalesce(F.lead("__pm").over(w2), F.col("__gmax")).alias(ek),
        *on,
        (F.coalesce(F.lead("__ce").over(w2), F.col("__gtot"))
         - F.col("__ce")).cast("long").alias("n_intervals"),
    )


def _merge_local(df: DataFrame, ck, sk, ek, on, min_dist):
    """Driver-side merge kernel for SMALL inputs — the broadcast-kernel
    philosophy applied to merge itself: a frame under the collect caps
    does not deserve a distributed plan (shuffle + two window stages
    cost ~3x the reference's single numpy sweep; this path is one
    hard-bounded Arrow collect + the sweep — see ``_bounded_arrow``).
    The islands are built as Arrow columns (``take`` of each island's
    first row) and hand back as a LocalRelation
    (``construction.local_df``): no Python-worker stage runs later.

    Exactness: collection goes through Arrow (``toArrow``), so int64
    coordinates — including INT64_MAX sentinels from complement outputs
    — never round-trip through float64, and each (chrom, *on) group runs
    ``arrops.island_sweep``, whose border rule is the distributed
    ``_border`` bit for bit. Null-key rows pass through untouched with
    null ``n_intervals``. Returns None when the input exceeds
    ``spark.bioframe.smallInputMaxRows`` (callers fall back to the
    distributed constructions)."""
    cap = _threshold(df, "smallInputMaxRows", _SMALL_INPUT_MAX_ROWS)
    cols = [ck, sk, ek, *on]
    tbl = _bounded_arrow(df.select(*cols), cap)
    if tbl is None:
        return None
    valid = np.ones(tbl.num_rows, dtype=bool)
    for c in cols:
        valid &= tbl[c].is_valid().to_numpy(zero_copy_only=False)
    s_all = tbl[sk].cast(pa.int64()).fill_null(0).to_numpy()
    e_all = tbl[ek].cast(pa.int64()).fill_null(0).to_numpy()
    vpos = np.flatnonzero(valid)
    # per island: the table row of its first interval (chrom, start and
    # the on keys come from that row), its end and its interval count
    first = [np.zeros(0, dtype=np.int64)]
    ends = [np.zeros(0, dtype=np.int64)]
    cnts = [np.zeros(0, dtype=np.int64)]
    for ix in group_rows(tbl.take(pa.array(vpos)), [ck] + on)[1]:
        rows = vpos[ix]
        f, _, e, c = island_sweep(s_all[rows], e_all[rows], min_dist=min_dist)
        first.append(rows[f])
        ends.append(e)
        cnts.append(c)
    nulls = np.flatnonzero(~valid)
    out = tbl.take(pa.array(np.concatenate(first + [nulls])))
    end_col = pa.concat_arrays([
        pa.array(np.concatenate(ends)).cast(tbl.schema.field(ek).type),
        tbl[ek].take(pa.array(nulls)).combine_chunks()])
    out = out.set_column(cols.index(ek), ek, end_col).append_column(
        "n_intervals", pa.concat_arrays([
            pa.array(np.concatenate(cnts), pa.int64()),
            pa.nulls(len(nulls), pa.int64())]))
    schema = T.StructType(
        [df.schema[c] for c in cols]
        + [T.StructField("n_intervals", T.LongType(), True)]
    )
    return construction.local_df(out, schema)


@owns
def merge(df: DataFrame, min_dist: int | None = 0, cols=None,
          on: list | None = None, range_width="auto",
          premerge="auto", local="auto") -> DataFrame:
    """Collapse overlapping/nearby intervals into union spans + count
    (reference ``ops.py:711-839``).

    Rows with null chrom/start/end/on pass through untouched with null
    ``n_intervals`` (reference ``ops.py:812-831``).

    Small inputs take the driver kernel; every other input runs ONE
    distributed tail: null-key rows split off, the valid rows — raw
    (weight 1) or map-side fused (weight ``__cnt``) — go through the
    classic border-row window (``_border_merge_weighted``) or the
    range-partitioned islands (``_distinct_islands_ranged``), and the
    null rows union back. Value-identical on every path
    (equivalence-tested, INT64_MAX ends and point duplicates included).

    ``local``: driver-side numpy kernel (``_merge_local``) for inputs
    whose plan size is at most ``spark.bioframe.smallInputBytes``
    (32 MB), with a hard row cap on the collect: one bounded Arrow
    collect + the sweep instead of a shuffle and two window stages.
    NOTE it makes plan construction EAGER for gated inputs (same
    contract as the coverage/count_overlaps broadcast kernels); falls
    back transparently over the caps.

    ``premerge``: MAP-SIDE local island collapse (``_premerge_local``)
    before any shuffle — shrinks shuffle volume by the local merge
    factor (often 10-100× on merge-friendly genomic data) at the price
    of one Arrow round trip over the input. Default ``"auto"`` turns it
    on above the same ``smallInputBytes`` bar (the measured wash,
    SCALING §11-r06) when the key columns are atomic; ``True`` with
    array/map/struct/binary keys raises ValueError. The fused frame
    feeding the ranged construction is persisted and counted; under
    ``spark.bioframe.premergeClassicRows`` (4M) the classic border
    merge finishes it instead (the ranged machinery is overhead on
    island-bounded data).

    ``range_width``: the range-partitioned islands construction —
    identical results, parallelism groups×ranges instead of
    per-chromosome, for massive few-chromosome inputs. Default
    ``"auto"`` selects it by input size; ``None`` forces the classic
    window; an int is explicit.
    """
    ck, sk, ek = _resolve_cols(cols)
    _verify_columns(df, [ck, sk, ek], "merge")
    on = list(on) if on else []
    if min_dist is not None and min_dist < 0:
        raise ValueError("min_dist>=0 or None required")
    atomic = all(_atomic(df, c) for c in [ck] + on)
    small = _plan_size_bytes(df) <= _threshold(df, "smallInputBytes",
                                               _SMALL_INPUT_BYTES)
    if local == "auto":
        # an EXPLICIT range_width / premerge is a request for that
        # distributed construction (benchmarks and plan tests rely on
        # it) — auto-local only competes with the auto-chosen paths
        local = (range_width == "auto" and premerge == "auto"
                 and atomic and small)
    if local:
        # small-input driver kernel (see _merge_local) — None = over the
        # row cap, fall through to the distributed constructions
        out = _merge_local(df, ck, sk, ek, on, min_dist)
        if out is not None:
            return out
    if premerge == "auto":
        premerge = atomic and not small
    range_width_auto = range_width == "auto"
    range_width = _auto_range_width(df, sk, ek, range_width)
    nulls, valid = _null_key_rows(df, ck, sk, ek, on)
    rows, weight = valid.select(ck, sk, ek, *on), None
    if premerge:
        rows = _premerge_local(rows, ck, sk, ek, on, min_dist)
        weight = "__cnt"
        if range_width is not None:
            # the ranged-islands plan consumes the fused rows in TWO
            # branches (the per-range window and the carry aggregate);
            # the persist keeps the Arrow fuse to one execution
            # (SCALING §11-r06). The persisted frame is the FUSED rows —
            # small by construction when the fuse pays off.
            rows = persist(rows)
            # adaptive post-fuse construction: the persist makes the
            # SHRUNKEN row count exact and nearly free. NOTE this makes
            # the auto big-input path driver-EAGER (one count job). An
            # EXPLICIT range_width skips the switch (it is a request for
            # the ranged construction; plan tests rely on it).
            if range_width_auto and rows.count() <= _threshold(
                    df, "premergeClassicRows", _PREMERGE_CLASSIC_ROWS):
                range_width = None
    if range_width is None:
        out = _border_merge_weighted(rows, ck, sk, ek, on, min_dist, weight)
    else:
        isl = _distinct_islands_ranged(rows, ck, sk, ek, on, min_dist,
                                       range_width, weight=weight)
        out = isl.groupBy(ck, *on, "__island").agg(
            F.min(sk).alias(sk),
            F.max(ek).alias(ek),
            F.sum("__mult").alias("n_intervals"),
        ).select(ck, sk, ek, *on, "n_intervals")
    return out.unionByName(nulls.select(
        ck, sk, ek, *on, F.lit(None).cast("long").alias("n_intervals")))


def _cluster_islands(df: DataFrame, ck, sk, ek, on, min_dist,
                     range_width: int | None = None):
    """Per-row island + span + globally dense cluster ids.

    Reference cluster ids (``ops.py:631-685``) are dense ints numbered in
    (group-key asc, island-start asc) order. Scalable construction:
    islands over distinct intervals (tie-safe window; range-partitioned
    when ``range_width`` is set) joined back to rows; per-group offsets
    from a tiny aggregated (chrom,*on → n_islands) table (broadcast back)
    — no single-partition pass over data rows."""
    keys = [ck] + on
    if range_width is not None:
        isl_d = _distinct_islands_ranged(df, ck, sk, ek, on, min_dist, range_width)
    else:
        isl_d = _distinct_islands(df, ck, sk, ek, on, min_dist)
    # keep isl_d's consumer count minimal: every consumer re-expands the
    # whole distinct-islands subtree in the physical plan (no exchange
    # reuse), i.e. another scan + shuffle of the input at scale. Two
    # consumers remain: the per-row island join below (unavoidable) and
    # this tiny per-group aggregate; cluster SPANS are computed by a
    # window over the joined rows instead of a third spans-join branch.
    counts = isl_d.groupBy(*keys).agg(F.max("__island").alias("__n"))
    wofs = Window.orderBy(*[F.col(k).asc() for k in keys]).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        *[F.col(k).alias("__k_" + k) for k in keys],
        F.coalesce(F.sum("__n").over(wofs), F.lit(0)).alias("__ofs"),
    )
    if min_dist is None:
        # point-duplicate rows were re-expanded in the islands table
        # (``_expand_point_dups``) — match original copies to island
        # copies 1:1 by a within-coordinate ordinal, otherwise the
        # coordinate join would fan out m originals × m islands
        wdup = Window.partitionBy(*keys, sk, ek).orderBy(F.lit(1))
        dfd = df.withColumn(
            "__dup",
            F.when(F.col(sk) == F.col(ek),
                   F.row_number().over(wdup) - 1).otherwise(F.lit(0)),
        )
        rows = dfd.join(
            isl_d.select(*keys, sk, ek, "__dup", "__island"),
            [*keys, sk, ek, "__dup"],
        ).drop("__dup")
    else:
        rows = df.join(isl_d.select(*keys, sk, ek, "__island"), [*keys, sk, ek])
    # cluster span via a window over the joined rows: min start / max end
    # over an island's rows equals the span over its distinct intervals,
    # and the (keys, __island) partitioning is high-cardinality (one
    # group per island) — parallel, no per-chromosome ceiling
    wspan = Window.partitionBy(*keys, "__island").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    rows = rows.withColumn("cluster_start", F.min(sk).over(wspan)) \
               .withColumn("cluster_end", F.max(ek).over(wspan))
    cond = F.lit(True)
    for k in keys:
        cond = cond & rows[k].eqNullSafe(offsets["__k_" + k])
    out = rows.join(F.broadcast(offsets), cond, "left")
    out = out.withColumn("cluster", (F.col("__ofs") + F.col("__island") - 1).cast("long"))
    # total island count (for numbering null singletons after the real
    # clusters) from the tiny counts aggregate — deriving it from the
    # joined per-row result would re-expand the whole plan again
    totals = counts.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("__base"))
    out = out.drop(*["__k_" + k for k in keys], "__ofs")
    return out, totals


def _cluster_premerged(df: DataFrame, ck, sk, ek, on, min_dist):
    """Map-side pre-shrunk cluster assignment (the ``merge`` premerge
    move, adapted to cluster's per-row-id requirement).

    1. ``_premerge_local``: per-Arrow-batch island collapse — a map-only
       row reduction (often 10-100x on merge-friendly genomic data)
       before anything shuffles.
    2. ``_border_merge_weighted`` over the shrunken rows: the global
       island SPANS (small — one row per cluster).
    3. The spans table is collected as Arrow (hard row cap; over the
       cap returns None and the caller falls back), sorted driver-side
       in (group-keys asc, start asc) order on the native key types —
       exactly the classic path's dense numbering — and broadcast as
       per-key sorted arrays.
    4. A vectorized searchsorted Arrow UDF assigns (cluster,
       cluster_start, cluster_end) per input row: under ``min_dist >= 0``
       island spans within a group are strictly separated, so the owning
       cluster is uniquely ``#(starts <= row_start) - 1``. The input
       never shuffles — parallelism is scan partitions, the same shape
       as the coverage/count_overlaps broadcast kernels.

    Requires ``min_dist is not None``: under ``None`` duplicate POINT
    intervals are each their own island with IDENTICAL spans
    (reference ``arrops.py:470-471``), which containment cannot
    distinguish — callers keep the classic/ranged construction there.
    Input must be null-free in (chrom, start, end, *on).

    Returns (assigned DataFrame with df's columns + cluster_start,
    cluster_end, cluster; total number of real clusters) or None.
    """
    assert min_dist is not None
    keys = [ck] + on
    # both map passes (premerge shrink, kernel assignment) inherit scan
    # parallelism — spread a 1-partition cached/small input first
    df = _spread_if_underpartitioned(df)
    pm = _premerge_local(df.select(ck, sk, ek, *on), ck, sk, ek, on, min_dist)
    spans = _border_merge_weighted(pm, ck, sk, ek, on, min_dist)
    cap = _threshold(df, "smallInputMaxRows", _SMALL_INPUT_MAX_ROWS)
    # native key copies drive the ordering (string-cast ordering would
    # misnumber int-coded chroms: "10" < "2"); string casts drive the
    # lookup so the kernel's Arrow-side keys compare exactly (same
    # discipline as _small_coords / _with_kernel_column)
    sel = ([F.col(ck).alias("__nat0")]
           + [F.col(c).alias(f"__nat{i+1}") for i, c in enumerate(on)]
           + [F.col(ck).cast("string").alias("c")]
           + [F.col(c).cast("string").alias(f"o{i}") for i, c in enumerate(on)]
           + [F.col(sk).cast("long").alias("s"),
              F.col(ek).cast("long").alias("e")])
    # probe=False: the spans are a two-window aggregate that a count
    # probe would run twice; the maxResultSize backstop and the post-hoc
    # row check still bound the collect (see _bounded_pdf)
    cl = _bounded_arrow(spans.select(*sel), cap, probe=False)
    if cl is None:
        return None
    cl = cl.sort_by([(f"__nat{i}", "ascending") for i in range(len(keys))]
                    + [("s", "ascending")])
    keycols = ["c"] + [f"o{i}" for i in range(len(on))]
    s_all, e_all = cl["s"].to_numpy(), cl["e"].to_numpy()
    kt, groups = group_rows(cl, keycols)
    per = {key: (s_all[ix], e_all[ix], ix)
           for key, ix in zip(key_tuples(kt), groups)}
    bc = df.sparkSession.sparkContext.broadcast(per)

    ret = T.StructType([
        T.StructField("cluster", T.LongType()),
        T.StructField("cluster_start", T.LongType()),
        T.StructField("cluster_end", T.LongType()),
    ])

    @F.arrow_udf(ret)
    def _asg(*args):
        *kargs, s = args
        tbl = bc.value
        n = len(s)
        out_id = np.full(n, -1, dtype="int64")
        out_s = np.zeros(n, dtype="int64")
        out_e = np.zeros(n, dtype="int64")
        sv = s.to_numpy()
        kt, groups = group_rows(pa.table(dict(zip(keycols, kargs))),
                                keycols)
        for key, idx in zip(key_tuples(kt), groups):
            # every valid input row premerged into some island, so a
            # miss means a dtype/lookup bug — fail the task loudly
            S, E, I = tbl[key]
            pos = np.searchsorted(S, sv[idx], side="right") - 1
            if (pos < 0).any():
                raise RuntimeError("cluster premerge kernel: row before "
                                   "first island (lookup invariant broken)")
            out_id[idx] = I[pos]
            out_s[idx] = S[pos]
            out_e[idx] = E[pos]
        return pa.StructArray.from_arrays(
            [pa.array(out_id), pa.array(out_s), pa.array(out_e)],
            names=["cluster", "cluster_start", "cluster_end"])

    st, et = df.schema[sk].dataType, df.schema[ek].dataType
    # classic path's equi-join reorders output to (keys, start, end, rest);
    # match it so both constructions are drop-in interchangeable
    rest = [c for c in df.columns if c not in set(keys + [sk, ek])]
    assigned = df.withColumn("__cl", _asg(
        F.col(ck).cast("string"),
        *[F.col(c).cast("string") for c in on],
        F.col(sk).cast("long"),
    )).select(
        *keys, sk, ek, *rest,
        F.col("__cl.cluster_start").cast(st).alias("cluster_start"),
        F.col("__cl.cluster_end").cast(et).alias("cluster_end"),
        F.col("__cl.cluster").alias("cluster"),
    )
    return assigned, len(cl)


@owns
def cluster(df: DataFrame, min_dist: int | None = 0, cols=None,
            on: list | None = None, return_input: bool = True,
            return_cluster_ids: bool = True,
            return_cluster_intervals: bool = True,
            range_width="auto", premerge="auto") -> DataFrame:
    """Tag each interval with a dense cluster id + cluster span
    (reference ``ops.py:559-708``).

    Null-key rows become singleton clusters numbered after all real
    clusters (``ops.py:676-685``). ``range_width`` selects the
    range-partitioned islands construction (identical ids, parallelism
    groups×ranges — see ``_distinct_islands_ranged``); default ``"auto"``
    picks it by input size, ``None`` forces the classic window.

    ``premerge``: the map-side pre-shrink (``_cluster_premerged``) —
    local island collapse before any shuffle, global spans from the
    shrunken rows, per-row ids via a broadcast searchsorted kernel (the
    input rows themselves never shuffle). Identical ids and spans to
    the classic construction. Default ``"auto"`` engages it above
    ``spark.bioframe.clusterPremergeBytes`` (8 MB — cluster's classic
    path is ~3x merge's, so its crossover sits below merge's 32 MB)
    when ``min_dist`` is not None and the key columns are atomic
    (``True`` with array/map/struct/binary keys raises ValueError); it
    falls back transparently if the cluster count exceeds
    ``spark.bioframe.smallInputMaxRows``.
    """
    ck, sk, ek = _resolve_cols(cols)
    _verify_columns(df, [ck, sk, ek], "cluster")
    on = list(on) if on else []
    if premerge == "auto":
        # cluster's classic path pays distinct-islands + join-back + a
        # spans window, so the premerge shrink + map-only kernel pays
        # from far lower sizes than merge's fuse (crossovers: SCALING
        # §9). Own knob: spark.bioframe.clusterPremergeBytes.
        premerge = (min_dist is not None
                    and all(_atomic(df, c) for c in [ck] + on)
                    and _plan_size_bytes(df) > _threshold(
                        df, "clusterPremergeBytes", _CLUSTER_PREMERGE_BYTES))
    elif premerge and min_dist is None:
        raise ValueError(
            "premerge=True requires min_dist is not None (duplicate point "
            "intervals are each their own island under min_dist=None, "
            "which span containment cannot distinguish)")
    nulls, valid = _null_key_rows(df, ck, sk, ek, on)
    clustered = totals = None
    if premerge:
        if min_dist < 0:
            raise ValueError("min_dist>=0 or None required")
        res = _cluster_premerged(valid, ck, sk, ek, on, min_dist)
        if res is not None:
            clustered, n_real = res
            totals = df.sparkSession.range(1).select(
                F.lit(n_real).cast("long").alias("__base"))
    if clustered is None:
        range_width = _auto_range_width(df, sk, ek, range_width)
        clustered, totals = _cluster_islands(valid, ck, sk, ek, on, min_dist,
                                             range_width=range_width)
        clustered = clustered.drop("__island")
    # null rows: singleton clusters numbered after the real ones; the
    # base comes from the aggregated island counts, NOT from
    # max(cluster) over the per-row result — that aggregate would
    # re-execute the full islands+joins subtree a second time.
    # BOUNDED single-partition sort (documented): the global orderBy
    # window below sees ONLY null-triple rows, whose ids must be dense,
    # deterministic, and oracle-reproducible (ordered by all columns
    # after the real clusters). Under the bedframe null rule these rows
    # are rare annotations, so the one-task sort is O(nulls), not
    # O(table); an adversarial mostly-null input serializes here —
    # filter null triples out first if that is your data shape.
    n_real = F.broadcast(totals)
    wn = Window.orderBy(*[F.col(c).asc_nulls_last() for c in df.columns])
    nulls_out = (
        nulls.withColumn("__i", F.row_number().over(wn))
        .crossJoin(n_real)
        .withColumn("cluster", (F.col("__base") + F.col("__i") - 1).cast("long"))
        .withColumn("cluster_start", F.col(sk))
        .withColumn("cluster_end", F.col(ek))
        .drop("__i", "__base")
    )
    out = clustered.unionByName(nulls_out)
    drop_cols = []
    if not return_cluster_ids:
        drop_cols.append("cluster")
    if not return_cluster_intervals:
        drop_cols += ["cluster_start", "cluster_end"]
    out = out.drop(*drop_cols)
    if not return_input:
        out = out.select([c for c in ["cluster", "cluster_start", "cluster_end"]
                          if c in out.columns])
    return out


# --------------------------------------------------------------------------
# join compositions: coverage / count_overlaps / setdiff / subtract
# --------------------------------------------------------------------------

def setdiff(df1: DataFrame, df2: DataFrame, cols1=None, cols2=None,
            on: list | None = None, strategy: str = "auto") -> DataFrame:
    """df1 rows with no overlap in df2 — a left **anti** interval join
    (reference ``ops.py:1333-1368``).

    Plain path maps 1:1 onto Spark left_anti; when both sides are large the
    anti join is rewritten over DISTINCT interval keys (overlap depends
    only on (chrom,start,end,*on)): binned-inner hit keys + anti join back
    on the key columns — no row ids, no per-chromosome window (the
    chrom-equi anti join has the same per-chrom quadratic hazard as
    ``overlap``)."""
    ck1, sk1, ek1 = _resolve_cols(cols1)
    ck2, sk2, ek2 = _resolve_cols(cols2)
    on = list(on) if on else []
    strategy = _choose_strategy(df1, df2, strategy)
    if strategy == "binned":
        keys = [ck1, sk1, ek1, *on]
        coords = df1.select(*keys).filter(F.col(ck1).isNotNull()).distinct()
        # span hint from the RAW inputs: the stats job then scans df1/df2
        # directly instead of re-executing the distinct shuffle to measure
        # it (coords' span ⊆ df1's, so clipping stays lossless)
        hits = overlap(
            coords, df2.select(ck2, sk2, ek2, *on), how="inner",
            suffixes=("", "__r2"), cols1=cols1, cols2=cols2, on=on,
            strategy="binned",
            _bin_hint=_bin_stats(df1, sk1, ek1, df2, sk2, ek2),
        ).select(*keys).distinct()
        hits = hits.select(*[F.col(k).alias("__h_" + k) for k in keys])
        cond = F.lit(True)
        for k in keys:
            cond = cond & (F.col(k) == F.col("__h_" + k))
        return df1.join(hits, cond, "left_anti")
    r = df2.select(
        F.col(ck2).alias("__c2"), F.col(sk2).alias("__s2"), F.col(ek2).alias("__e2"),
        *[F.col(c).alias("__on_" + c) for c in on],
    )
    cond = (F.col(ck1) == F.col("__c2")) & overlap_predicate(
        F.col(sk1), F.col(ek1), F.col("__s2"), F.col("__e2")
    )
    for c in on:
        cond = cond & (F.col(c) == F.col("__on_" + c))
    return df1.join(r, cond, "left_anti")


_SMALL_INPUT_MAX_ROWS = 2_000_000  # hard row cap on the kernel-gate driver
# collect: Catalyst's size estimate alone decides eligibility, and a bad
# estimate (selective-looking filter over a large scan) must not turn a
# lazy plan call into an unbounded collect. 2M coordinate rows ≈ 50 MB
# on the driver — the same order as the broadcast the gate implies.


def _bounded_pdf(sub: DataFrame, cap: int, *, probe: bool | None = None):
    """Driver-collect ``sub`` as pandas with a HARD ``cap``-row bound;
    returns ``None`` when ``sub`` exceeds the cap (callers fall back to a
    distributed formulation).

    The bound holds on EVERY path, including Catalyst mis-estimates:

    - estimates within 8x of the small-input byte gate pay one parallel
      column-pruned count probe first (a doomed collect is detected
      without materializing anything — this is also the path for any
      estimate the planner can't produce, which reads as "huge");
    - smaller estimates skip the probe job (the scheduling floor of an
      extra job is ~0.1-0.3 s locally — a real fixed cost on hot small
      queries), but the collect is still never unbounded: the JVM kills
      any collect whose task results exceed ``spark.driver.maxResultSize``
      (set explicitly in :func:`bioframe_spark.session.get_spark`), which
      we catch and convert to the same ``None`` fallback, and a collect
      that survives is row-checked post-hoc so the cap stays exact.

    A ``limit(cap+1)`` probe was rejected twice: CollectLimit executes
    single-threaded with incremental partition probing (measured +1.2 s
    on a 600k-row cached frame vs +0.2 s for the parallel count), and on
    genuinely tiny 32-partition cached frames the 1->4->16 ramp costs
    several sequential mini-jobs.

    ``probe=False`` skips the count probe unconditionally — for frames
    whose EXECUTION is expensive and whose output the caller knows is
    small-by-construction (e.g. a filtered aggregate: Catalyst's
    estimate for it reads huge, but probing would run the whole
    aggregation twice); the maxResultSize backstop + post-hoc row check
    still bound the collect.
    """
    return _bounded_collect(sub, cap, probe, lambda d: d.toPandas())


def _bounded_arrow(sub: DataFrame, cap: int, *, probe: bool | None = None):
    """:func:`_bounded_pdf` as a pyarrow Table: int64 values (INT64_MAX
    sentinels included) stay exact next to nulls."""
    return _bounded_collect(sub, cap, probe, lambda d: d.toArrow())


def _bounded_collect(sub: DataFrame, cap: int, probe, collect):
    do_probe = (probe if probe is not None
                else _plan_size_bytes(sub) > _SMALL_INPUT_BYTES // 8)
    if do_probe and sub.count() > cap:
        return None
    try:
        out = collect(sub)
    except Exception as e:  # noqa: BLE001 — matched below, else re-raised
        if "maxResultSize" in str(e):
            return None
        raise
    return None if len(out) > cap else out


def _small_coords(df2: DataFrame, ck: str, sk: str, ek: str,
                  on: list | None = None):
    """Driver-side Arrow table (c, o0.., s, e) of df2's valid
    (chrom, [on...], start, end) rows, or ``None`` when df2 turns out to
    exceed the hard row cap (``spark.bioframe.smallInputMaxRows``)
    despite Catalyst's size estimate passing the ``_SMALL_INPUT_BYTES``
    gate — callers treat None as "fall back to the join formulation".
    The collect is bounded on every path (see :func:`_bounded_pdf`), so
    a mis-estimated large df2 never becomes an unbounded driver
    materialization.

    All key columns — chrom AND ``on`` — are cast to STRING with
    Spark's own cast, and :func:`_with_kernel_column` casts df1's key
    columns the same way, so keys compare exactly across dtypes (an
    int-coded chrom column would otherwise never match the string the
    kernel receives, silently zeroing every count)."""
    on = on or []
    sel = [F.col(ck).cast("string").alias("c"),
           *[F.col(c).cast("string").alias(f"o{i}")
             for i, c in enumerate(on)],
           F.col(sk).cast("long").alias("s"),
           F.col(ek).cast("long").alias("e")]
    cond = F.col(ck).isNotNull() & F.col(sk).isNotNull() & F.col(ek).isNotNull()
    for c in on:
        cond = cond & F.col(c).isNotNull()
    cap = _threshold(df2, "smallInputMaxRows", _SMALL_INPUT_MAX_ROWS)
    sub = df2.select(*sel).filter(cond)
    return _bounded_arrow(sub, cap)


def _no_inverted(t) -> bool:
    """No row of a :func:`_small_coords` table has end < start: inverted
    rows break the kernels' sorted-array identities, so callers route
    them to the join formulation."""
    return t.num_rows == 0 or pc.all(pc.less_equal(t["s"], t["e"])).as_py()


def _coverage_lookup(t) -> dict:
    """chrom -> (merged_starts, merged_ends, prefix_len) numpy arrays.
    ``arrops.island_sweep`` per chrom (min_dist=0: touching intervals
    join an island) + prefix sums of merged lengths, so per-query
    coverage is two searchsorteds + boundary clips."""
    s, e = t["s"].to_numpy(), t["e"].to_numpy()
    per = {}
    keys, groups = group_rows(t, ["c"])
    for c, ix in zip(keys["c"].to_pylist(), groups):
        _, ms, me, _ = island_sweep(s[ix], e[ix], min_dist=0)
        per[c] = (ms, me, np.concatenate(([0], np.cumsum(me - ms))))
    return per


def _coverage_values(per: dict, c, s, e):
    """Covered bp per query row (chrom ``c``, start ``s``, end ``e``
    Arrow arrays) from a :func:`_coverage_lookup` table. The matched merged
    islands for a query are exactly the slice [i, j) with i = first
    island end > qs, j = first island start >= qe; clips apply only at
    the slice boundaries (interior islands are provably contained for
    any qs/qe, including inverted queries), so coverage =
    pref[j]-pref[i] - left_clip - right_clip reproduces the
    join-and-sum formulation value-for-value."""
    s, e = s.to_numpy(), e.to_numpy()
    res = np.zeros(len(c), dtype="int64")
    keys, groups = group_rows(pa.table({"c": c}), ["c"])
    for chrom, m in zip(keys["c"].to_pylist(), groups):
        ent = per.get(chrom)
        if ent is None:
            continue
        MS, ME, P = ent
        qs, qe = s[m], e[m]
        i = np.searchsorted(ME, qs, side="right")
        j = np.searchsorted(MS, qe, side="left")
        cov = np.zeros(qs.size, dtype="int64")
        hit = j > i
        if hit.any():
            ii, jj = i[hit], j[hit]
            cov[hit] = (P[jj] - P[ii]
                        - np.maximum(0, qs[hit] - MS[ii])
                        - np.maximum(0, ME[jj - 1] - qe[hit]))
        res[m] = cov
    return res


def _count_lookup(t, n_on: int = 0) -> dict:
    """(chrom, *on) -> (sorted starts, sorted effective ends, starts,
    effective ends) of a :func:`_small_coords` table, with the
    point->length-1 rewrite (``effective_end``) applied."""
    s, e = t["s"].to_numpy(), t["e"].to_numpy()
    per = {}
    keys, groups = group_rows(t, ["c"] + [f"o{i}" for i in range(n_on)])
    for key, ix in zip(key_tuples(keys), groups):
        sr, er = s[ix], e[ix]
        # point -> length-1 rewrite, mirroring effective_end()
        ee = np.where(er == sr, er + 1, er)
        per[key] = (np.sort(sr), np.sort(ee), sr, ee)
    return per


def _count_values(per: dict, c, *rest):
    """Overlap count per query row (``c``, ``*on``, ``s``, ``e`` Arrow
    arrays) from a :func:`_count_lookup` table, matching
    ``overlap_predicate`` exactly:

      match iff  start2 < qe'  and  end2' > qs
      count  =  #(start2 < qe') - #(end2' <= qs)

    The subtraction is exact whenever qs <= qe: after the rewrite every
    valid (start2 <= end2) interval has end2' >= start2 + 1, so
    end2' <= qs implies start2 < qs < qe'. Strictly inverted queries
    (qe < qs) break that inclusion and fall back to an exact per-row
    predicate scan on the raw arrays (rare by contract). Callers must
    pre-check df2 for inverted rows — they invalidate the sorted-array
    identity — and route them to the join formulation instead. Null
    keys count 0, the join formulation's null-never-matches rule."""
    *ons, s, e = rest
    s, e = s.to_numpy(), e.to_numpy()
    keycols = ["c"] + [f"o{i}" for i in range(len(ons))]
    res = np.zeros(len(c), dtype="int64")
    # a null key is never in the lookup, so its rows stay 0
    keys, groups = group_rows(pa.table(dict(zip(keycols, [c, *ons]))),
                              keycols)
    for key, idx in zip(key_tuples(keys), groups):
        ent = per.get(key)
        if ent is None:
            continue
        S, E, Sr, Ee = ent
        qs, qe = s[idx], e[idx]
        qe_eff = np.where(qe == qs, qe + 1, qe)
        cnt = (np.searchsorted(S, qe_eff, side="left")
               - np.searchsorted(E, qs, side="right"))
        inv = qe < qs
        if inv.any():
            for k in np.flatnonzero(inv):
                cnt[k] = int(np.count_nonzero((Sr < qe[k]) & (Ee > qs[k])))
        res[idx] = cnt
    return res


def _with_kernel_column(df: DataFrame, name: str, dtype: T.DataType,
                        kernel, table, ck: str, sk: str, ek: str, on=(),
                        fill=None) -> DataFrame:
    """``df`` plus column ``name`` = ``kernel(table, c, *on, s, e)`` over
    df's (chrom, *on, start, end), ``fill`` where chrom/start/end is
    null. Every key is cast with Spark's own cast (chrom and ``on`` to
    STRING, coordinates to LONG), so keys compare exactly against a
    :func:`_small_coords` lookup; nulls are coalesced before the
    kernel sees them, keeping its int64 inputs exact. The kernel takes
    those columns as Arrow arrays and returns a NumPy array.

    A :func:`_tiny` df finishes on the driver: one bounded Arrow collect
    of df with the cast keys, the kernel, and a LocalRelation
    hand-back. Otherwise the kernel runs as an Arrow UDF over the
    broadcast table, map-only over df (which may be arbitrarily
    large): no distinct, no join, no join-back. Both paths hand the
    kernel the same Arrow arrays."""
    from pyspark.sql.pandas.types import to_arrow_type

    atype = to_arrow_type(dtype)
    valid = (F.col(ck).isNotNull() & F.col(sk).isNotNull()
             & F.col(ek).isNotNull())
    args = [F.coalesce(F.col(ck).cast("string"), F.lit("")),
            *[F.col(c).cast("string") for c in on],
            F.coalesce(F.col(sk).cast("long"), F.lit(0)),
            F.coalesce(F.col(ek).cast("long"), F.lit(0))]
    if _tiny(df):
        keys = [f"__kk{i}" for i in range(len(args))]
        # probe=False: a tiny frame is far under the probe's size bar
        tbl = _bounded_arrow(
            df.select("*", *[a.alias(k) for a, k in zip(args, keys)],
                      valid.alias("__kv")),
            _threshold(df, "smallInputMaxRows", _SMALL_INPUT_MAX_ROWS),
            probe=False)
        if tbl is not None:
            res = kernel(table, *[tbl[k].combine_chunks() for k in keys])
            ok = tbl["__kv"].to_numpy(zero_copy_only=False)
            col = pa.array(np.where(ok, res, fill), atype)
            # withColumn's schema: replace in place, else append
            fields = list(df.schema.fields)
            base = tbl.select(list(range(len(fields))))
            field = T.StructField(name, dtype, True)
            if name in df.columns:
                i = df.columns.index(name)
                fields[i] = field
                base = base.set_column(i, name, col)
            else:
                fields.append(field)
                base = base.append_column(name, col)
            return construction.local_df(base, T.StructType(fields))
    bc = df.sparkSession.sparkContext.broadcast(table)

    @F.arrow_udf(dtype)
    def _kern(*cols):
        return pa.array(kernel(bc.value, *cols), atype)

    return df.withColumn(name, F.when(valid, _kern(*args)).otherwise(
        F.lit(fill).cast(dtype)))


def count_overlaps(df1: DataFrame, df2: DataFrame, suffixes=("", "_"),
                   return_input: bool = True, cols1=None, cols2=None,
                   on: list | None = None, strategy: str = "auto") -> DataFrame:
    """Per df1 row, the count of overlapping df2 rows, 0 kept
    (reference ``ops.py:1371-1438``). Counts depend only on the interval
    key (chrom,start,end,*on), so: inner interval join over DISTINCT keys
    → count per key → equi-join back onto df1 with 0-fill. No row ids, no
    per-chromosome window — every stage is parallel within chromosomes and
    df1 itself shuffles at most once (the join-back).

    ``suffixes`` is accepted for reference signature parity but has no
    output effect (matching the reference: output is unsuffixed df1 columns
    + ``count``). ``return_input=False`` returns only the count column;
    NOTE (deviation, documented): Spark output is unordered, so without
    the input columns the counts cannot be correlated to df1 rows — use it
    only for aggregate statistics, or keep ``return_input=True``."""
    ck1, sk1, ek1 = _resolve_cols(cols1)
    ck2, sk2, ek2 = _resolve_cols(cols2)
    on = list(on) if on else []
    if (strategy == "auto" and _plan_size_bytes(df2) <= _SMALL_INPUT_BYTES
            and all(_atomic(df1, c) and _atomic(df2, c) for c in on)):
        # Broadcast kernel: df2 fits the broadcast bound, so counts come
        # from sorted endpoint arrays shipped to every task — a map-only
        # scan of df1 (no distinct, no join, no join-back; df1 may be
        # arbitrarily large). This is the 100 TB plan for the canonical
        # "count annotations per interval" shape; ``on`` columns become
        # part of the lookup key (atomic types only — the key compare
        # happens on Spark string casts, which are lossy for binary and
        # unavailable for complex types; those route to the join).
        # Inverted df2 rows invalidate the sorted-array counting
        # identity and fall through to the join formulation (which
        # prices them via the overlap predicate row by row).
        t2 = _small_coords(df2, ck2, sk2, ek2, on)
        if t2 is not None and _no_inverted(t2):
            # no spread guard here: the searchsorted kernel is tens of
            # ns/row, so on under-partitioned (small/cached) inputs the
            # round-robin shuffle costs more than single-task vectorized
            # work saves (A/B: 1.79 s vs 0.96 s on a 3-partition cached
            # 600k-row input). The heavy kernels (closest
            # broadcast, cluster premerge) DO spread.
            out = _with_kernel_column(
                df1, "count", T.LongType(), _count_values,
                _count_lookup(t2, len(on)), ck1, sk1, ek1, on, fill=0)
            return out if return_input else out.select("count")
    keys = [ck1, sk1, ek1, *on]
    coords = df1.select(*keys).filter(F.col(ck1).isNotNull()).distinct()
    # resolve the strategy on the RAW inputs and pre-compute the span hint
    # there too — a binned join over the derived coords would otherwise
    # re-execute the distinct shuffle just to measure it
    strat = _choose_strategy(df1, df2, strategy)
    hint = _bin_stats(df1, sk1, ek1, df2, sk2, ek2) if strat == "binned" else None
    pairs = overlap(
        coords, df2.select(ck2, sk2, ek2, *on), how="inner", suffixes=("", "__r2"),
        cols1=cols1, cols2=cols2, on=on, strategy=strat, _bin_hint=hint,
    )
    counts = pairs.groupBy(*keys).agg(F.count(F.lit(1)).alias("count"))
    counts = counts.select(*[F.col(k).alias("__k_" + k) for k in keys], "count")
    cond = F.lit(True)
    for k in keys:
        # plain equality: null-keyed df1 rows can never overlap, so a join
        # miss + 0-fill is exactly right for them
        cond = cond & (F.col(k) == F.col("__k_" + k))
    out = (
        df1.join(counts, cond, "left")
        .withColumn("count", F.coalesce(F.col("count"), F.lit(0)))
        .drop(*["__k_" + k for k in keys])
    )
    return out if return_input else out.select("count")


@owns
def coverage(df1: DataFrame, df2: DataFrame, suffixes=("", "_"),
             return_input: bool = True, cols1=None, cols2=None,
             strategy: str = "auto") -> DataFrame:
    """Per df1 interval: bp covered by the union of df2 intervals
    (reference ``ops.py:842-916``). df2 is merged first to bound join
    fan-out (``ops.py:888``) — at scale this is the difference between a
    bounded join and a quadratic one (and usually shrinks df2 below the
    broadcast threshold).

    ``suffixes`` is accepted for reference signature parity but has no
    output effect (matching the reference: output is unsuffixed df1 columns
    + ``coverage``). ``return_input=False`` returns only the coverage
    column; NOTE (deviation, documented): Spark output is unordered, so
    without the input columns the values cannot be correlated to df1 rows
    — use it only for aggregate statistics, or keep ``return_input=True``.

    Two physical paths. When df2 fits the broadcast bound (the common
    "coverage against an annotation track" shape), a broadcast kernel:
    df2 is collected, merged locally (numpy sweep), and covered bp per
    df1 row comes from broadcast prefix-sum arrays via a vectorized
    searchsorted Arrow UDF — map-only over df1, which may be arbitrarily
    large; no distinct, no join, no join-back. NOTE the kernel gate makes
    plan construction EAGER for small df2 (one driver-side collect per
    call, same bytes the broadcast would ship); if the collected frame
    turns out to contain inverted intervals it is discarded and df2
    re-executes in the join formulation — pathological input priced at
    one extra small scan. Otherwise the join formulation: aggregate over
    DISTINCT (chrom,start,end) vs merged df2 (BOUNDED per-chrom product
    — merged intervals are disjoint) and equi-join the sums back onto
    df1."""
    ck1, sk1, ek1 = _resolve_cols(cols1)
    ck2, sk2, ek2 = _resolve_cols(cols2)
    if strategy == "auto" and _plan_size_bytes(df2) <= _SMALL_INPUT_BYTES:
        # Broadcast kernel: df2 fits the broadcast bound, so merge it
        # LOCALLY (a numpy sweep — no distributed merge's two window
        # stages) and compute covered bp per df1 row from broadcast
        # prefix-sum arrays. Map-only over df1 (which may be arbitrarily
        # large): no distinct, no join, no join-back. Falls through to
        # the join formulation if df2 contains inverted intervals, whose
        # local-merge semantics would diverge from merge()'s islands.
        t2 = _small_coords(df2, ck2, sk2, ek2)
        if t2 is not None and _no_inverted(t2):
            # no spread guard — see count_overlaps (light kernel rule)
            out = _with_kernel_column(
                df1, "coverage", T.LongType(), _coverage_values,
                _coverage_lookup(t2), ck1, sk1, ek1, fill=0)
            return out if return_input else out.select("coverage")
    m2 = merge(df2, min_dist=0, cols=cols2)
    merged2 = m2.filter(F.col(ck2).isNotNull())
    coords = (
        df1.select(F.col(ck1).alias("__cc"), F.col(sk1).alias("__cs"),
                   F.col(ek1).alias("__ce"))
        .filter(F.col("__cc").isNotNull()).distinct()
    )
    strat = _choose_strategy(df1, df2, strategy)
    hint = (_bin_stats(df1, sk1, ek1, df2, sk2, ek2)
            if strat == "binned" else None)
    pairs = overlap(
        coords, merged2.select(ck2, sk2, ek2), how="inner",
        suffixes=("", "__r2"), cols1=("__cc", "__cs", "__ce"),
        cols2=cols2, strategy=strat, _bin_hint=hint,
    )
    s2, e2 = sk2 + "__r2", ek2 + "__r2"
    ov = F.least(F.col("__ce"), F.col(e2)) - F.greatest(F.col("__cs"), F.col(s2))
    covmap = pairs.groupBy("__cc", "__cs", "__ce").agg(
        F.sum(ov).cast("long").alias("__cov")
    )
    back = (F.col(ck1) == F.col("__cc")) & (F.col(sk1) == F.col("__cs")) \
        & (F.col(ek1) == F.col("__ce"))
    out = (
        df1.join(covmap, back, "left")
        .withColumn("coverage", F.coalesce(F.col("__cov"), F.lit(0)))
        .drop("__cc", "__cs", "__ce", "__cov")
    )
    # merge(df2) joins this call's owner, so its persists live as long
    # as the coverage result, not as long as m2
    return out if return_input else out.select("coverage")


def _complement_infinite(df: DataFrame, ck: str, sk: str, ek: str) -> DataFrame:
    """Gaps of ``df`` against an implicit per-chromosome [0, INT64_MAX)
    view, in ONE window pass with no view join and no chromosome
    discovery: every row emits the candidate gap
    ``[coalesce(prev_running_max_end, 0), start)`` — non-empty exactly at
    island borders — and each chromosome's first row additionally emits
    the trailing gap ``[max_end_of_chrom, INT64_MAX)`` via a
    two-element explode. Returns (__gc, __gs, __ge)."""
    d = df.filter(F.col(ck).isNotNull()).select(
        F.col(ck).alias("__gc"), F.col(sk).alias("__s"), F.col(ek).alias("__e")
    )
    w = Window.partitionBy("__gc").orderBy("__s", "__e")
    prev = F.max("__e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    gmax = F.max("__e").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    d = d.select(
        "__gc",
        F.coalesce(prev, F.lit(0)).alias("__cs"),
        F.col("__s").alias("__ce"),
        F.row_number().over(w).alias("__rn"),
        gmax.alias("__gmax"),
    )
    gap = F.struct(F.col("__cs").alias("s"), F.col("__ce").alias("e"))
    trailing = F.struct(
        F.col("__gmax").alias("s"), F.lit(INT64_MAX).cast("long").alias("e")
    )
    gaps = d.select(
        "__gc",
        F.explode(
            F.when(F.col("__rn") == 1, F.array(gap, trailing))
            .otherwise(F.array(gap))
        ).alias("__g"),
    )
    return gaps.select(
        "__gc", F.col("__g.s").alias("__gs"), F.col("__g.e").alias("__ge")
    ).filter(F.col("__gs") < F.col("__ge"))


def subtract(df1: DataFrame, df2: DataFrame, return_index: bool = False,
             suffixes=("", "_"), cols1=None, cols2=None) -> DataFrame:
    """Interval difference df1 ∖ df2 — rewritten as
    ``overlap(df1, complement(df2, whole-genome-view))`` exactly like the
    reference (``ops.py:1306-1318``); fragments inherit df1's extra columns.

    Small df2 (≤ ``spark.bioframe.smallInputBytes``, default 32 MB — the
    same gate as coverage's broadcast fast path): the complement is built
    view-free in one window pass (``_complement_infinite``) and broadcast
    LEFT-joined to df1 in a single stage; unmatched df1 rows pass through
    whole iff their chromosome has no df2 intervals at all (broadcast
    membership check — those chromosomes are all-gap), else they are
    fully covered and drop. No chromosome-discovery distinct, no view
    join, no stats jobs: ~3 fewer jobs per call.

    Large df2: the scalable path — explicit union-of-chroms view,
    complement, and the binned interval join with a span hint.
    """
    ck1, sk1, ek1 = _resolve_cols(cols1)
    ck2, sk2, ek2 = _resolve_cols(cols2)
    if _plan_size_bytes(df2) <= _threshold(df1, "smallInputBytes",
                                           _SMALL_INPUT_BYTES):
        comp = _complement_infinite(df2, ck2, sk2, ek2)
        d2c = (
            df2.filter(F.col(ck2).isNotNull())
            .select(F.col(ck2).alias("__c2")).distinct()
        )
        cond = (F.col(ck1) == F.col("__gc")) & overlap_predicate(
            F.col(sk1), F.col(ek1), F.col("__gs"), F.col("__ge")
        )
        j = df1.join(F.broadcast(comp), cond, "left")
        j = j.join(F.broadcast(d2c), F.col(ck1) == F.col("__c2"), "left")
        matched = F.col("__gs").isNotNull()
        keep = matched | (
            F.col("__c2").isNull()
            & F.col(ck1).isNotNull() & F.col(sk1).isNotNull()
            & F.col(ek1).isNotNull()
        )
        extra1 = [c for c in df1.columns if c not in (ck1, sk1, ek1)]
        return j.filter(keep).select(
            F.col(ck1),
            F.when(matched, F.greatest(F.col(sk1), F.col("__gs")))
            .otherwise(F.col(sk1)).alias(sk1),
            F.when(matched, F.least(F.col(ek1), F.col("__ge")))
            .otherwise(F.col(ek1)).alias(ek1),
            *[F.col(c) for c in extra1],
        )
    chroms = (
        df1.select(F.col(ck1).alias("c")).filter(F.col(ck1).isNotNull())
        .union(df2.select(F.col(ck2).alias("c")).filter(F.col(ck2).isNotNull()))
        .distinct()
    )
    view = chroms.select(
        F.col("c").alias(ck2), F.lit(0).cast("long").alias(sk2),
        F.lit(INT64_MAX).cast("long").alias(ek2), F.col("c").alias("name"),
    )
    comp = complement(df2, view_df=view, cols=(ck2, sk2, ek2)).drop("view_region")
    # resolve the join strategy from the RAW df2 (Catalyst's estimate for
    # the complement just propagates df2's size through the window anyway,
    # and stats on the simpler plan are cheaper to compute); the span hint
    # also comes from the raw inputs — overlaps with the complement can
    # only fall inside df1's own span, so clipping there is lossless and
    # avoids executing the complement plan just to measure it
    strat = _choose_strategy(df1, df2, "auto")
    hint = _bin_stats(df1, sk1, ek1, df2, sk2, ek2) if strat == "binned" else None
    ov = overlap(
        df1, comp, how="inner", suffixes=suffixes, return_overlap=True,
        cols1=cols1, cols2=(ck2, sk2, ek2), strategy=strat,
        _bin_hint=hint,
    )
    sfx1, sfx2 = suffixes
    extra1 = [c for c in df1.columns if c not in (ck1, sk1, ek1)]
    sel = [
        F.col(ck1 + sfx1).alias(ck1),
        F.col("overlap_" + sk1).alias(sk1),
        F.col("overlap_" + ek1).alias(ek1),
        *[F.col(c + sfx1).alias(c) for c in extra1],
    ]
    return ov.select(*sel)


# --------------------------------------------------------------------------
# view family: complement / trim / assign_view / sort_bedframe
# --------------------------------------------------------------------------

def _default_view(df, ck, sk, ek):
    return (
        df.select(F.col(ck)).filter(F.col(ck).isNotNull()).distinct()
        .select(
            F.col(ck), F.lit(0).cast("long").alias(sk),
            F.lit(INT64_MAX).cast("long").alias(ek), F.col(ck).alias("name"),
        )
    )


def complement(df: DataFrame, view_df=None, view_name_col: str = "name",
               cols=None, cols_view=None,
               range_width="auto") -> DataFrame:
    """Gaps: view regions not covered by any interval (reference
    ``ops.py:1560-1687``; kernel ``arrops.py:482-503``).

    Plan — ONE window expression total: split df intervals across view
    regions (inner interval join to the — broadcast — view), add two
    zero-length sentinel pieces per region (at region start and end), then
    every piece emits the candidate gap ``[running_max_end_before_it,
    its_start)``. That gap is non-empty exactly at island borders (for any
    other row the running max already reaches its start), so a single
    ``s < e`` filter yields precisely the complement — no island ids, no
    aggregation, no second window, no rejoin. The sentinels make leading /
    trailing / empty-region gaps fall out of the same expression.

    ``range_width`` lifts the per-region window ceiling (the 100 TB path):
    the running max splits into a per-(region, range) local window plus a
    broadcast max-end carry over preceding ranges — identical output
    (equivalence-tested), parallelism regions × ranges. Default ``"auto"``
    selects it by input size; ``None`` forces the classic window.
    """
    ck, sk, ek = _resolve_cols(cols)
    _verify_columns(df, [ck, sk, ek], "complement")
    range_width = _auto_range_width(df, sk, ek, range_width)
    if view_df is None:
        view = _default_view(df, ck, sk, ek)
    else:
        ckv, skv, ekv = _resolve_cols(cols_view)
        view = construction.make_viewframe(
            view_df, view_name_col=view_name_col, cols=(ckv, skv, ekv)
        ).select(
            F.col(ckv).alias(ck), F.col(skv).alias(sk), F.col(ekv).alias(ek),
            F.col(view_name_col).alias("name"),
        )
    view = view.select(
        F.col(ck).alias("__vc"), F.col(sk).alias("__vs"), F.col(ek).alias("__ve"),
        F.col("name").alias("__vn"),
    )
    # split intervals across regions; clip to region bounds
    cond = (F.col(ck) == F.col("__vc")) & overlap_predicate(
        F.col(sk), F.col(ek), F.col("__vs"), F.col("__ve")
    )
    pieces = (
        df.filter(F.col(ck).isNotNull())
        .join(F.broadcast(view), cond, "inner")
        .select(
            F.col("__vc"), F.col("__vn"), F.col("__vs"),
            F.greatest(F.col(sk), F.col("__vs")).alias("__ps"),
            F.least(F.col(ek), F.col("__ve")).alias("__pe"),
        )
    )
    # Two zero-length SENTINEL pieces per region — [vs,vs) and [ve,ve).
    # The leading one seeds the running max at the region start (so the
    # first real piece's candidate gap starts at __vs); the trailing one
    # emits the trailing gap (and the whole-region gap for empty regions).
    sentinels = view.select(
        "__vc", "__vn", "__vs",
        F.explode(F.array(F.col("__vs"), F.col("__ve"))).alias("__ps"),
    ).withColumn("__pe", F.col("__ps"))
    pieces = pieces.unionByName(sentinels)
    if range_width is None:
        w = Window.partitionBy("__vn").orderBy("__ps", "__pe")
        prev_max = F.max("__pe").over(w.rowsBetween(Window.unboundedPreceding, -1))
    else:
        # distributed running max: local per-(region, range) window + a
        # broadcast carry (max end over all preceding ranges of the region)
        if range_width < 1:
            raise ValueError("range_width must be >= 1")
        pieces = pieces.withColumn("__rng", F.floor(F.col("__ps") / F.lit(range_width)))
        w = Window.partitionBy("__vn", "__rng").orderBy("__ps", "__pe")
        local_prev = F.max("__pe").over(w.rowsBetween(Window.unboundedPreceding, -1))
        wc = Window.partitionBy("__c_vn").orderBy("__c_rng")
        carry = (
            pieces.groupBy(F.col("__vn").alias("__c_vn"), F.col("__rng").alias("__c_rng"))
            .agg(F.max("__pe").alias("__rmax"))
            .select(
                "__c_vn", "__c_rng",
                F.max("__rmax").over(
                    wc.rowsBetween(Window.unboundedPreceding, -1)
                ).alias("__M"),
            )
        )
        pieces = pieces.join(
            F.broadcast(carry),
            (F.col("__vn") == F.col("__c_vn")) & (F.col("__rng") == F.col("__c_rng")),
            "left",
        )
        # Spark greatest skips nulls (null only when all inputs are null)
        prev_max = F.greatest(local_prev, F.col("__M"))
    out = pieces.select(
        F.col("__vc").alias(ck),
        F.coalesce(prev_max, F.col("__vs")).alias(sk),
        F.col("__ps").alias(ek),
        F.col("__vn").alias("view_region"),
    )
    return out.filter(F.col(sk) < F.col(ek))


def _assign_lookup(t) -> dict:
    """chrom -> (starts, effective_ends, raw_ends, names) arrays, arms
    sorted by (start, name) ascending — the top-1 window's tie order, so
    a first-strict-max scan reproduces ``row_number() over (ovl DESC,
    __vs ASC, __vn ASC) = 1`` exactly. Effective ends carry the same
    point->length-1 rewrite as ``overlap_predicate``. Null names sort
    first (SQL ASC NULLS FIRST)."""
    t = t.sort_by([("s", "ascending"), ("n", "ascending")],
                  null_placement="at_start")
    s, e = t["s"].to_numpy(), t["e"].to_numpy()
    n = t["n"].to_numpy(zero_copy_only=False)
    per = {}
    keys, groups = group_rows(t, ["c"])
    for c, ix in zip(keys["c"].to_pylist(), groups):
        vs, ve = s[ix], e[ix]
        # saturating point->length-1 rewrite (effective_end: a point AT
        # INT64_MAX keeps INT64_MAX; numpy's +1 would wrap negative)
        ve_eff = np.where((ve == vs) & (ve != INT64_MAX), ve + 1, ve)
        per[c] = (vs, ve_eff, ve, n[ix])
    return per


def _assign_values(per: dict, c, s, e):
    """Best-overlap view-region name per query row (``c``, ``s``, ``e``
    Arrow arrays) from an :func:`_assign_lookup` table. Per chromosome
    the kernel sweeps its (bounded, see the caller's arms-per-chrom
    gate) arm list once, vectorized over the rows; an arm wins only on
    STRICTLY greater overlap length, so the (start, name) pre-sort
    decides ties exactly like the window path's (ovl DESC, __vs ASC,
    __vn ASC) top-1. Rows matching no arm yield None."""
    s, e = s.to_numpy(), e.to_numpy()
    res = np.full(len(c), None, dtype=object)
    keys, groups = group_rows(pa.table({"c": c}), ["c"])
    for chrom, m in zip(keys["c"].to_pylist(), groups):
        ent = per.get(chrom)
        if ent is None:
            continue
        VS, VEe, VE, VN = ent
        qs, qe = s[m], e[m]
        # saturating effective_end (see _assign_lookup)
        qe_eff = np.where((qe == qs) & (qe != INT64_MAX), qe + 1, qe)
        best_i = np.full(qs.size, -1, dtype="int64")
        best_ovl = np.zeros(qs.size, dtype="int64")
        for a in range(VS.size):
            hit = (qs < VEe[a]) & (VS[a] < qe_eff)
            if not hit.any():
                continue
            ovl = np.minimum(qe, VE[a]) - np.maximum(qs, VS[a])
            upd = hit & ((best_i < 0) | (ovl > best_ovl))
            best_ovl[upd] = ovl[upd]
            best_i[upd] = a
        got = best_i >= 0
        sub = np.full(qs.size, None, dtype=object)
        sub[got] = VN[best_i[got]]
        res[m] = sub
    return res


_ASSIGN_KERNEL_MAX_ARMS = 256  # per-chrom arm bound for the map-only
# kernel: its cost is (batch rows x arms of that chrom) vectorized ops —
# linear and tiny for real genome views (tens of arms), quadratic-ish if
# someone passes a bin grid as a "view"; those route to the join paths


def assign_view(df: DataFrame, view_df, drop_unassigned: bool = False,
                df_view_col: str = "view_region", view_name_col: str = "name",
                cols=None, cols_view=None) -> DataFrame:
    """Tag each interval with the view region of largest overlap
    (reference ``ops.py:1807-1901``). Deterministic ties → (view start,
    view name) ascending.

    Three plans. A view is small by construction (a genome partition),
    so the PRIMARY plan is a broadcast kernel: collect the view (bounded
    — ``_bounded_arrow``), broadcast per-chrom arm arrays, and compute the
    best-overlap name as one vectorized map-only column over df —
    no shuffle of df at ANY df size (this is also the 100 TB plan).
    Falls back when the view exceeds the small-input/arms-per-chrom
    bounds or df's key columns aren't (string, integral, integral):
    small df keeps the per-row-id broadcast-join + top-1 window (one
    shuffle of the rows); large df exploits that assignment depends only
    on the coordinate key — DISTINCT coords ⋈ broadcast(view) → top-1
    per coord struct → equi-join back — no per-row id, no
    per-chromosome window ceiling."""
    ck, sk, ek = _resolve_cols(cols)
    ckv, skv, ekv = _resolve_cols(cols_view)
    view = construction.make_viewframe(
        view_df, view_name_col=view_name_col, cols=(ckv, skv, ekv)
    ).select(
        F.col(ckv).alias("__vc"), F.col(skv).alias("__vs"), F.col(ekv).alias("__ve"),
        F.col(view_name_col).alias("__vn"),
    )
    dt = dict(df.dtypes)
    key_ok = (dt.get(ck) == "string"
              and dt.get(sk) in ("bigint", "int", "smallint", "tinyint")
              and dt.get(ek) in ("bigint", "int", "smallint", "tinyint"))
    if key_ok and _plan_size_bytes(view) <= _SMALL_INPUT_BYTES:
        # make_viewframe guarantees string chrom/name + long coords and
        # drops nothing, so the collected frame is the view verbatim;
        # null-coordinate view rows can never match (predicate null in
        # the join paths) and are excluded the same way here
        vsub = view.filter(
            F.col("__vc").isNotNull() & F.col("__vs").isNotNull()
            & F.col("__ve").isNotNull()
        ).select(F.col("__vc").alias("c"), F.col("__vs").alias("s"),
                 F.col("__ve").alias("e"), F.col("__vn").alias("n"))
        vt = _bounded_arrow(vsub, _threshold(df, "smallInputMaxRows",
                                             _SMALL_INPUT_MAX_ROWS))
        if vt is not None and max(
                map(len, group_rows(vt, ["c"])[1]), default=0
        ) <= _threshold(df, "assignKernelMaxArms", _ASSIGN_KERNEL_MAX_ARMS):
            out = _with_kernel_column(
                df, df_view_col, T.StringType(), _assign_values,
                _assign_lookup(vt), ck, sk, ek)
            if drop_unassigned:
                out = out.filter(F.col(df_view_col).isNotNull())
            return out
    if _plan_size_bytes(df) <= _threshold(df, "rangedWindowBytes",
                                          _RANGED_WINDOW_BYTES):
        d1 = _with_rid(df, ck, sk, ek)
        cond = (F.col(ck) == F.col("__vc")) & overlap_predicate(
            F.col(sk), F.col(ek), F.col("__vs"), F.col("__ve")
        )
        joined = d1.join(F.broadcast(view), cond, "left_outer")
        ov_len = F.least(F.col(ek), F.col("__ve")) - F.greatest(F.col(sk), F.col("__vs"))
        # partition the top-1 window by (chrom, rid), not rid alone:
        # __rid embeds the chromosome (struct(c=chrom, r=...)), so the
        # groups are identical, but clustering by (chrom, rid) is
        # already satisfied by the rid window's hashpartitioning(chrom)
        # — EnsureRequirements inserts only a sort, not a second
        # full-table exchange (guide §2.4: share one exchange)
        wtop = Window.partitionBy(F.col(ck), F.col("__rid")).orderBy(
            F.desc_nulls_last("__ovl"), F.asc("__vs"), F.asc("__vn")
        )
        out = (
            joined.withColumn("__ovl", ov_len)
            .withColumn("__rk", F.row_number().over(wtop))
            .filter(F.col("__rk") == 1)
            .withColumn(df_view_col, F.col("__vn"))
            .drop("__rid", "__vc", "__vs", "__ve", "__vn", "__ovl", "__rk")
        )
        if drop_unassigned:
            out = out.filter(F.col(df_view_col).isNotNull())
        return out
    coords = df.select(
        F.col(ck).alias("__ac"), F.col(sk).alias("__as"), F.col(ek).alias("__ae")
    ).distinct()
    cond = (F.col("__ac") == F.col("__vc")) & overlap_predicate(
        F.col("__as"), F.col("__ae"), F.col("__vs"), F.col("__ve")
    )
    joined = coords.join(F.broadcast(view), cond, "left_outer")
    ov_len = F.least(F.col("__ae"), F.col("__ve")) - F.greatest(F.col("__as"), F.col("__vs"))
    wtop = Window.partitionBy("__ac", "__as", "__ae").orderBy(
        F.desc_nulls_last("__ovl"), F.asc("__vs"), F.asc("__vn")
    )
    best = (
        joined.withColumn("__ovl", ov_len)
        .withColumn("__rk", F.row_number().over(wtop))
        .filter(F.col("__rk") == 1)
        .select("__ac", "__as", "__ae", F.col("__vn"))
    )
    back = (
        F.col(ck).eqNullSafe(F.col("__ac"))
        & F.col(sk).eqNullSafe(F.col("__as"))
        & F.col(ek).eqNullSafe(F.col("__ae"))
    )
    out = (
        df.join(best, back, "left")
        .withColumn(df_view_col, F.col("__vn"))
        .drop("__ac", "__as", "__ae", "__vn")
    )
    if drop_unassigned:
        out = out.filter(F.col(df_view_col).isNotNull())
    return out


def trim(df: DataFrame, view_df=None, df_view_col: str | None = None,
         view_name_col: str = "name", return_view_columns: bool = False,
         cols=None, cols_view=None) -> DataFrame:
    """Clip intervals to their view region; no view → clip at 0
    (reference ``ops.py:1441-1557``). Intervals outside their region get a
    null triple. Broadcast join + projection — no wide shuffle."""
    ck, sk, ek = _resolve_cols(cols)
    _verify_columns(df, [ck, sk, ek], "trim")
    if view_df is None:
        return df.withColumns(
            {sk: F.greatest(F.col(sk), F.lit(0)), ek: F.greatest(F.col(ek), F.lit(0))}
        )
    ckv, skv, ekv = _resolve_cols(cols_view)
    added_view_col = False
    if df_view_col is None:
        df = assign_view(
            df, view_df, df_view_col="__region", view_name_col=view_name_col,
            cols=cols, cols_view=cols_view,
        )
        df_view_col = "__region"
        added_view_col = True
    view = construction.make_viewframe(
        view_df, view_name_col=view_name_col, cols=(ckv, skv, ekv)
    ).select(
        F.col(view_name_col).alias(df_view_col),
        F.col(skv).alias("__vs"), F.col(ekv).alias("__ve"),
    )
    joined = df.join(F.broadcast(view), df_view_col, "left")
    in_view = F.col("__vs").isNotNull()
    out = joined.withColumns(
        {
            ck: F.when(in_view, F.col(ck)),
            sk: F.when(in_view, F.greatest(F.least(F.col(sk), F.col("__ve")), F.col("__vs"))),
            ek: F.when(in_view, F.greatest(F.least(F.col(ek), F.col("__ve")), F.col("__vs"))),
        }
    ).drop("__vs", "__ve")
    if added_view_col and not return_view_columns:
        out = out.drop("__region")
    return out


def pileup(df: DataFrame, weight_col: str | None = None, cols=None,
           keep_zero: bool = False, range_width="auto") -> DataFrame:
    """Coverage depth track: step function of how many intervals (or how
    much total weight) covers each genomic segment.

    Spark-native sweep-line (semantics of the reference's internal
    ``coverage_intervals_rle``, ``arrops.py:757-770``, which bioframe never
    exposed publicly): explode each interval into ±weight boundary events,
    pre-aggregate per position (makes the window sort a total order — tie
    safety and less window input), then a running sum ordered by position
    and a ``lead`` for segment ends. One shuffle by chrom.

    Output: (chrom, start, end, depth) segments; zero-depth gaps between
    covered segments are dropped unless ``keep_zero``.

    ``range_width`` lifts the per-chromosome window ceiling (the 100 TB
    path): events range-partition by ``floor(pos/range_width)``, the
    running sum splits into a per-range local cumsum plus a carry (prefix
    sum of per-range totals over a tiny broadcast range table — the classic
    two-phase distributed scan), and the cross-range ``lead`` stitches from
    the next non-empty range's min position. Identical output to the
    classic window (equivalence-tested). Default ``"auto"`` selects it by
    input size; ``None`` forces the classic window.
    """
    ck, sk, ek = _resolve_cols(cols)
    _verify_columns(df, [ck, sk, ek], "pileup")
    range_width = _auto_range_width(df, sk, ek, range_width,
                                    default_bytes=_RANGED_PILEUP_BYTES)
    wcol = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    valid = df.filter(F.col(ck).isNotNull() & F.col(sk).isNotNull() & F.col(ek).isNotNull())
    starts = valid.select(F.col(ck), F.col(sk).alias("__pos"), wcol.alias("__d"))
    ends = valid.select(F.col(ck), F.col(ek).alias("__pos"), (-wcol).alias("__d"))
    ev_src = starts.unionByName(ends)
    ev = ev_src.groupBy(ck, "__pos").agg(F.sum("__d").alias("__d"))
    if range_width is None:
        w = Window.partitionBy(ck).orderBy("__pos")
        seg = ev.withColumns(
            {
                "__depth": F.sum("__d").over(w.rowsBetween(Window.unboundedPreceding, 0)),
                "__next": F.lead("__pos").over(w),
            }
        )
    else:
        if range_width < 1:
            raise ValueError("range_width must be >= 1")
        ev = ev.withColumn("__rng", F.floor(F.col("__pos") / F.lit(range_width)))
        w = Window.partitionBy(ck, "__rng").orderBy("__pos")
        local = ev.withColumns(
            {
                "__lsum": F.sum("__d").over(w.rowsBetween(Window.unboundedPreceding, 0)),
                "__lnext": F.lead("__pos").over(w),
            }
        )
        wr = Window.partitionBy("__r_ck").orderBy("__r_rng")
        # the carry table reads the RAW events (r9): per-range sum and min
        # are position-duplicate-invariant, so this branch is a map-side
        # partial aggregation to a tiny (chrom × ranges) table instead of
        # a replay of the (chrom, pos) event aggregation and its
        # input-sized exchange
        rtab = (
            ev_src.groupBy(
                F.col(ck).alias("__r_ck"),
                F.floor(F.col("__pos") / F.lit(range_width)).alias("__r_rng"))
            .agg(F.sum("__d").alias("__tot"), F.min("__pos").alias("__rmin"))
            .select(
                "__r_ck", "__r_rng",
                F.coalesce(
                    F.sum("__tot").over(wr.rowsBetween(Window.unboundedPreceding, -1)),
                    F.lit(0),
                ).alias("__carry"),
                F.lead("__rmin").over(wr).alias("__next_rmin"),
            )
        )
        seg = (
            local.join(
                F.broadcast(rtab),
                (F.col(ck) == F.col("__r_ck")) & (F.col("__rng") == F.col("__r_rng")),
                "left",
            )
            .withColumns(
                {
                    "__depth": F.col("__lsum") + F.col("__carry"),
                    "__next": F.coalesce(F.col("__lnext"), F.col("__next_rmin")),
                }
            )
        )
    out = seg.filter(F.col("__next").isNotNull()).select(
        F.col(ck),
        F.col("__pos").alias(sk),
        F.col("__next").alias(ek),
        F.col("__depth").alias("depth"),
    )
    if not keep_zero:
        out = out.filter(F.col("depth") != 0)
    return out.filter(F.col(sk) < F.col(ek))


def sort_bedframe(df: DataFrame, view_df=None, view_name_col: str = "name",
                  df_view_col: str | None = None, natsort: bool = False,
                  cols=None, cols_view=None) -> DataFrame:
    """Sort by (chrom, start, end), optionally view-ordered (reference
    ``ops.py:1690-1804``): each interval is first assigned to the view
    region of LARGEST overlap via ``assign_view`` (exactly the reference's
    ``df_view_col is None`` path, ``ops.py:1767-1776`` — a raw overlap
    join would duplicate intervals spanning two regions), then regions
    take their view-row order (broadcast ordinal join replaces the
    ordered-categorical trick ``ops.py:1792-96``); unassigned intervals
    sort last.
    """
    ck, sk, ek = _resolve_cols(cols)
    if view_df is None:
        key = natsort_key(F.col(ck)) if natsort else F.col(ck)
        return df.orderBy(
            key.asc_nulls_last(), F.col(sk).asc_nulls_last(), F.col(ek).asc_nulls_last()
        )
    ckv, skv, ekv = _resolve_cols(cols_view)
    view = construction.make_viewframe(
        view_df, view_name_col=view_name_col, cols=(ckv, skv, ekv)
    )
    if df_view_col is None:
        tagged = assign_view(
            df, view_df, df_view_col="__region", view_name_col=view_name_col,
            cols=cols, cols_view=cols_view,
        )
        df_view_col = "__region"
        added = True
    else:
        _verify_columns(df, [df_view_col], "sort_bedframe")
        # reference ops.py:1779-1790: an explicit df_view_col must be
        # cataloged in the view (one aggregate-probe job)
        from ..core import checks

        if not checks.is_cataloged(
            df.filter(F.col(df_view_col).isNotNull()), view,
            df_view_col=df_view_col, view_name_col=view_name_col,
        ):
            raise ValueError(
                "intervals in df not cataloged in view_df, cannot sort by view"
            )
        tagged = df
        added = False
    # Attach the view-row ordinal driver-side: views are tiny by contract
    # (one row per region), and collect() preserves construction order for
    # driver-built views — no monotonically_increasing_id / window ordering
    # assumption, which is not shuffle-stable.
    vrows = view.collect()
    ord_df = construction.local_df(
        [(r[view_name_col], i + 1) for i, r in enumerate(vrows)],
        T.StructType.fromDDL("__vn string, __ord int"),
    )
    tagged = tagged.join(
        F.broadcast(ord_df), F.col(df_view_col) == F.col("__vn"), "left_outer"
    )
    out = tagged.orderBy(
        F.col("__ord").asc_nulls_last(), F.col(ck).asc_nulls_last(),
        F.col(sk).asc_nulls_last(), F.col(ek).asc_nulls_last(),
    ).drop("__vn", "__ord")
    if added:
        out = out.drop("__region")
    return out
