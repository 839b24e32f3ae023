"""Derived / convenience operators (reference ``src/bioframe/extras.py``).

All pure DataFrame compositions; sequence-dependent ops (digest, frac_gc,
frac_mapped) live in ``sequence.py`` behind pandas UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import construction
from ..core.persist import owns
from ..core.specs import _resolve_cols, _verify_columns
from ..functions.intervals import overlap_predicate
from .ops import merge, overlap, subtract

__all__ = [
    "binnify",
    "make_chromarms",
    "pair_by_distance",
    "mark_runs",
    "merge_runs",
    "frac_gene_coverage",
]


@owns
def frac_gene_coverage(df: DataFrame, genes: DataFrame, cols=None) -> DataFrame:
    """Per interval: fraction of bp covered by genes + gene count
    (reference ``extras.py:357-386``, which fetches the UCSC mRNA table;
    here *genes* is any interval DataFrame).

    Pure composition of ``coverage`` + ``count_overlaps`` — both aggregate
    over distinct interval keys and equi-join back, so this inherits their
    row-id-free, per-chromosome-ceiling-free plans.

    When the gene table fits both operators' shared broadcast-kernel gate
    (identical: plan size + bounded collect of (chrom,start,end) + no
    inverted rows), it is collected ONCE and fed to both kernels —
    value-identical to the composition (each kernel is exactly the one
    its operator would build from its own collect of the same frame) but
    one gene-table scan/collect instead of two, and the two Arrow UDF
    columns still evaluate in a single ArrowEvalPython pass over df
    (or both on the driver when df is tiny)."""
    from .ops import (_SMALL_INPUT_BYTES, _count_lookup, _count_values,
                      _coverage_lookup, _coverage_values, _no_inverted,
                      _plan_size_bytes, _small_coords, _with_kernel_column,
                      count_overlaps, coverage)

    ck, sk, ek = _resolve_cols(cols)
    g = genes.select(ck, sk, ek)
    if _plan_size_bytes(g) <= _SMALL_INPUT_BYTES:
        t = _small_coords(g, ck, sk, ek)
        if t is not None and _no_inverted(t):
            out = _with_kernel_column(
                df, "coverage", T.LongType(), _coverage_values,
                _coverage_lookup(t), ck, sk, ek, fill=0)
            out = _with_kernel_column(
                out, "count", T.LongType(), _count_values, _count_lookup(t),
                ck, sk, ek, fill=0).withColumnRenamed("count", "n_genes")
            return out.withColumn(
                "gene_coverage",
                F.col("coverage").cast("double") / (F.col(ek) - F.col(sk)),
            )
    out = coverage(df, g, cols1=cols, cols2=cols)
    out = count_overlaps(out, g, cols1=cols, cols2=cols)
    out = out.withColumnRenamed("count", "n_genes")
    return out.withColumn(
        "gene_coverage",
        F.col("coverage").cast("double") / (F.col(ek) - F.col(sk)),
    )


def binnify(chromsizes, binsize: int, rel_ids: bool = False, cols=None) -> DataFrame:
    """Tile a genome into fixed-size bins (reference ``extras.py:125-167``).

    Generator expressed as ``explode(sequence(...))`` over the (tiny)
    chromsizes table — rows are produced executor-side, so a 3 Gbp genome
    at 1 bp bins would still distribute (scale knob: repartition after
    explode if bins feed a heavy downstream op).
    """
    ck, sk, ek = _resolve_cols(cols)
    cs = construction.from_any(chromsizes, cols=(ck, sk, ek))
    # chromsizes view: (chrom, 0, length)
    out = (
        cs.select(
            F.col(ck),
            F.col(ek).alias("__len"),
            F.explode(
                F.sequence(F.lit(0), F.ceil(F.col(ek) / binsize).cast("long") - 1)
            ).alias("__i"),
        )
        .select(
            F.col(ck),
            (F.col("__i") * binsize).cast("long").alias(sk),
            F.least((F.col("__i") + 1) * binsize, F.col("__len")).cast("long").alias(ek),
            *([F.col("__i").alias("rel_id")] if rel_ids else []),
        )
    )
    return out


def make_chromarms(chromsizes, midpoints, cols=None, suffixes=("_p", "_q")) -> DataFrame:
    """Split chromosomes into arms at midpoints (reference
    ``extras.py:23-122``): subtract degenerate point intervals from the
    whole-chromosome view, then name arms by fragment side."""
    ck, sk, ek = _resolve_cols(cols)
    cs = construction.from_any(chromsizes, cols=(ck, sk, ek))
    # midpoints → degenerate point intervals (chrom, mid, mid)
    if isinstance(midpoints, dict):
        points = construction.from_list(
            [(c, int(m), int(m)) for c, m in midpoints.items()], cols=(ck, sk, ek)
        )
    else:
        mids = construction.from_any(midpoints, cols=(ck, sk, ek))
        if "mid" in mids.columns:
            points = mids.select(
                F.col(ck), F.col("mid").alias(sk), F.col("mid").alias(ek)
            )
        else:
            points = mids.select(ck, sk, ek)
    arms = subtract(cs, points, cols1=(ck, sk, ek), cols2=(ck, sk, ek))
    # fragment ordinal per chrom → suffix naming
    w = Window.partitionBy(ck).orderBy(sk)
    arms = arms.withColumn("__ord", F.row_number().over(w) - 1)
    arms = arms.withColumn(
        "name",
        F.concat(
            F.col(ck),
            F.when(F.col("__ord") == 0, F.lit(suffixes[0])).otherwise(F.lit(suffixes[1])),
        ),
    ).drop("__ord")
    return arms


def pair_by_distance(
    df: DataFrame,
    min_sep: int,
    max_sep: int,
    min_intervening: int | None = None,
    max_intervening: int | None = None,
    relative_to: str = "midpoints",
    cols=None,
    suffixes: tuple = ("_1", "_2"),
    range_width="auto",
) -> DataFrame:
    """All ordered pairs of intervals separated by [min_sep, max_sep]
    (reference ``extras.py:389-543``) → BEDPE-style columns.

    Implemented as a self interval join of probe projections (the
    reference's own trick, ``extras.py:503-510``): the right probe of each
    interval ([mid+min_sep, mid+max_sep]) overlap-joined against the left
    probes of candidate partners. Intervening counts = difference of
    per-chrom positional ranks.

    ``range_width`` lifts the per-chromosome ceiling of the rank window
    (the 100 TB path): ranks split into a per-(chrom, range) local
    row_number plus per-range offsets from a tiny broadcast counts table —
    identical ranks (ranges partition the (start, end) sort order because
    start determines the range). Default ``"auto"`` selects it by input
    size; ``None`` forces the classic window.
    """
    ck, sk, ek = _resolve_cols(cols)
    _verify_columns(df, [ck, sk, ek], "pair_by_distance")
    if min_sep >= max_sep:
        raise ValueError("min_sep must be < max_sep")
    if min_sep < 0:
        raise ValueError("min_sep must be >=0")
    if (
        min_intervening is not None and max_intervening is not None
        and min_intervening > max_intervening
    ):
        raise ValueError("min_intervening must be <= max_intervening")
    if min_intervening is not None and min_intervening < 0:
        raise ValueError("min_intervening must be >=0")

    # EXACT probe construction of the reference (``extras.py:473-510``):
    # right probe of x = [ref_r + min_sep//2, ref_r + (max_sep+1)//2)
    # left probe of y  = [ref_l - max_sep//2, ref_l - (min_sep+1)//2)
    # pair ⟺ probes overlap (half-open) — the separation window is split
    # between the two probes with integer halving; intervening counts are
    # positional-rank differences in (chrom,start,end) order (the
    # reference sorts before pairing, ``extras.py:456``).
    from .ops import _auto_range_width

    # midpoint as s + (e-s)/2, NOT (s+e)/2: the sum overflows int64 for
    # sentinel ends (complement output) under ANSI
    mid = (F.col(sk)
           + F.floor((F.col(ek) - F.col(sk)) / 2).cast("long"))
    range_width = _auto_range_width(df, sk, ek, range_width)
    if range_width is None:
        w = Window.partitionBy(ck).orderBy(sk, ek)
        base = df.withColumn("__rank", F.row_number().over(w))
    else:
        d = df.withColumn("__rng", F.floor(F.col(sk) / F.lit(range_width)))
        wl = Window.partitionBy(ck, "__rng").orderBy(sk, ek)
        counts = d.groupBy(ck, "__rng").count()
        wofs = Window.partitionBy(F.col(ck)).orderBy(F.col("__rng")).rowsBetween(
            Window.unboundedPreceding, -1
        )
        offsets = counts.select(
            F.col(ck).alias("__o_ck"), F.col("__rng").alias("__o_rng"),
            F.coalesce(F.sum("count").over(wofs), F.lit(0)).alias("__ofs"),
        )
        base = (
            d.withColumn("__lrn", F.row_number().over(wl))
            .join(
                F.broadcast(offsets),
                (F.col(ck) == F.col("__o_ck")) & (F.col("__rng") == F.col("__o_rng")),
                "left",
            )
            .withColumn("__rank", F.col("__ofs") + F.col("__lrn"))
            .drop("__o_ck", "__o_rng", "__ofs", "__lrn", "__rng")
        )
    if relative_to == "midpoints":
        ref_r, ref_l = mid, mid
    elif relative_to == "endpoints":
        ref_r, ref_l = F.col(ek), F.col(sk)
    else:
        raise ValueError("relative_to must be 'midpoints' or 'endpoints'")
    sfx1, sfx2 = suffixes
    # probe arithmetic saturates (try_add/try_subtract): a reference
    # point at a sentinel coordinate has no candidates in the direction
    # that overflowed, and the saturated empty/degenerate probe encodes
    # exactly that
    from .ops import INT64_MAX as _I64

    def _sat_add(x, k):
        # nulls stay null — saturate only on genuine overflow
        return F.when(x.isNull(), x).otherwise(
            F.coalesce(F.try_add(x, F.lit(k)), F.lit(_I64)))

    def _sat_sub(x, k):
        return F.when(x.isNull(), x).otherwise(
            F.coalesce(F.try_subtract(x, F.lit(k)), F.lit(-_I64)))

    left = base.select(
        *[F.col(c).alias(c + sfx1) for c in df.columns],
        F.col("__rank").alias("__rank1"),
        _sat_add(ref_r, min_sep // 2).alias("__rs"),
        _sat_add(ref_r, (max_sep + 1) // 2).alias("__re"),
    )
    right = base.select(
        *[F.col(c).alias(c + sfx2) for c in df.columns],
        F.col("__rank").alias("__rank2"),
        _sat_sub(ref_l, max_sep // 2).alias("__ls"),
        _sat_sub(ref_l, (min_sep + 1) // 2).alias("__le"),
    )
    cond = (
        (F.col(ck + sfx1) == F.col(ck + sfx2))
        & overlap_predicate(F.col("__rs"), F.col("__re"), F.col("__ls"), F.col("__le"))
    )
    pairs = left.join(right, cond, "inner")
    n_btwn = F.abs(F.col("__rank2") - F.col("__rank1")) - 1
    if min_intervening is not None:
        pairs = pairs.filter(n_btwn >= min_intervening)
    if max_intervening is not None:
        pairs = pairs.filter(n_btwn <= max_intervening)
    return pairs.drop("__rank1", "__rank2", "__rs", "__re", "__ls", "__le")


def mark_runs(
    df: DataFrame,
    col: str,
    allow_overlaps: bool = False,
    reset_counter: bool = True,
    run_col: str = "run",
    cols=None,
    range_width="auto",
) -> DataFrame:
    """Label runs of spatially-consecutive intervals sharing a value of
    *col* (reference ``extras.py:546-650``). Gaps-and-islands window: a new
    run starts at a spatial break OR a value change (lag compare).

    ``range_width`` lifts the per-chromosome window ceiling: rows
    range-partition by ``floor(start/range_width)``, the cross-boundary
    ``lag`` is repaired from a tiny per-range carry table (each range's
    last (end, value) row, lagged over the chromosome's present ranges and
    broadcast back), and run numbers accumulate per-range border counts +
    offsets — identical labels to the classic window. Default ``"auto"``
    selects by input size; ``None`` forces the classic window.
    """
    from .ops import _auto_range_width

    ck, sk, ek = _resolve_cols(cols)
    _verify_columns(df, [ck, sk, ek, col], "mark_runs")
    range_width = _auto_range_width(df, sk, ek, range_width)
    if range_width is not None:
        return _mark_runs_ranged(df, col, allow_overlaps, reset_counter,
                                 run_col, ck, sk, ek, range_width)
    w = Window.partitionBy(ck).orderBy(sk, ek)
    prev_end = F.lag(ek).over(w)
    prev_val = F.lag(col).over(w)
    val_change = ~F.col(col).eqNullSafe(prev_val)
    spatial_break = F.col(sk) > prev_end if not allow_overlaps else F.lit(False)
    border = F.when(prev_end.isNull(), F.lit(True)).otherwise(val_change | spatial_break)
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    out = df.withColumn("__border", border)
    if reset_counter:
        out = out.withColumn(run_col, F.sum(F.col("__border").cast("long")).over(wrun) - 1)
    else:
        # globally increasing run ids: per-chrom runs + chrom offsets
        out = out.withColumn("__local", F.sum(F.col("__border").cast("long")).over(wrun))
        counts = out.groupBy(ck).agg(F.max("__local").alias("__n"))
        wofs = Window.orderBy(ck).rowsBetween(Window.unboundedPreceding, -1)
        offsets = counts.select(
            F.col(ck).alias("__ck"),
            F.coalesce(F.sum("__n").over(wofs), F.lit(0)).alias("__ofs"),
        )
        out = (
            out.join(F.broadcast(offsets), out[ck] == F.col("__ck"), "left")
            .withColumn(run_col, (F.col("__ofs") + F.col("__local") - 1).cast("long"))
            .drop("__ck", "__ofs", "__local")
        )
    return out.drop("__border")


def _mark_runs_ranged(df, col, allow_overlaps, reset_counter, run_col,
                      ck, sk, ek, range_width):
    """Range-partitioned ``mark_runs`` (see its docstring): per-(chrom,
    range) local lag + first-row repair from the previous non-empty
    range's last row, then run ids from per-range border counts."""
    d = df.withColumn("__rng", F.floor(F.col(sk) / F.lit(range_width)))
    w = Window.partitionBy(ck, "__rng").orderBy(sk, ek)

    # carry: each range's LAST (end, value) row, shifted to the NEXT
    # present range of the chromosome (ranges with no rows don't exist in
    # the table, so lag-over-rng finds the true predecessor range)
    wc = Window.partitionBy("__c_ck").orderBy("__c_rng")
    carry = (
        d.groupBy(F.col(ck).alias("__c_ck"), F.col("__rng").alias("__c_rng"))
        .agg(F.max_by(
            F.struct(F.col(ek).alias("e"), F.col(col).alias("v")),
            F.struct(F.col(sk), F.col(ek)),
        ).alias("__last"))
        .select("__c_ck", "__c_rng", F.lag("__last").over(wc).alias("__prev"))
    )
    d = d.join(
        F.broadcast(carry),
        (F.col(ck) == F.col("__c_ck")) & (F.col("__rng") == F.col("__c_rng")),
        "left",
    ).drop("__c_ck", "__c_rng")

    first_in_rng = F.row_number().over(w) == 1
    prev_end = F.when(first_in_rng, F.col("__prev.e")).otherwise(F.lag(ek).over(w))
    prev_val = F.when(first_in_rng, F.col("__prev.v")).otherwise(F.lag(col).over(w))
    # the carried struct is null for the chromosome's first range — then
    # prev_end is null exactly like the classic window's first row
    val_change = ~F.col(col).eqNullSafe(prev_val)
    spatial_break = F.col(sk) > prev_end if not allow_overlaps else F.lit(False)
    # prev_end is null exactly when the classic window's lag would be null
    # (true first row, or predecessor with null end) — border there
    border = F.when(prev_end.isNull(), F.lit(True)).otherwise(
        val_change | spatial_break
    )

    d = d.withColumn("__b", border.cast("long")).withColumn(
        "__local", F.sum("__b").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    # per-range border-count offsets (within chrom for reset_counter,
    # global chrom-major otherwise)
    kcounts = d.groupBy(ck, "__rng").agg(F.sum("__b").alias("__k"))
    if reset_counter:
        wofs = Window.partitionBy(F.col(ck)).orderBy(F.col("__rng")).rowsBetween(
            Window.unboundedPreceding, -1
        )
    else:
        wofs = Window.orderBy(F.col(ck), F.col("__rng")).rowsBetween(
            Window.unboundedPreceding, -1
        )
    offsets = kcounts.select(
        F.col(ck).alias("__o_ck"), F.col("__rng").alias("__o_rng"),
        F.coalesce(F.sum("__k").over(wofs), F.lit(0)).alias("__ofs"),
    )
    d = d.join(
        F.broadcast(offsets),
        (F.col(ck) == F.col("__o_ck")) & (F.col("__rng") == F.col("__o_rng")),
        "left",
    )
    out = d.withColumn(run_col, (F.col("__ofs") + F.col("__local") - 1).cast("long"))
    return out.drop("__rng", "__prev", "__b", "__local", "__o_ck", "__o_rng", "__ofs")


def merge_runs(
    df: DataFrame,
    col: str,
    allow_overlaps: bool = False,
    agg: dict | None = None,
    cols=None,
) -> DataFrame:
    """Collapse runs to spans + user-named aggregations (reference
    ``extras.py:653-735``). ``agg`` maps output name → Spark Column
    aggregate expression (e.g. ``{"s": F.sum("score")}``) — the Spark
    equivalent of the reference's named-aggregation surface."""
    ck, sk, ek = _resolve_cols(cols)
    marked = mark_runs(df, col, allow_overlaps=allow_overlaps,
                       reset_counter=False, run_col="__run", cols=cols)
    aggs = [F.min(sk).alias(sk), F.max(ek).alias(ek), F.first(col).alias(col)]
    for name, expr in (agg or {}).items():
        aggs.append(expr.alias(name))
    out = marked.groupBy(ck, "__run").agg(*aggs).drop("__run")
    return out.select(ck, sk, ek, col, *[n for n in (agg or {})])
