"""k-nearest-neighbor interval join (``closest``).

Semantics parity with reference ``ops.py:1043-1240`` + kernels
``arrops.py:506-754``: for every df1 interval, the k closest df2 intervals
(overlapping ⇒ distance 0); optional ignore-overlaps / directional filters
(strand-aware via ``direction_col``); ties broken by (distance,
tie_breaking_col, canonical df2 order).

Physical design: OSS Spark has no as-of/kNN join, so this is a cogrouped
``applyInPandas`` per (chromosome) group — both sides shuffle once on
chrom, then a vectorized numpy sort+searchsorted kernel runs per group
(Arrow-batched, no per-row Python). This parallelizes across chromosomes;
for single-chrom skew the group is one task — acceptable because the
kernel is O(n log n) vectorized, and k-NN is not separable by genomic bin
without a distance cap. (Escape hatch when one chromosome exceeds
executor memory: a distance-capped pure-DataFrame formulation — binned
join within a cap + window rank, doubling the cap until k found.)

Deviations from the reference (documented, pinned in
``tests/test_reference_parity_ab.py``):

- Tie-breaking among equidistant df2 rows uses canonical (start2, end2)
  order rather than the pandas positional index — Spark rows have no
  input position. The reference's order is additionally an emergent
  TWO-STAGE artifact: its searchsorted kernel prunes to the positionally
  nearest candidate per side first (among equal ends the positionally
  LAST wins — ``arrops.py:506-598``), then ranks by (distance, index)
  (``arrops.py:740``) — so its k=1 winner can even rank second in its
  own k=2 output.
- The reference's ``tie_breaking_col`` crashes outright in this snapshot
  (``arrops.py:740`` lexsorts a len(df2) tie array against event-shaped
  arrays); this engine implements the documented semantics (ascending
  tie value among equidistant candidates).
- Zero-width intervals: the reference's kernel classifies a point
  touching another interval's boundary as a distance-0 *neighbor* (it
  has no point-rewrite in the closest path), reports a point as its own
  closest in self-mode, and can emit the same pair twice (once per
  search side, consuming two k-slots). This engine applies the same
  point-overlap rule as ``overlap`` (points overlap intervals containing
  them), excludes self-pairs positionally, and never duplicates a pair.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.construction import local_df
from ..core.persist import owns, persist
from ..core.specs import _resolve_cols, _verify_columns
from ..functions.intervals import overlap_predicate


def _neighbor_candidates(starts1, ends1, starts2_sorted, order2, key2, k, side):
    """ids (i1, pos-in-sorted2) of ≤k nearest non-overlapping df2 neighbors
    on one side. side='left': df2 end <= df1 start, nearest = largest end.
    side='right': df2 start >= df1 end, nearest = smallest start.
    key2 is df2's end (left) or start (right), sorted ascending."""
    n1 = starts1.shape[0]
    if side == "left":
        hi = np.searchsorted(key2, starts1, "right")
        lo = np.maximum(hi - k, 0)
    else:
        lo = np.searchsorted(key2, ends1, "left")
        hi = np.minimum(lo + k, key2.shape[0])
    counts = hi - lo
    ids1 = np.repeat(np.arange(n1), counts)
    # multi-range arange
    if counts.sum() == 0:
        return ids1, np.array([], dtype=np.int64)
    starts_flat = np.repeat(lo, counts)
    within = np.arange(counts.sum()) - np.repeat(np.cumsum(counts) - counts, counts)
    ids2_sorted = starts_flat + within
    return ids1, order2[ids2_sorted]


def _overlap_pairs(starts1, ends1, starts2, ends2):
    """All (i1, i2) with s1<e2' and s2<e1' (point-rewritten ends).

    Sweep over the union of both sides sorted by start: each interval
    matches the intervals that start within [its start, its effective end).
    Output-linear, fully vectorized.
    """
    # point rewrite WITHOUT ends+1 (a point at INT64_MAX would wrap
    # negative and silently vanish from / corrupt the sweep): rank-
    # compress the coordinates, then key starts as 2·rank and effective
    # ends as 2·rank + is_point — "starts[q] < ends[p] + 1" becomes
    # "2·rs < 2·re + 1", exact and overflow-free at any int64 value
    n1, n2 = starts1.shape[0], starts2.shape[0]
    all_coords = np.unique(np.concatenate([starts1, starts2, ends1, ends2]))
    rs1 = np.searchsorted(all_coords, starts1)
    rs2 = np.searchsorted(all_coords, starts2)
    re1 = np.searchsorted(all_coords, ends1)
    re2 = np.searchsorted(all_coords, ends2)
    starts1 = 2 * rs1
    starts2 = 2 * rs2
    e1 = 2 * re1 + (re1 == rs1)  # rank equality == zero-length (point)
    e2 = 2 * re2 + (re2 == rs2)
    starts = np.concatenate([starts1, starts2])
    ends = np.concatenate([e1, e2])
    sides = np.concatenate([np.zeros(n1, bool), np.ones(n2, bool)])
    idx = np.concatenate([np.arange(n1), np.arange(n2)])
    order = np.lexsort([ends, starts])
    starts, ends, sides, idx = starts[order], ends[order], sides[order], idx[order]
    # for each position p, intervals q>p with starts[q] < ends[p] overlap it
    match_hi = np.searchsorted(starts, ends, "left")
    match_lo = np.arange(starts.shape[0]) + 1
    counts = np.maximum(match_hi - match_lo, 0)
    total = counts.sum()
    if total == 0:
        return np.array([], dtype=np.int64), np.array([], dtype=np.int64)
    anchors = np.repeat(np.arange(starts.shape[0]), counts)
    offs = np.arange(total) - np.repeat(np.cumsum(counts) - counts, counts)
    others = np.repeat(match_lo, counts) + offs
    # keep only cross-set pairs, oriented (set1, set2)
    a_side, o_side = sides[anchors], sides[others]
    cross = a_side != o_side
    anchors, others = anchors[cross], others[cross]
    a_side = a_side[cross]
    i1 = np.where(a_side, idx[others], idx[anchors])
    i2 = np.where(a_side, idx[anchors], idx[others])
    return i1.astype(np.int64), i2.astype(np.int64)


def _closest_kernel(
    pdf1: pd.DataFrame, pdf2: pd.DataFrame, *,
    sk1, ek1, sk2, ek2, k, ignore_overlaps, ignore_upstream, ignore_downstream,
    direction_col, tie_breaking_col, self_mode,
):
    """Per-chromosome kernel: returns (ids1, ids2(-1 for none), distances)."""
    # canonical df2 order for deterministic ties
    sort_cols = [c for c in (sk2, ek2) if c in pdf2.columns]

    def _csort(pdf):
        try:
            return pdf.sort_values(sort_cols, kind="mergesort", ignore_index=True)
        except TypeError:
            # unsortable payload dtype: string-cast object columns so both
            # frames still share ONE deterministic total order (a
            # coords-only fallback would let rows with duplicate
            # coordinates but differing payloads land at different
            # positions in the two cogroup copies, breaking positional
            # self-exclusion)
            return pdf.sort_values(
                sort_cols, kind="mergesort", ignore_index=True,
                key=lambda s: s.astype(str) if s.dtype == object else s,
            )

    if self_mode:
        # Self-exclusion below is POSITIONAL (ov1 != ov2, ids[c1] != c2), so
        # both frames must share one ordering. Spark's two cogroup shuffles
        # deliver the same rows in arbitrary, possibly different orders —
        # sort BOTH by a full-column canonical key. Coordinate-duplicates
        # with equal payloads are interchangeable under any stable order, so
        # positional identity stays valid (exact dups remain each other's
        # distance-0 closest, matching reference ops.py self-closest).
        sort_cols = sort_cols + [c for c in pdf2.columns if c not in (sk2, ek2)]
        pdf1 = _csort(pdf1)
    pdf2 = _csort(pdf2)
    s1 = pdf1[sk1].to_numpy(np.int64, na_value=0)
    e1 = pdf1[ek1].to_numpy(np.int64, na_value=0)
    s2 = pdf2[sk2].to_numpy(np.int64, na_value=0)
    e2 = pdf2[ek2].to_numpy(np.int64, na_value=0)
    n1, n2 = s1.shape[0], s2.shape[0]
    if tie_breaking_col is None:
        tie = np.zeros(n2)
    elif callable(tie_breaking_col):
        # reference surface: tie_breaking_col may be f(DataFrame) -> Series
        # (ops.py:972-980) — evaluated per chrom group on the pandas frame
        tie = np.asarray(tie_breaking_col(pdf2), dtype=float)
    else:
        tie = pdf2[tie_breaking_col].to_numpy(float)
    if direction_col is not None:
        along = (pdf1[direction_col].astype(str) != "-").to_numpy()
    else:
        along = np.ones(n1, bool)

    # overlap candidates (distance 0)
    if ignore_overlaps or n2 == 0:
        ov1 = ov2 = np.array([], dtype=np.int64)
    else:
        ov1, ov2 = _overlap_pairs(s1, e1, s2, e2)
        if self_mode:
            m = ov1 != ov2
            ov1, ov2 = ov1[m], ov2[m]

    # non-overlapping neighbors, strand-aware sides
    # Left-side candidates are consumed from the TAIL of order_e
    # (_neighbor_candidates keeps the k largest ends), so order within equal
    # (end, tie) must be canonical-index DESC: read backwards that is
    # (end desc, tie asc, idx asc) — the same preference the final
    # (distance, tie, ids2) lexsort ranks by, keeping k-truncation
    # consistent with the binned strategy's (dist, tie, start2, end2) window.
    order_e = np.lexsort([-np.arange(n2), tie * -1, e2])
    order_s = np.lexsort([tie, s2])
    # flags rank overlap entries (0) before neighbor entries (1) at
    # equal distance — the old encoding (neighbor dd = dist + 1, output
    # dd - 1) wrapped at dist = INT64_MAX (a point at the int64 edge
    # reported distance 0 and outranked real overlaps; hypothesis
    # falsified it at r8)
    cand1 = [ov1]
    cand2 = [ov2]
    dists = [np.zeros(ov1.shape[0], dtype=np.int64)]
    flags = [np.zeros(ov1.shape[0], dtype=np.int8)]
    for strand_mask, up_side in ((along, "left"), (~along, "right")):
        ids = np.where(strand_mask)[0]
        if ids.size == 0:
            continue
        # upstream = up_side; downstream = the other side
        for side, ignored in ((up_side, ignore_upstream),
                              ("right" if up_side == "left" else "left", ignore_downstream)):
            if ignored or n2 == 0:
                continue
            if side == "left":
                c1, c2 = _neighbor_candidates(
                    s1[ids], e1[ids], None, order_e, e2[order_e], k, "left")
                d = s1[ids][c1] - e2[c2]
            else:
                c1, c2 = _neighbor_candidates(
                    s1[ids], e1[ids], None, order_s, s2[order_s], k, "right")
                d = s2[c2] - e1[ids][c1]
            if self_mode:
                m = ids[c1] != c2
                c1, c2, d = c1[m], c2[m], d[m]
            cand1.append(ids[c1])
            cand2.append(c2)
            dists.append(np.maximum(d, 0))
            flags.append(np.ones(c1.shape[0], dtype=np.int8))

    ids1 = np.concatenate(cand1)
    ids2 = np.concatenate(cand2)
    dd = np.concatenate(dists)
    fl = np.concatenate(flags)
    if ids1.shape[0] == 0:
        sel1 = np.array([], dtype=np.int64)
        sel2 = np.array([], dtype=np.int64)
        seld = np.array([], dtype=np.int64)
    else:
        order = np.lexsort([ids2, tie[ids2], fl, dd, ids1])
        ids1, ids2, dd = ids1[order], ids2[order], dd[order]
        # dedupe (a candidate can appear via both the overlap and a neighbor
        # path, e.g. a zero-length df2 interval exactly at start1, with
        # overlap (dd=0, flag=0) and abutting (dd=0, flag=1) entries) —
        # global first-occurrence per pair; the array is sorted by
        # (ids1, dd, flag, ...) so first = min (dd, flag)
        pair_key = ids1 * (n2 + 1) + ids2
        _, first = np.unique(pair_key, return_index=True)
        keep = np.sort(first)
        ids1, ids2, dd = ids1[keep], ids2[keep], dd[keep]
        borders = np.r_[True, ids1[1:] != ids1[:-1]]
        rank = np.arange(ids1.shape[0]) - np.maximum.accumulate(
            np.where(borders, np.arange(ids1.shape[0]), -1))
        m = rank < k
        sel1, sel2, seld = ids1[m], ids2[m], dd[m]

    # left-join semantics: df1 rows with no candidate get a null row
    matched = np.zeros(n1, bool)
    matched[sel1] = True
    miss = np.where(~matched)[0]
    out1 = np.concatenate([sel1, miss])
    out2 = np.concatenate([sel2, np.full(miss.shape[0], -1, dtype=np.int64)])
    outd = np.concatenate([seld,
                           np.zeros(miss.shape[0], dtype=np.int64)])
    return out1, out2, outd, pdf1, pdf2


def _closest_pandas(pdf1, pdf2, *, names1, names2, sfx1, sfx2,
                    sk1, ek1, sk2, ek2, k,
                    ignore_overlaps=False, ignore_upstream=False,
                    ignore_downstream=False, direction_col=None,
                    tie_breaking_col=None, self_mode=False,
                    return_overlap=False, return_distance=True):
    """One chromosome's closest output as a pandas frame: runs
    :func:`_closest_kernel` and assembles the suffixed left+right
    columns (left-join null row when ``pdf2`` is None/empty).  Shared by
    the batch cogroup path, the broadcast strategy, and the streaming
    static-annotation kernel so all emit byte-identical rows.

    Null-coordinate pdf2 rows are dropped here — the engine-wide
    null contract (null rows never match; the binned strategy gets this
    from its join predicate). The reference rejects such input outright
    (``is_bedframe(raise_errors=True)``, reference ``ops.py:1162``), so
    filtering is a documented relaxation, not a semantics change."""
    if pdf2 is not None and len(pdf2):
        ok = pdf2[[sk2, ek2]].notna().all(axis=1)
        if not ok.all():
            pdf2 = pdf2[ok].reset_index(drop=True)
    if pdf2 is None or len(pdf2) == 0:
        left = pdf1.copy()
        left.columns = [c + sfx1 for c in names1]
        for c in names2:
            left[c + sfx2] = None
        if return_overlap:
            left["have_overlap"] = None
            left["overlap_start"] = None
            left["overlap_end"] = None
        if return_distance:
            left["distance"] = None
        return left
    i1, i2, dist, pdf1s, pdf2s = _closest_kernel(
        pdf1, pdf2, sk1=sk1, ek1=ek1, sk2=sk2, ek2=ek2, k=k,
        ignore_overlaps=ignore_overlaps, ignore_upstream=ignore_upstream,
        ignore_downstream=ignore_downstream, direction_col=direction_col,
        tie_breaking_col=tie_breaking_col, self_mode=self_mode,
    )
    left = pdf1s.iloc[i1].reset_index(drop=True)
    left.columns = [c + sfx1 for c in names1]
    na = i2 < 0
    right = pdf2s.iloc[np.where(na, 0, i2)].reset_index(drop=True)
    right.columns = [c + sfx2 for c in names2]
    right[na] = None
    out = pd.concat([left, right], axis=1)
    if return_overlap:
        osv = np.maximum(left[sk1 + sfx1].to_numpy(np.int64, na_value=0),
                         right[sk2 + sfx2].to_numpy(np.int64, na_value=0))
        oev = np.minimum(left[ek1 + sfx1].to_numpy(np.int64, na_value=0),
                         right[ek2 + sfx2].to_numpy(np.int64, na_value=0))
        hov = osv < oev
        out["have_overlap"] = np.where(na, None, hov)
        out["overlap_start"] = np.where(hov & ~na, osv, None)
        out["overlap_end"] = np.where(hov & ~na, oev, None)
    if return_distance:
        out["distance"] = np.where(na, None, dist)
    return out


def closest_within(
    df1: DataFrame,
    df2: DataFrame,
    max_dist: int,
    k: int = 1,
    suffixes: tuple = ("", "_"),
    cols1=None,
    cols2=None,
) -> DataFrame:
    """Distance-capped kNN: the ≤k closest df2 intervals within
    ``max_dist`` of each df1 interval (overlaps = distance 0).

    The pure-DataFrame escape hatch for the cogrouped ``closest`` when a
    single chromosome exceeds one task's memory: expanding df1 by the cap
    turns the kNN into a bounded interval join (binned strategy →
    partitioned within chromosomes) + a per-row-id top-k window. df1 rows
    with no neighbor within the cap are dropped (inner semantics) —
    callers needing left semantics double the cap and retry the misses.

    Ties broken by (distance, start2, end2) — consistent with ``closest``.
    """
    from .ops import _with_rid, overlap
    from ..functions.intervals import genomic_distance

    if max_dist < 0 or k < 1:
        raise ValueError("max_dist>=0 and k>=1 required")
    ck1, sk1, ek1 = _resolve_cols(cols1)
    ck2, sk2, ek2 = _resolve_cols(cols2)
    sfx1, sfx2 = suffixes
    d1 = _with_rid(df1, ck1, sk1, ek1, "__cw_rid")
    # expand by max_dist+1: half-open probe overlap would miss a gap of
    # exactly max_dist; the exact distance filter below trims the excess
    pad = max_dist + 1
    probe = d1.withColumns(
        {
            "__cw_s": F.col(sk1),
            "__cw_e": F.col(ek1),
            sk1: F.col(sk1) - F.lit(pad),
            ek1: F.col(ek1) + F.lit(pad),
        }
    )
    pairs = overlap(probe, df2, how="inner", suffixes=suffixes,
                    cols1=cols1, cols2=cols2)
    ridc = "__cw_rid" + sfx1
    s1o, e1o = F.col("__cw_s" + sfx1), F.col("__cw_e" + sfx1)
    s2c, e2c = F.col(sk2 + sfx2), F.col(ek2 + sfx2)
    dist = genomic_distance(s1o, e1o, s2c, e2c)
    # internal rank distance: overlaps (0) sort before abutting neighbors
    # (gap 0 → 1) — matching `closest` and the reference kernel
    idist = F.when(overlap_predicate(s1o, e1o, s2c, e2c), F.lit(0)).otherwise(
        F.coalesce(F.try_add(dist, F.lit(1)), dist))  # saturate at extremes
    w = Window.partitionBy(ridc).orderBy(
        F.asc("__idist"), F.asc(sk2 + sfx2), F.asc(ek2 + sfx2)
    )
    out = (
        pairs.withColumn("distance", dist)
        .withColumn("__idist", idist)
        .filter(F.col("distance") <= max_dist)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .withColumns({sk1 + sfx1: s1o, ek1 + sfx1: e1o})
        .drop("__rk", "__idist", ridc, "__cw_s" + sfx1, "__cw_e" + sfx1)
    )
    return out


_CLOSEST_COGROUP_BYTES = 128 << 20  # above this combined scan size the
# cogrouped kernel's one-task-per-chromosome ceiling dominates (and a
# single-chrom group risks exceeding one task's memory); strategy='auto'
# switches to the binned cap-escalation plan. Crossover measured on a
# coordinate-shifted replication of the sf0.1 workload (8 chroms):
# 72 MB combined -> cogroup 7.6 s vs binned 11.6 s; 288 MB -> cogroup
# 66 s vs binned 24 s (SCALING §11; `python tools/ladder.py
# 'closest(auto)'` reproduces the ladder)


def _small_df2(df2: DataFrame) -> bool:
    """df2 under the broadcast bound -> the broadcast kernel wins (no
    shuffle of df1 at all). Same gate as ops' coverage/count kernels."""
    from .ops import _SMALL_INPUT_BYTES, _plan_size_bytes
    return _plan_size_bytes(df2) <= _SMALL_INPUT_BYTES


def _big_inputs(df1: DataFrame, df2: DataFrame) -> bool:
    from .ops import _plan_size_bytes, _threshold

    bar = _threshold(df1, "closestCogroupBytes", _CLOSEST_COGROUP_BYTES)
    return (_plan_size_bytes(df1) + _plan_size_bytes(df2)) > bar


def _closest_binned(
    df1: DataFrame, df2: DataFrame, *, k, ignore_overlaps, ignore_upstream,
    ignore_downstream, direction_col, tie_breaking_col, return_input,
    return_distance, return_overlap, suffixes, cols1, cols2,
) -> DataFrame:
    """Pure-DataFrame kNN via distance-cap escalation — the 100 TB path.

    Each round runs a cap-bounded binned interval join (parallel WITHIN
    chromosomes, unlike the per-chrom cogroup task): probe = df1 expanded
    by the cap. Rows that found ≥k candidates are complete (every candidate
    at distance ≤ cap is present, so their top-k is the global top-k);
    the rest retry with an 8× cap. Caps are PER-ROW columns seeded from a
    per-chromosome density estimate (k-NN spacing ~ k·span_c/n_c), so a
    heterogeneous genome neither overshoots its dense chromosomes nor
    starves its sparse ones; a row whose cap reaches the global coordinate
    span bound is unconditionally complete and leaves the ladder that rung
    (matched rows with <k candidates keep what exists; zero-match rows —
    including null/absent chroms — left-complete with null df2 columns,
    exact ``closest`` left semantics). df2 is persisted across rungs and
    each rung's binned join receives a driver-built span hint, so
    escalations re-scan the cache instead of re-deriving stats.
    """
    from .ops import overlap
    from ..functions.intervals import effective_end, genomic_distance

    ck1, sk1, ek1 = _resolve_cols(cols1)
    ck2, sk2, ek2 = _resolve_cols(cols2)
    sfx1, sfx2 = suffixes
    names1 = df1.columns
    names2 = df2.columns

    # Deduplicate identical df1 rows — the distinct row IS its own id
    # (struct of every column), so no id-minting window is needed. A
    # row_number over Window.partitionBy(chrom) here would re-serialize
    # each chromosome into one full-sort task — exactly the bottleneck
    # this strategy exists to avoid. Duplicates are interchangeable (one
    # shared candidate set); multiplicity is re-expanded at the end.
    d1 = (
        df1.groupBy(*[F.col(c) for c in names1])
        .agg(F.count(F.lit(1)).alias("__cb_mult"))
        .withColumn("__cb_rid", F.struct(*[F.col(c) for c in names1]))
    )

    # cap ladder bound: global coordinate span (one tiny agg job). The
    # FIRST rung is density-scaled PER CHROMOSOME, not span-scaled and
    # not globally: span/1024 blows up on dense inputs (the round-1
    # candidate join is probes x cap-window x density — measured 28x
    # wall at a 4x-replicated sf0.1 where the span-scaled cap admitted
    # ~340 candidates/probe for a k=1 query), and a GLOBAL density cap
    # over/under-shoots every chromosome of a heterogeneous genome (the
    # r4 ladder's 1.13 exponent came from dense chroms re-probing with
    # an 8x-escalated overshoot). Expected k-NN spacing on chromosome c
    # is ~ k x span_c / n_c; 16x covers clustering, the 8x ladder
    # escalates the sparse tail per row. ONE union-agg job yields the
    # global bound and df2's row count (a second stats job costs a
    # ~0.15 s scheduling floor locally — r5's separate b1/b2 collects
    # were pure fixed cost); the per-chrom table is a second job taken
    # only on the big path (broadcast-joined onto df1; chroms absent
    # from df2 get cap0 = bound — they can never match and
    # left-complete in round 1).
    stats = (
        df1.select(F.col(sk1).cast("long").alias("lo"),
                   F.col(ek1).cast("long").alias("hi"),
                   F.lit(0).alias("__t"))
        .unionByName(df2.select(F.col(sk2).cast("long").alias("lo"),
                                F.col(ek2).cast("long").alias("hi"),
                                F.lit(1).alias("__t")))
        .agg(F.min("lo").alias("lo"), F.max("hi").alias("hi"),
             F.sum("__t").alias("n2"))
        .collect()[0]
    )
    from .ops import INT64_MAX
    # clamp: sentinel ends (INT64_MAX) would push the span past int64
    # (py4j cannot even ship the literal) — the bound only terminates
    # the ladder, so clamping keeps completeness (nothing is farther
    # than INT64_MAX away)
    have_span = stats["lo"] is not None and stats["hi"] is not None
    bound = (min(stats["hi"] - stats["lo"] + 2, INT64_MAX)
             if have_span else 2)

    def _cap0(span_c, n_c):
        return int(min(max(16 * k * span_c // max(n_c, 1), 64), bound))

    # SIZE GATE (r5 verdict #1): the per-chrom cap table, driver bin
    # hints, per-row escalation and cross-rung df2 persist are fixed
    # costs that only pay off at scale — at sf0.1 they regressed the
    # explicit-binned bench row 1.59 -> ~3 s for zero benefit. Below the
    # cogroup crossover (the size where strategy='auto' would never pick
    # binned anyway), run the simple ladder: one global density cap,
    # uniform per-rung caps, no hints (overlap auto-picks its plain
    # small-input plan), no persist of df2.
    small = not _big_inputs(df1, df2)
    per_chrom = [] if small else df2.groupBy(F.col(ck2).alias("__cb_c")).agg(
        F.min(sk2).alias("lo"), F.max(ek2).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).limit(65537).collect()

    if len(per_chrom) > 65536 or not per_chrom:
        # small path, implausibly many chromosomes, or empty df2:
        # one global cap
        cap_rows = None
        min_cap0 = mean_cap0 = _cap0(bound, stats["n2"] or 1)
    else:
        # null-chrom df2 groups are excluded: a null chrom never matches,
        # so null-chrom df1 rows coalesce to cap0=bound and left-complete
        # in round 1 instead of riding the ladder
        cap_rows = [(r["__cb_c"], _cap0((r["hi"] - r["lo"] + 2), r["n"]))
                    for r in per_chrom
                    if r["lo"] is not None and r["__cb_c"] is not None]
        caps_only = [c for _, c in cap_rows] or [bound]
        min_cap0 = min(caps_only)
        mean_cap0 = sum(caps_only) // len(caps_only)
    n_rounds, c = 1, min_cap0
    while c < bound:
        c *= 8
        n_rounds += 1
    # bound the ladder: each rung is driver-EAGER, and a pathological
    # span (sentinel coordinates push the bound toward INT64_MAX) would
    # otherwise take log8(bound/cap0) ~ 21 rounds of re-probing a few
    # stragglers. Five rungs cover any real genome (cap0 >= 64 ->
    # 8^4 * 64 = 262 Mb span); the FINAL rung always probes at the full
    # bound, so completeness never depends on the schedule.
    n_rounds = min(n_rounds, 5)

    # attach the per-chromosome round-1 cap to each (deduped) df1 row;
    # missing chroms (incl. null) coalesce to the bound — zero candidates
    # by construction, so they complete (left-null) in round 1 instead of
    # riding every rung
    if cap_rows is not None:
        ctype = df2.schema[ck2].dataType
        caps_df = local_df(
            cap_rows, T.StructType([T.StructField("__cb_c", ctype),
                                    T.StructField("__cb_capc", T.LongType())]))
        d1 = (
            d1.join(F.broadcast(caps_df), d1[ck1].eqNullSafe(F.col("__cb_c")),
                    "left")
            .withColumn("__cb_cap0",
                        F.coalesce(F.col("__cb_capc"), F.lit(bound)))
            .drop("__cb_c", "__cb_capc")
        )
    else:
        d1 = d1.withColumn("__cb_cap0", F.lit(min_cap0).cast("long"))

    rid1 = "__cb_rid" + sfx1
    s1o, e1o = F.col("__cb_s" + sfx1), F.col("__cb_e" + sfx1)
    s2c, e2c = F.col(sk2 + sfx2), F.col(ek2 + sfx2)

    # bin hints for every rung (big path only), constructed DRIVER-SIDE
    # from the stats already collected — without them each
    # overlap(binned) round runs two more agg jobs over (expanded probe,
    # df2) just to re-measure a span we already know. lo/hi from the raw
    # global bounds (clipping stays lossless: pairs only exist inside
    # df2's span); bin width from the expanded probe's typical length at
    # that rung. On the small path the hint is omitted so overlap
    # auto-picks its plain small-input plan (forcing the binned
    # explode+shuffle on a 20k-row probe was part of the r5 regression).
    from .ops import _BinStats
    hint_lo = stats["lo"] if have_span else 0
    hint_hi = stats["hi"] if have_span else 1
    # span/bin_size clamp (r5 ADVICE): a negative-saturated start
    # (-INT64_MAX, e.g. from expand saturation) plus an INT64_MAX
    # sentinel end pushes the raw span past int64 and the derived
    # bin_size would fail as a Spark literal
    span = min(max(hint_hi - hint_lo, 1), INT64_MAX)

    def _hint(cap_est: int):
        avg_len = min(float(2 * (cap_est + 1) + 64), float(span))
        bin_size = int(min(max(avg_len * 16, span / 4096, 1024), span,
                           INT64_MAX))
        return None if small else _BinStats(hint_lo, hint_hi, bin_size)

    # The ladder is driver-EAGER: each round persists its `found` rows and
    # the shrinking `remaining` set and materializes the remaining-count.
    # A fully lazy composition would embed round i's whole plan inside
    # every later round's anti-join (quadratic plan blowup — measured 4×
    # wall at sf0.1), and could never exit early; with the count we stop
    # as soon as every row has its k neighbors (round 1 usually finishes
    # all but the sparse tail). MEMORY_AND_DISK so a 100 TB remaining set
    # spills instead of evicting. Every persist is released by the
    # caller's owner (core/persist.py) except superseded remaining sets,
    # which are unpersisted as soon as the next one is counted.

    # a zero-length df2 row exactly at INT64_MAX can never fall inside a
    # half-open probe window whose padded end saturates at INT64_MAX —
    # rewrite it (JOIN CANDIDACY ONLY) to [MAX-1, MAX): a superset of
    # its true candidacy, corrected by the keep filter; the original
    # start is restored right after each rung's join. Guarded by the
    # observed span so normal data keeps an untouched plan. (The bottom
    # edge needs no rewrite: a half-open window's START is inclusive and
    # the padded start saturates to INT64_MIN below.)
    edge_fix = have_span and stats["hi"] == INT64_MAX
    df2j = df2
    if edge_fix:
        df2j = df2.withColumn("__cb_os", F.col(sk2)).withColumn(
            sk2,
            F.when((F.col(sk2) == F.col(ek2))
                   & (F.col(sk2) == F.lit(INT64_MAX)),
                   F.lit(INT64_MAX - 1)).otherwise(F.col(sk2)))

    # df2 is scanned once per rung — persist it across the ladder so
    # rungs 2+ read the cache, not the source (the r4 ladder re-scanned
    # and re-measured df2 every escalation); skipped on the small path
    # (a small scan costs less than the cache bookkeeping)
    df2p = df2j
    if n_rounds > 1 and not small:
        df2p = persist(df2j)

    done_parts = []
    remaining = d1
    for i in range(n_rounds):
        last = i == n_rounds - 1
        m = 8 ** i
        # per-row cap at this rung: min(cap0 * 8^i, bound), overflow-safe
        # (cap0 <= bound, so the multiply only runs when it can't
        # overflow); the final rung always probes the full bound (the
        # ladder length is clamped, see n_rounds above)
        if last:
            capc = F.lit(bound).cast("long")
        elif cap_rows is None:
            # uniform global cap: the per-rung cap is a driver constant
            capc = F.lit(min(min_cap0 * m, bound)).cast("long")
        else:
            capc = F.when(
                F.col("__cb_cap0") > F.lit(bound // m),
                F.lit(bound).cast("long")
            ).otherwise(F.least(F.col("__cb_cap0") * F.lit(m),
                                F.lit(bound)).cast("long"))
        # try_add/try_subtract: a sentinel end (INT64_MAX) + pad
        # overflows under ANSI; the padded probe window only needs to
        # CONTAIN the true window, so overflow saturates to the extremes
        # (the binned join clips to the observed span anyway)
        pad = F.least(capc, F.lit(INT64_MAX - 1)) + F.lit(1)  # cap+1 itself
        # can overflow when the cap IS the clamped INT64_MAX bound
        probe = remaining.withColumns({
            "__cb_s": F.col(sk1), "__cb_e": F.col(ek1),
            "__cb_cap": capc,
            sk1: F.when(F.col(sk1).isNull(), F.col(sk1)).otherwise(
                F.coalesce(F.try_subtract(F.col(sk1), pad),
                           F.lit(-INT64_MAX - 1))),  # saturate to MIN:
            # the window start is INCLUSIVE, so a candidate at the very
            # bottom of the domain stays reachable
            ek1: F.when(F.col(ek1).isNull(), F.col(ek1)).otherwise(
                F.coalesce(F.try_add(F.col(ek1), pad),
                           F.lit(INT64_MAX))),
        })
        pairs = overlap(probe, df2p, how="inner", suffixes=suffixes,
                        cols1=cols1, cols2=cols2,
                        _bin_hint=_hint(min(mean_cap0 * m, bound)))
        if edge_fix:
            # restore the edge points' true start before any distance /
            # side / output computation
            pairs = pairs.withColumn(sk2 + sfx2,
                                     F.col("__cb_os" + sfx2)) \
                         .drop("__cb_os" + sfx2)
        is_ov = overlap_predicate(s1o, e1o, s2c, e2c)
        ee1 = effective_end(s1o, e1o)
        ee2 = effective_end(s2c, e2c)
        left_side = ~is_ov & (ee2 <= s1o)
        right_side = ~is_ov & (s2c >= ee1)
        along = (F.lit(True) if direction_col is None
                 else F.col(direction_col + sfx1) != F.lit("-"))
        dist = genomic_distance(s1o, e1o, s2c, e2c)
        keep = dist <= F.col("__cb_cap" + sfx1)
        if ignore_overlaps:
            keep &= ~is_ov
        if ignore_upstream:
            keep &= ~((along & left_side) | (~along & right_side))
        if ignore_downstream:
            keep &= ~((along & right_side) | (~along & left_side))
        idist = F.when(is_ov, F.lit(0)).otherwise(
            F.coalesce(F.try_add(dist, F.lit(1)), dist))  # saturating
        order = [F.asc("__idist")]
        if tie_breaking_col is not None:
            order.append(F.asc(tie_breaking_col + sfx2))
        order += [F.asc(sk2 + sfx2), F.asc(ek2 + sfx2)]
        wk = Window.partitionBy(rid1).orderBy(*order)
        wc = Window.partitionBy(rid1)
        ranked = (
            pairs.withColumn("__idist", idist)
            .withColumn("distance", dist)
            .filter(keep)
            .withColumn("__rk", F.row_number().over(wk))
            .filter(F.col("__rk") <= k)
            .withColumn("__cnt", F.count(F.lit(1)).over(wc))
        )
        at_bound = F.col("__cb_cap" + sfx1) >= F.lit(bound)
        if not last:
            # a row is complete when it has k candidates within its cap
            # (every closer candidate is inside the window), OR its cap
            # already reached the span bound (completeness unconditional
            # — it keeps whatever candidates exist)
            ranked = ranked.filter((F.col("__cnt") >= k) | at_bound)
        found = persist(
            ranked
            .withColumns({sk1 + sfx1: s1o, ek1 + sfx1: e1o})
            .drop("__rk", "__cnt", "__idist", "__cb_s" + sfx1,
                  "__cb_e" + sfx1, "__cb_cap" + sfx1, "__cb_cap0" + sfx1))
        done_parts.append(found)

        def _left_null(misses):
            null_cols = {c.name + sfx2: F.lit(None).cast(c.dataType)
                         for c in df2.schema.fields}
            return misses.select(
                *[F.col(c).alias(c + sfx1) for c in names1],
                F.col("__cb_rid").alias(rid1),
                F.col("__cb_mult").alias("__cb_mult" + sfx1),
                *[null_cols[c + sfx2].alias(c + sfx2) for c in names2],
                F.lit(None).cast("long").alias("distance"),
            )

        matched_rids = found.select(F.col(rid1).alias("__cb_rid")).distinct()
        if last:
            # left-completion: rows that matched nothing at the full bound
            done_parts.append(_left_null(
                remaining.join(matched_rids, "__cb_rid", "left_anti")))
        else:
            if cap_rows is None:
                # uniform cap: a non-last rung's cap is < bound by the
                # n_rounds construction, so the bound-exit branch below
                # is provably empty — skip its anti-join entirely
                nxt = persist(remaining.join(
                    matched_rids, "__cb_rid", "left_anti"))
            else:
                # rows whose cap hit the bound THIS rung leave the
                # ladder now either way: matched ones are in `found`;
                # zero-match ones left-complete here (re-probing them at
                # full bound every remaining rung is the most expensive
                # join there is)
                cap_now = F.when(
                    F.col("__cb_cap0") > F.lit(bound // m), F.lit(bound)
                ).otherwise(
                    F.least(F.col("__cb_cap0") * F.lit(m), F.lit(bound)))
                bound_rows = remaining.filter(cap_now >= F.lit(bound))
                done_parts.append(_left_null(
                    bound_rows.join(matched_rids, "__cb_rid", "left_anti")))
                nxt = persist(remaining.filter(cap_now < F.lit(bound)).join(
                    matched_rids, "__cb_rid", "left_anti"))
            n_left = nxt.count()
            if remaining is not d1:
                remaining.unpersist()
            remaining = nxt
            if n_left == 0:
                # every row complete — no further rounds, no left-nulls
                break

    out = done_parts[0]
    for part in done_parts[1:]:
        out = out.unionByName(part, allowMissingColumns=True)
    # re-expand duplicate df1 rows collapsed at the start
    out = out.withColumn(
        "__cb_dup", F.explode(F.sequence(F.lit(1), F.col("__cb_mult" + sfx1)))
    ).drop("__cb_dup", "__cb_mult" + sfx1)
    if return_overlap:
        s1f, e1f = F.col(sk1 + sfx1), F.col(ek1 + sfx1)
        both = F.col(sk2 + sfx2).isNotNull()
        osv = F.greatest(s1f, F.col(sk2 + sfx2))
        oev = F.least(e1f, F.col(ek2 + sfx2))
        hov = F.when(both, osv < oev)
        out = out.withColumns({
            "have_overlap": hov,
            "overlap_start": F.when(both & (osv < oev), osv),
            "overlap_end": F.when(both & (osv < oev), oev),
        })
    out = out.drop(rid1)
    if not return_distance:
        out = out.drop("distance")
    if not return_input:
        keep_cols = []
        if return_overlap:
            keep_cols += ["have_overlap", "overlap_start", "overlap_end"]
        if return_distance:
            keep_cols.append("distance")
        out = out.select(*keep_cols)
    return out


def _closest_broadcast(
    df1: DataFrame, df2: DataFrame, *, k, ignore_overlaps, ignore_upstream,
    ignore_downstream, direction_col, tie_breaking_col, return_input,
    return_distance, return_overlap, suffixes, cols1, cols2,
    max_rows: int | None = None, tiny: bool = False,
) -> DataFrame | None:
    """Broadcast-kernel closest for a small df2 (the "nearest gene
    against a huge table" shape): df2 is collected ONCE at
    plan-construction time into per-chromosome pandas frames and shipped
    as a Spark broadcast; a ``mapInPandas`` over df1 runs the SAME
    per-chromosome kernel and row assembly as the cogroup path
    (:func:`_closest_pandas`), so every row is byte-identical — but df1
    never shuffles and parallelism is scan partitions, not chromosome
    count. Same collected-dim contract (and kernel reuse) as
    ``streaming.stream_closest_static``.

    ``max_rows`` (the auto-gate path) hard-bounds the driver collect:
    Catalyst's size estimate alone admits df2 here, and a bad estimate
    must not become an unbounded toPandas — over the cap, returns
    ``None`` so the caller falls back (see ``ops._bounded_pdf``; no
    extra probe job for genuinely tiny estimates, which keeps the auto
    path's fixed cost at ONE driver job).

    ``tiny`` (the auto gate, ``ops._tiny(df1)``): df1 is collected too,
    under the same row cap, and the per-chromosome loop runs on the
    driver; the rows (at most k per df1 row, plus left-join nulls) hand
    back as a LocalRelation — no shuffle, no round-robin spread, no
    Python-worker stage."""
    ck1, sk1, ek1 = _resolve_cols(cols1)
    ck2, sk2, ek2 = _resolve_cols(cols2)
    sfx1, sfx2 = suffixes
    names1 = list(df1.columns)
    names2 = list(df2.columns)
    if max_rows is not None:
        from .ops import _bounded_pdf
        ann_pd = _bounded_pdf(df2, max_rows)
        if ann_pd is None:
            return None
    else:
        ann_pd = df2.toPandas()
    per2 = {c: grp.reset_index(drop=True)
            for c, grp in ann_pd.groupby(ck2, sort=False)}

    out_fields = [T.StructField(f.name + sfx1, f.dataType, True)
                  for f in df1.schema.fields]
    out_fields += [T.StructField(f.name + sfx2, f.dataType, True)
                   for f in df2.schema.fields]
    if return_overlap:
        out_fields += [
            T.StructField("have_overlap", T.BooleanType(), True),
            T.StructField("overlap_start", T.LongType(), True),
            T.StructField("overlap_end", T.LongType(), True),
        ]
    if return_distance:
        out_fields.append(T.StructField("distance", T.LongType(), True))
    out_schema = T.StructType(out_fields)
    out_names = [f.name for f in out_fields]

    def batch(pdf, per2):
        outs = []
        for chrom, p1 in pdf.groupby(ck1, sort=False, dropna=False):
            p2 = None if pd.isna(chrom) else per2.get(chrom)
            outs.append(_closest_pandas(
                p1.reset_index(drop=True), p2,
                names1=names1, names2=names2, sfx1=sfx1, sfx2=sfx2,
                sk1=sk1, ek1=ek1, sk2=sk2, ek2=ek2, k=k,
                ignore_overlaps=ignore_overlaps,
                ignore_upstream=ignore_upstream,
                ignore_downstream=ignore_downstream,
                direction_col=direction_col,
                tie_breaking_col=tie_breaking_col,
                return_overlap=return_overlap,
                return_distance=return_distance,
            ))
        return pd.concat(outs, ignore_index=True)[out_names]

    from .ops import _bounded_arrow, _spread_if_underpartitioned
    # probe=False: a tiny frame is far under the probe's size bar
    tbl = _bounded_arrow(df1, max_rows, probe=False) if tiny else None
    if tbl is not None:
        # the conversion mapInPandas applies, so rows match it exactly
        pdf1 = tbl.to_pandas(date_as_object=True)
        out = local_df(batch(pdf1, per2) if len(pdf1) else [], out_schema)
    else:
        ann_bc = df1.sparkSession.sparkContext.broadcast(per2)

        def kern(batches):
            for pdf in batches:
                if len(pdf):
                    yield batch(pdf, ann_bc.value)

        out = _spread_if_underpartitioned(df1).mapInPandas(kern, out_schema)
    if not return_input:
        keep = []
        if return_overlap:
            keep += ["have_overlap", "overlap_start", "overlap_end"]
        if return_distance:
            keep.append("distance")
        out = out.select(*keep)
    return out


@owns
def closest(
    df1: DataFrame,
    df2: DataFrame | None = None,
    k: int = 1,
    ignore_overlaps: bool = False,
    ignore_upstream: bool = False,
    ignore_downstream: bool = False,
    direction_col: str | None = None,
    tie_breaking_col: str | None = None,
    return_input: bool = True,
    return_distance: bool = True,
    return_overlap: bool = False,
    suffixes: tuple = ("", "_"),
    cols1=None,
    cols2=None,
    strategy: str = "auto",
) -> DataFrame:
    """For every df1 interval, the k closest df2 intervals (see module doc).

    ``strategy``: 'cogroup' = per-chrom vectorized kernel (fast, one task
    per chromosome); 'binned' = pure-DataFrame cap-escalation plan
    (parallel within chromosomes — the huge-single-chrom path);
    'broadcast' = df2 collected once + per-chromosome pandas frames
    shipped to a ``mapInPandas`` over df1 — zero shuffle of df1,
    parallelism = scan partitions (the small-annotation / huge-df1
    shape; same per-chrom kernel, byte-identical rows). 'auto' picks
    broadcast when df2's scan size fits the broadcast bound (non-self
    mode), else binned when the combined input scan size exceeds
    ``_CLOSEST_COGROUP_BYTES`` and the feature set allows it (self-mode
    and callable tie-breakers need a kernel strategy).

    The binned path persists df2 and each ladder rung. Called outside a
    scope, those persists are released when the returned frame is
    garbage-collected; a transform chained straight onto the call
    (``bf.closest(a, b).filter(...)``) drops that frame at once, and the
    derived plan then recomputes the ladder uncached. Inside
    ``with bf.scope():`` they stay cached until the block exits, so
    derived frames run warm there.
    """
    if k < 1:
        raise ValueError("k>=1 required")
    self_mode = df2 is None
    if df2 is df1:
        raise ValueError("pass df2=None for self-closest")
    if self_mode:
        df2 = df1
        cols2 = cols1
    ck1, sk1, ek1 = _resolve_cols(cols1)
    ck2, sk2, ek2 = _resolve_cols(cols2)
    _verify_columns(df1, [ck1, sk1, ek1], "closest df1")
    _verify_columns(df2, [ck2, sk2, ek2], "closest df2")
    sfx1, sfx2 = suffixes

    if strategy not in ("auto", "cogroup", "binned", "broadcast"):
        raise ValueError(
            "strategy must be 'auto', 'cogroup', 'binned' or 'broadcast'")
    binned_ok = not self_mode and not callable(tie_breaking_col)
    if strategy == "binned" and not binned_ok:
        raise ValueError(
            "strategy='binned' does not support self-mode or callable "
            "tie_breaking_col; use strategy='cogroup'"
        )
    if strategy == "broadcast" and self_mode:
        raise ValueError(
            "strategy='broadcast' does not support self-mode (df2 would "
            "be df1 itself — unbounded); use strategy='cogroup'"
        )
    if strategy == "broadcast" or (strategy == "auto" and not self_mode
                                   and _small_df2(df2)):
        from .ops import _SMALL_INPUT_MAX_ROWS, _threshold, _tiny
        cap = (None if strategy == "broadcast"  # explicit request: trust it
               else _threshold(df2, "smallInputMaxRows", _SMALL_INPUT_MAX_ROWS))
        out = _closest_broadcast(
            df1, df2, k=k, ignore_overlaps=ignore_overlaps,
            ignore_upstream=ignore_upstream, ignore_downstream=ignore_downstream,
            direction_col=direction_col, tie_breaking_col=tie_breaking_col,
            return_input=return_input, return_distance=return_distance,
            return_overlap=return_overlap, suffixes=suffixes,
            cols1=cols1, cols2=cols2, max_rows=cap,
            tiny=strategy == "auto" and _tiny(df1),
        )
        if out is not None:
            return out
        # auto-gate mis-estimate: df2 exceeded the hard row cap — fall
        # through to the distributed strategies
    if strategy == "binned" or (strategy == "auto" and binned_ok and _big_inputs(df1, df2)):
        return _closest_binned(
            df1, df2, k=k, ignore_overlaps=ignore_overlaps,
            ignore_upstream=ignore_upstream, ignore_downstream=ignore_downstream,
            direction_col=direction_col, tie_breaking_col=tie_breaking_col,
            return_input=return_input, return_distance=return_distance,
            return_overlap=return_overlap, suffixes=suffixes,
            cols1=cols1, cols2=cols2,
        )

    out_fields = [T.StructField(f.name + sfx1, f.dataType, True) for f in df1.schema.fields]
    out_fields += [T.StructField(f.name + sfx2, f.dataType, True) for f in df2.schema.fields]
    if return_overlap:
        out_fields += [
            T.StructField("have_overlap", T.BooleanType(), True),
            T.StructField("overlap_start", T.LongType(), True),
            T.StructField("overlap_end", T.LongType(), True),
        ]
    if return_distance:
        out_fields.append(T.StructField("distance", T.LongType(), True))
    out_schema = T.StructType(out_fields)
    names1 = [f.name for f in df1.schema.fields]
    names2 = [f.name for f in df2.schema.fields]

    def fn(key, pdf1: pd.DataFrame, pdf2: pd.DataFrame) -> pd.DataFrame:
        # undo the cogroup-side rename (see below)
        pdf2 = pdf2.set_axis(names2, axis=1)
        if len(pdf1) == 0:
            return pd.DataFrame(columns=[f.name for f in out_fields])
        return _closest_pandas(
            pdf1, None if key[0] is None else pdf2,
            names1=names1, names2=names2, sfx1=sfx1, sfx2=sfx2,
            sk1=sk1, ek1=ek1, sk2=sk2, ek2=ek2, k=k,
            ignore_overlaps=ignore_overlaps, ignore_upstream=ignore_upstream,
            ignore_downstream=ignore_downstream, direction_col=direction_col,
            tie_breaking_col=tie_breaking_col, self_mode=self_mode,
            return_overlap=return_overlap, return_distance=return_distance,
        )

    # Rename df2's columns before the cogroup. When df2 shares attribute
    # lineage with df1 (self-mode, or df2 derived from df1) AND the output
    # schema reuses the input column names, Spark's self-cogroup attribute
    # dedup can truncate the right-side frame to just the grouping column
    # (observed on Spark 4.1: right frame arrives as ['chrom'] only).
    # Unique right-side names make the plan collision-free; ``fn`` renames
    # them back before the kernel runs.
    df2r = df2.toDF(*["__r__" + c for c in df2.columns])
    grouped = df1.groupBy(F.col(ck1)).cogroup(df2r.groupBy(F.col("__r__" + ck2)))
    out = grouped.applyInPandas(fn, out_schema)
    if not return_input:
        keep = []
        if return_overlap:
            keep += ["have_overlap", "overlap_start", "overlap_end"]
        if return_distance:
            keep.append("distance")
        out = out.select(*keep)
    return out
