"""k-nearest-neighbor interval join (``closest``).

Semantics parity with reference ``ops.py:1043-1240`` + kernels
``arrops.py:506-754``: for every df1 interval, the k closest df2 intervals
(overlapping ⇒ distance 0); optional ignore-overlaps / directional filters
(strand-aware via ``direction_col``); ties broken by (distance,
tie_breaking_col, canonical df2 order).

Physical design: OSS Spark has no as-of/kNN join. The kernel strategies
run one vectorized sort+searchsorted kernel (``arrops.closest_kernel``)
per chromosome through one Arrow-in/Arrow-out body (:class:`_ClosestBody`):
cogrouped per chromosome (``applyInArrow`` — both sides shuffle once on
chrom), over a collected small df2 broadcast as an Arrow table
(``mapInArrow`` over df1), or on the driver for tiny inputs. This
parallelizes across chromosomes; for single-chrom skew the cogroup
group is one task — acceptable because the kernel is O(n log n)
vectorized, and k-NN is not separable by genomic bin without a distance
cap. Large inputs take the binned strategy: a distance-capped
pure-DataFrame plan (binned join within a cap + window rank, escalating
the cap until k found).

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
  tie value among equidistant candidates, nulls last).
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
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.arrops import closest_kernel, group_rows
from ..core.construction import local_df
from ..core.persist import owns, persist
from ..core.specs import _resolve_cols, _verify_columns
from ..functions.intervals import overlap_predicate


def _tie_rank(col) -> np.ndarray:
    """Dense ascending rank of tie-breaking values, nulls last (the
    binned window's ``asc_nulls_last``)."""
    return pc.rank(col, sort_keys="ascending", null_placement="at_end",
                   tiebreaker="dense").to_numpy()


def _canonical(t: pa.Table, sk: str, ek: str) -> pa.Table:
    """``t`` sorted by (start, end, every other column): self-mode's
    positional exclusion needs both cogroup sides, which Spark delivers
    in arbitrary and possibly different orders, in ONE order.
    Coordinate duplicates with equal payloads are interchangeable, so
    positional identity stays valid (exact dups remain each other's
    distance-0 closest, matching reference ops.py self-closest).
    Nested payloads (list/struct/map) cannot be sorted and are ordered
    by their string form, which still gives both sides one total
    order."""
    names = [sk, ek] + [c for c in t.column_names if c not in (sk, ek)]
    keys = pa.table({
        c: (pa.array([None if v is None else str(v)
                      for v in t[c].to_pylist()], pa.string())
            if pa.types.is_nested(t[c].type) else t[c])
        for c in names})
    return t.take(pc.sort_indices(
        keys, [(c, "ascending") for c in names], null_placement="at_end"))


def _valid_coords(t: pa.Table, ck: str, sk: str, ek: str):
    """(rows with non-null chrom, start and end as a bool mask, start and
    end as int64 arrays with nulls read as 0)."""
    ok = pc.and_(pc.and_(pc.is_valid(t[ck]), pc.is_valid(t[sk])),
                 pc.is_valid(t[ek]))
    return (ok.to_numpy(zero_copy_only=False),
            t[sk].cast(pa.int64()).fill_null(0).to_numpy(),
            t[ek].cast(pa.int64()).fill_null(0).to_numpy())


class _ClosestBody:
    """The one closest body, Arrow in and Arrow out:
    ``body(t1, t2) -> pa.Table`` of the suffixed df1 + df2 columns (plus
    overlap / distance columns when asked), for tables that may hold
    any number of chromosomes. The cogroup path (``applyInArrow``), the
    broadcast path (``mapInArrow``, which ``stream_closest_static``
    uses too) and the tiny driver path all call it, so every strategy
    emits the same rows.

    Rows are grouped per chromosome with ``arrops.group_rows`` and each
    group runs ``arrops.closest_kernel``. Output columns are built with
    ``take``, so int64 values stay exact next to nulls. Null rules (the
    binned strategy's, from its join predicate): a df1 row with a null
    chrom, start or end matches nothing and gets the left-join null row;
    a df2 row with one is dropped. The reference rejects such input
    outright (``is_bedframe(raise_errors=True)``, reference
    ``ops.py:1162``), so this is a documented relaxation.

    A callable ``tie_breaking_col`` (reference surface: f(DataFrame) ->
    Series, ``ops.py:972-980``) receives each chromosome's df2 rows as
    pandas — the body's only pandas conversion."""

    def __init__(self, *, cols1, cols2, suffixes, k, ignore_overlaps,
                 ignore_upstream, ignore_downstream, direction_col,
                 tie_breaking_col, return_overlap, return_distance,
                 self_mode=False):
        self.c1 = _resolve_cols(cols1)
        self.c2 = _resolve_cols(cols2)
        self.sfx1, self.sfx2 = suffixes
        self.kw = dict(k=k, ignore_overlaps=ignore_overlaps,
                       ignore_upstream=ignore_upstream,
                       ignore_downstream=ignore_downstream,
                       self_mode=self_mode)
        self.direction_col = direction_col
        self.tie = tie_breaking_col
        self.return_overlap = return_overlap
        self.return_distance = return_distance
        self._side2 = (None, None)

    def side2(self, t2: pa.Table):
        """df2's valid rows grouped per chromosome, with int64
        coordinates and tie ranks; kept for the last table seen, so a
        broadcast df2 is prepared once per task, not once per batch."""
        if self._side2[0] is not t2:
            ok, s2, e2 = _valid_coords(t2, *self.c2)
            keys, groups = group_rows(t2, [self.c2[0]])
            per = {c: ix[ok[ix]] for c, ix in zip(keys[0].to_pylist(), groups)
                   if c is not None}
            tie = (_tie_rank(t2[self.tie])
                   if isinstance(self.tie, str) else None)
            self._side2 = (t2, (per, s2, e2, tie))
        return self._side2[1]

    def __call__(self, t1: pa.Table, t2: pa.Table) -> pa.Table:
        ck1, sk1, ek1 = self.c1
        if self.kw["self_mode"]:
            t1 = _canonical(t1, sk1, ek1)
            t2 = _canonical(t2, *self.c2[1:])
        per, s2, e2, tie = self.side2(t2)
        ok1, s1, e1 = _valid_coords(t1, ck1, sk1, ek1)
        along = np.ones(t1.num_rows, bool)
        if self.direction_col is not None:
            along = pc.fill_null(pc.not_equal(
                t1[self.direction_col].cast(pa.string()), "-"), True
            ).to_numpy(zero_copy_only=False)
        take1 = [np.flatnonzero(~ok1)]
        take2 = [np.full(take1[0].shape[0], -1, np.int64)]
        dist = [np.zeros(take1[0].shape[0], np.int64)]
        keys, groups = group_rows(t1, [ck1])
        for c, ix in zip(keys[0].to_pylist(), groups):
            r1 = ix[ok1[ix]]
            r2 = per.get(c, np.zeros(0, np.int64))
            if callable(self.tie):
                t = _tie_rank(pa.array(self.tie(t2.take(r2).to_pandas()),
                                       from_pandas=True))
            else:
                t = None if tie is None else tie[r2]
            i1, i2, d = closest_kernel(s1[r1], e1[r1], s2[r2], e2[r2],
                                       tie=t, along=along[r1], **self.kw)
            take1.append(r1[i1])
            take2.append(np.append(r2, -1)[i2])  # a miss (-1) stays -1
            dist.append(d)
        take1, take2, dist = map(np.concatenate, (take1, take2, dist))
        miss = take2 < 0
        cols = (t1.take(pa.array(take1)).columns
                + t2.take(pa.array(take2, mask=miss)).columns)
        names = ([c + self.sfx1 for c in t1.column_names]
                 + [c + self.sfx2 for c in t2.column_names])
        if self.return_overlap:
            # index -1 (a miss) reads the appended 0; masked below
            osv = np.maximum(s1[take1], np.append(s2, 0)[take2])
            oev = np.minimum(e1[take1], np.append(e2, 0)[take2])
            hov = osv < oev
            cols += [pa.array(hov, mask=miss),
                     pa.array(osv, mask=miss | ~hov),
                     pa.array(oev, mask=miss | ~hov)]
            names += ["have_overlap", "overlap_start", "overlap_end"]
        if self.return_distance:
            cols.append(pa.array(dist, mask=miss))
            names.append("distance")
        return pa.Table.from_arrays(cols, names=names)


def _out_schema(df1, df2, suffixes, return_overlap, return_distance):
    """The kernel strategies' output schema: suffixed df1 and df2
    fields, then the optional overlap and distance columns."""
    sfx1, sfx2 = suffixes
    fields = [T.StructField(f.name + sfx1, f.dataType, True)
              for f in df1.schema.fields]
    fields += [T.StructField(f.name + sfx2, f.dataType, True)
               for f in df2.schema.fields]
    if return_overlap:
        fields += [
            T.StructField("have_overlap", T.BooleanType(), True),
            T.StructField("overlap_start", T.LongType(), True),
            T.StructField("overlap_end", T.LongType(), True),
        ]
    if return_distance:
        fields.append(T.StructField("distance", T.LongType(), True))
    return T.StructType(fields)


def _outputs(out, return_input, return_overlap, return_distance):
    """``return_input=False``: keep only the overlap/distance columns."""
    if return_input:
        return out
    keep = []
    if return_overlap:
        keep += ["have_overlap", "overlap_start", "overlap_end"]
    if return_distance:
        keep.append("distance")
    return out.select(*keep)


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
    from ..functions.intervals import genomic_distance

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
        # the kernel's candidate sets: overlaps, and neighbours on each
        # side by RAW coordinates (left: end2 <= start1, right: start2 >=
        # end1), so a pair with a point can sit in several; it is kept
        # when any set that is not ignored holds it. Coincident points
        # overlap even at INT64_MAX, where the saturating point rewrite
        # alone would say they do not.
        is_ov = overlap_predicate(s1o, e1o, s2c, e2c) | (
            (s1o == e1o) & (s2c == e2c) & (s1o == s2c))
        left, right = e2c <= s1o, s2c >= e1o
        # a null strand reads as '+', as in the kernel
        along = (F.lit(True) if direction_col is None
                 else F.coalesce(F.col(direction_col + sfx1) != F.lit("-"),
                                 F.lit(True)))
        found_in = F.lit(False)
        if not ignore_overlaps:
            found_in |= is_ov
        if not ignore_upstream:
            found_in |= F.when(along, left).otherwise(right)
        if not ignore_downstream:
            found_in |= F.when(along, right).otherwise(left)
        dist = genomic_distance(s1o, e1o, s2c, e2c)
        keep = found_in & (dist <= F.col("__cb_cap" + sfx1))
        # overlaps rank before abutting neighbours at distance 0
        idist = F.when(is_ov & F.lit(not ignore_overlaps), F.lit(0)).otherwise(
            F.coalesce(F.try_add(dist, F.lit(1)), dist))  # saturating
        order = [F.asc("__idist")]
        if tie_breaking_col is not None:
            order.append(F.asc_nulls_last(tie_breaking_col + sfx2))
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
    return _outputs(out, return_input, return_overlap, return_distance)


def _closest_broadcast(df1: DataFrame, df2: DataFrame, body: _ClosestBody,
                       out_schema: T.StructType, max_rows: int | None = None,
                       tiny: bool = False) -> DataFrame | None:
    """Broadcast-kernel closest for a small df2 (the "nearest gene
    against a huge table" shape): df2 is collected ONCE at
    plan-construction time as an Arrow table and shipped as a Spark
    broadcast; a ``mapInArrow`` over df1 runs the same body as the
    cogroup path, so every row is identical — but df1 never shuffles
    and parallelism is scan partitions, not chromosome count.
    ``mapInArrow`` composes with streaming frames unchanged, so
    ``streaming.stream_closest_static`` is this path.

    ``max_rows`` (the auto-gate path) hard-bounds the driver collect:
    Catalyst's size estimate alone admits df2 here, and a bad estimate
    must not become an unbounded collect — over the cap, returns
    ``None`` so the caller falls back (see ``ops._bounded_arrow``; no
    extra probe job for genuinely tiny estimates, which keeps the auto
    path's fixed cost at ONE driver job).

    ``tiny`` (the auto gate, ``ops._tiny(df1)``): df1 is collected too,
    under the same row cap, and the body runs on the driver; the rows
    (at most k per df1 row, plus left-join nulls) hand back as a
    LocalRelation — no shuffle, no round-robin spread, no Python-worker
    stage."""
    from .ops import _bounded_arrow, _spread_if_underpartitioned

    if max_rows is None:
        t2 = df2.toArrow()
    else:
        t2 = _bounded_arrow(df2, max_rows)
        if t2 is None:
            return None
    # probe=False: a tiny frame is far under the probe's size bar
    t1 = _bounded_arrow(df1, max_rows, probe=False) if tiny else None
    if t1 is not None:
        return local_df(body(t1, t2), out_schema)
    t2_bc = df1.sparkSession.sparkContext.broadcast(t2)

    def kern(batches):
        for b in batches:
            if b.num_rows:
                yield from body(pa.Table.from_batches([b]),
                                t2_bc.value).to_batches()

    return _spread_if_underpartitioned(df1).mapInArrow(kern, out_schema)


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
    per chromosome; ``applyInArrow``); 'binned' = pure-DataFrame
    cap-escalation plan (parallel within chromosomes — the
    huge-single-chrom path); 'broadcast' = df2 collected once as an
    Arrow table and broadcast to a ``mapInArrow`` over df1 — zero
    shuffle of df1, parallelism = scan partitions (the
    small-annotation / huge-df1 shape; same body, identical rows).
    'auto' picks broadcast when df2's scan size fits the broadcast
    bound (non-self mode; tiny inputs then finish on the driver), else
    binned when the combined input scan size exceeds
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
    opts = dict(k=k, ignore_overlaps=ignore_overlaps,
                ignore_upstream=ignore_upstream,
                ignore_downstream=ignore_downstream,
                direction_col=direction_col,
                tie_breaking_col=tie_breaking_col,
                return_overlap=return_overlap,
                return_distance=return_distance)
    body = _ClosestBody(cols1=cols1, cols2=cols2, suffixes=suffixes,
                        self_mode=self_mode, **opts)
    out_schema = _out_schema(df1, df2, suffixes, return_overlap,
                             return_distance)
    if strategy == "broadcast" or (strategy == "auto" and not self_mode
                                   and _small_df2(df2)):
        from .ops import _SMALL_INPUT_MAX_ROWS, _threshold, _tiny
        cap = (None if strategy == "broadcast"  # explicit request: trust it
               else _threshold(df2, "smallInputMaxRows", _SMALL_INPUT_MAX_ROWS))
        out = _closest_broadcast(df1, df2, body, out_schema, max_rows=cap,
                                 tiny=strategy == "auto" and _tiny(df1))
        if out is not None:
            return _outputs(out, return_input, return_overlap,
                            return_distance)
        # auto-gate mis-estimate: df2 exceeded the hard row cap — fall
        # through to the distributed strategies
    if strategy == "binned" or (strategy == "auto" and binned_ok and _big_inputs(df1, df2)):
        return _closest_binned(
            df1, df2, return_input=return_input, suffixes=suffixes,
            cols1=cols1, cols2=cols2, **opts)

    # Rename df2's columns before the cogroup. When df2 shares attribute
    # lineage with df1 (self-mode, or df2 derived from df1) AND the output
    # schema reuses the input column names, Spark's self-cogroup attribute
    # dedup can truncate the right-side frame to just the grouping column
    # (observed on Spark 4.1: right frame arrives as ['chrom'] only).
    # Unique right-side names make the plan collision-free; ``fn`` renames
    # them back before the body runs.
    names2 = df2.columns

    def fn(t1: pa.Table, t2: pa.Table) -> pa.Table:
        return body(t1, t2.rename_columns(names2))

    df2r = df2.toDF(*["__r__" + c for c in names2])
    out = (df1.groupBy(F.col(ck1))
           .cogroup(df2r.groupBy(F.col("__r__" + ck2)))
           .applyInArrow(fn, out_schema))
    return _outputs(out, return_input, return_overlap, return_distance)
