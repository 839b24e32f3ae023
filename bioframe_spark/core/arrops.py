"""Driver-side numpy compatibility layer for the reference's public
array-kernel API (``bioframe.core.arrops``, reference
``core/arrops.py:10-798``).

The distributed engine expresses these kernels as DataFrame physical
plans (SURVEY.md §2.3) — THAT is the 100 TB path.  This module exists so
code written against the reference's public numpy surface can run
unchanged on already-collected arrays (plot prep, small views,
driver-side glue).  Every function here is an independent
implementation of the documented behavior, differential-tested against
the reference in ``tests/test_arrops_compat.py``; ties and edge rules
follow this engine's documented semantics where the two diverge (noted
per function).

Scope note: these are in-memory, single-machine kernels by design.  Do
not feed them unbounded collected data — use the DataFrame operators.

The engine's own NumPy kernels live here too (``closest_kernel``,
``island_sweep``, ``group_rows``): the operators run them per Arrow
batch on executors and over one bounded Arrow collect on the driver.
This module imports nothing from ``operators/``.
"""

from __future__ import annotations

import re

import numpy as np

INT64_MAX = np.iinfo(np.int64).max

_DIGIT_RUNS = re.compile(r"(\d+)")


def natsort_key(s):
    """Natural-sort key: digit runs compare numerically, text runs
    lexically ("chr2" < "chr10")."""
    return tuple(
        int(tok) if tok.isdigit() else tok
        for tok in _DIGIT_RUNS.split(str(s))
        if tok != ""
    )


def natsorted(iterable):
    return sorted(iterable, key=natsort_key)


def argnatsort(array):
    """Indices that natural-sort ``array`` (stable).

    Deviation (documented): the reference's argnatsort zips the
    per-element key tuples, silently TRUNCATING every key to the
    shortest key's length before lexsorting (reference arrops.py:18-23)
    — so its argnatsort can disagree with its own natsorted when key
    lengths differ ("chrX" alongside "chr2_alt").  This implementation
    is simply natsorted's order; the two agree whenever all keys have
    equal length (the chromosome-name case the reference uses it for).
    """
    array = np.asarray(array)
    if array.size == 0:
        return np.array([], dtype=int)
    return np.array(
        sorted(range(array.size), key=lambda i: natsort_key(array[i])),
        dtype=int,
    )


def interweave(a, b):
    """Element-wise interleave of two equal-length arrays:
    [a0, b0, a1, b1, ...]."""
    a = np.asarray(a)
    b = np.asarray(b)
    return np.stack([a, b], axis=1).ravel()


def sum_slices(arr, starts, ends):
    """Sums of ``arr[starts[i]:ends[i]]`` per slice, vectorized via the
    prefix-sum difference (empty slices sum to 0 naturally)."""
    arr = np.asarray(arr)
    prefix = np.concatenate(([0], np.cumsum(arr)))
    return prefix[np.asarray(ends)] - prefix[np.asarray(starts)]


def arange_multi(starts, stops=None, lengths=None):
    """Concatenation of ``arange(starts[i], stops[i])`` for every i
    (or ``lengths[i]`` counts from each start)."""
    if (stops is None) == (lengths is None):
        raise ValueError("provide exactly one of stops / lengths")
    if lengths is None:
        lengths = np.asarray(stops) - starts
    else:
        lengths = np.asarray(lengths)
    if np.isscalar(starts):
        starts = np.full(lengths.shape[0], starts)
    starts = np.asarray(starts)
    total = int(lengths.sum())
    offsets = np.arange(total) - np.repeat(
        np.cumsum(lengths) - lengths, lengths)
    return np.repeat(starts, lengths) + offsets


def _points_to_len1(starts, ends):
    starts = np.asarray(starts)
    ends = np.asarray(ends)
    return starts, np.where(ends == starts, ends + 1, ends)


def overlap_intervals(starts1, ends1, starts2, ends2, closed=False,
                      sort=False):
    """Index pairs (ids1, ids2) of overlapping intervals between two
    sets.  Half-open semantics with the engine's point rewrite
    (zero-length intervals overlap segments containing them);
    ``closed=True`` reports single-point touches too (integer
    coordinates: equivalent to extending ends by one).  Pair ORDER is
    implementation-specific unless ``sort=True`` (then (id1, id2)
    lexicographic) — same contract as the reference."""
    s1, e1 = _points_to_len1(starts1, ends1)
    s2, e2 = _points_to_len1(starts2, ends2)
    if closed:
        e1 = e1 + 1
        e2 = e2 + 1
    # the sweep re-applies the point rewrite internally; inputs are
    # already rewritten so it is a no-op there
    i1, i2 = _overlap_pairs(
        s1.astype(np.int64), e1.astype(np.int64),
        s2.astype(np.int64), e2.astype(np.int64))
    if sort:
        order = np.lexsort([i2, i1])
        i1, i2 = i1[order], i2[order]
    return i1, i2


def overlap_intervals_outer(starts1, ends1, starts2, ends2, closed=False):
    """Overlap pairs plus the indices in each set that match nothing."""
    i1, i2 = overlap_intervals(starts1, ends1, starts2, ends2,
                               closed=closed)
    lonely1 = np.setdiff1d(np.arange(len(np.asarray(starts1))), i1)
    lonely2 = np.setdiff1d(np.arange(len(np.asarray(starts2))), i2)
    return i1, i2, lonely1, lonely2


def merge_intervals(starts, ends, min_dist=0):
    """Gaps-and-islands on one interval set: per-input cluster ids (in
    input order) plus the merged span per cluster.  ``min_dist=0``
    merges abutting intervals; ``min_dist=None`` merges only genuine
    overlaps (half-open: [0,1) and [1,2) stay separate)."""
    starts = np.asarray(starts)
    ends = np.asarray(ends)
    order = np.lexsort([ends, starts])
    s, e = starts[order], ends[order]
    reach = np.maximum.accumulate(e)
    if starts.shape[0] == 0:
        empty = np.array([], dtype=np.int64)
        return empty, empty.copy(), empty.copy()
    if min_dist is None:
        breaks = s[1:] >= reach[:-1]
    else:
        breaks = s[1:] > reach[:-1] + min_dist
    island_sorted = np.concatenate(([0], np.cumsum(breaks)))
    cluster_ids = np.empty(starts.shape[0], dtype=np.int64)
    cluster_ids[order] = island_sorted
    first_of_island = np.concatenate(([True], breaks))
    last_of_island = np.concatenate((breaks, [True]))
    return cluster_ids, s[first_of_island], reach[last_of_island]


def island_sweep(starts, ends, weights=None, min_dist=0):
    """The engine's one NumPy gaps-and-islands sweep over ONE group
    (callers group by chrom/on keys and call it per group).

    Same border rule as :func:`merge_intervals`: sort by (start, end);
    a row opens an island where start > running max end + ``min_dist``
    (strict ``>=`` under ``min_dist=None``, so coincident points stay
    separate islands). Unlike the reference mirror it is exact at the
    int64 edge: a running max within ``min_dist`` of INT64_MAX (sentinel
    ends) saturates instead of wrapping, so nothing clears it — the
    ``try_add`` rule of the Spark border column.

    Returns, per island in start order: the input position of its first
    row, its start, its end (the running max at its last row) and its
    summed ``weights`` (row count when None). Island order, spans and
    counts depend only on the row SET, so merging weighted islands back
    in with further rows gives the islands of one pass (the invariant
    the map-side fuse and the streaming state rely on)."""
    s = np.asarray(starts, dtype=np.int64)
    e = np.asarray(ends, dtype=np.int64)
    n = len(s)
    if n == 0:
        return (np.zeros(0, dtype=np.int64),) * 4
    order = np.lexsort((e, s))
    s, e = s[order], e[order]
    run = np.maximum.accumulate(e)
    border = np.ones(n, dtype=bool)
    if min_dist is None:
        border[1:] = s[1:] >= run[:-1]
    else:
        lim = INT64_MAX - int(min_dist)
        border[1:] = s[1:] > np.minimum(run[:-1], lim) + np.int64(min_dist)
    idx = np.flatnonzero(border)
    nxt = np.append(idx[1:], n)
    if weights is None:
        counts = nxt - idx
    else:
        w = np.asarray(weights, dtype=np.int64)[order]
        counts = np.add.reduceat(w, idx)
    return order[idx], s[idx], run[nxt - 1], counts


def complement_intervals(starts, ends, bounds=(0, INT64_MAX)):
    """Gaps left uncovered inside ``bounds`` by the merged intervals."""
    lo, hi = bounds
    _, ms, me = merge_intervals(starts, ends, min_dist=0)
    keep = (me > lo) & (ms < hi)
    ms, me = np.maximum(ms[keep], lo), np.minimum(me[keep], hi)
    gap_starts = np.concatenate(([lo], me))
    gap_ends = np.concatenate((ms, [hi]))
    nonempty = gap_starts < gap_ends
    return gap_starts[nonempty], gap_ends[nonempty]


def group_rows(table, keys):
    """Rows of a pyarrow ``table`` grouped by its ``keys`` columns: a
    table of the distinct keys and, per key, the ascending int64 row
    indices that hold it, in order of first appearance. A null key is a
    group of its own; each caller decides what it means. Arrow hash
    grouping (``Table.group_by``), so string keys never pay a NumPy
    object sort — the engine's one row-grouping primitive for driver
    and executor kernels."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keys = list(keys)
    rows = pa.array(np.arange(table.num_rows, dtype=np.int64))
    g = (table.select(keys).append_column("__row", rows)
         .group_by(keys, use_threads=False).aggregate([("__row", "list")]))
    lists = g["__row_list"].combine_chunks()
    flat = pc.list_flatten(lists).to_numpy()
    lens = pc.list_value_length(lists).to_numpy()
    ends = np.cumsum(lens)
    return g.select(keys), [flat[b - n:b] for n, b in zip(lens.tolist(),
                                                          ends.tolist())]


def key_tuples(keys):
    """The rows of a :func:`group_rows` key table as tuples of Python
    values (None for a null)."""
    return zip(*(c.to_pylist() for c in keys.columns))


def _neighbor_candidates(starts1, ends1, order2, key2, k, side):
    """ids (i1, pos-in-sorted2) of ≤k nearest non-overlapping set-2
    neighbors on one side. side='left': set-2 end <= start1, nearest =
    largest end. side='right': set-2 start >= end1, nearest = smallest
    start. key2 is set 2's end (left) or start (right), sorted
    ascending by ``order2``."""
    n1 = starts1.shape[0]
    if side == "left":
        hi = np.searchsorted(key2, starts1, "right")
        lo = np.maximum(hi - k, 0)
    else:
        lo = np.searchsorted(key2, ends1, "left")
        hi = np.minimum(lo + k, key2.shape[0])
    counts = hi - lo
    ids1 = np.repeat(np.arange(n1), counts)
    if counts.sum() == 0:
        return ids1, np.array([], dtype=np.int64)
    return ids1, order2[arange_multi(lo, lengths=counts)]


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
    others = arange_multi(match_lo, lengths=counts)
    # keep only cross-set pairs, oriented (set1, set2)
    a_side, o_side = sides[anchors], sides[others]
    cross = a_side != o_side
    anchors, others = anchors[cross], others[cross]
    a_side = a_side[cross]
    i1 = np.where(a_side, idx[others], idx[anchors])
    i2 = np.where(a_side, idx[anchors], idx[others])
    return i1.astype(np.int64), i2.astype(np.int64)


def closest_kernel(s1, e1, s2, e2, k=1, tie=None, along=None,
                   ignore_overlaps=False, ignore_upstream=False,
                   ignore_downstream=False, self_mode=False):
    """The engine's one closest kernel, over ONE chromosome's int64
    arrays: for each set-1 interval the ≤k closest set-2 intervals
    (overlapping ⇒ distance 0). Returns (ids1, ids2, dist); a set-1 row
    with no candidate appears once with ids2 = -1 and dist 0.

    Ranking: (distance, overlap before abutting neighbor, ``tie``
    ascending, set-2 (start, end), set-2 position), so callers that hand
    set 2 over in one deterministic order get deterministic ties.
    ``tie`` is numeric (smaller wins; callers rank nulls last);
    ``along`` is the per-row strand flag (False = '-': upstream and
    downstream swap sides). ``self_mode``: both sets are the same rows
    in the same order, and a row never matches its own position (exact
    duplicates still match each other at distance 0)."""
    s1 = np.asarray(s1, dtype=np.int64)
    e1 = np.asarray(e1, dtype=np.int64)
    o2 = np.lexsort((np.asarray(e2, dtype=np.int64),
                     np.asarray(s2, dtype=np.int64)))
    s2 = np.asarray(s2, dtype=np.int64)[o2]
    e2 = np.asarray(e2, dtype=np.int64)[o2]
    n1, n2 = s1.shape[0], s2.shape[0]
    tie = np.zeros(n2) if tie is None else np.asarray(tie)[o2]
    along = np.ones(n1, bool) if along is None else np.asarray(along, bool)

    # overlap candidates (distance 0)
    if ignore_overlaps or n2 == 0:
        ov1 = ov2 = np.array([], dtype=np.int64)
    else:
        ov1, ov2 = _overlap_pairs(s1, e1, s2, e2)
        if self_mode:
            m = ov1 != o2[ov2]
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
    # in self mode a point is its own neighbour on both sides; fetch one
    # extra per side so excluding it still leaves k
    kn = k + 1 if self_mode else k
    for strand_mask, up_side in ((along, "left"), (~along, "right")):
        ids = np.flatnonzero(strand_mask)
        if ids.size == 0:
            continue
        # upstream = up_side; downstream = the other side
        for side, ignored in ((up_side, ignore_upstream),
                              ("right" if up_side == "left" else "left",
                               ignore_downstream)):
            if ignored or n2 == 0:
                continue
            if side == "left":
                c1, c2 = _neighbor_candidates(
                    s1[ids], e1[ids], order_e, e2[order_e], kn, "left")
                d = s1[ids][c1] - e2[c2]
            else:
                c1, c2 = _neighbor_candidates(
                    s1[ids], e1[ids], order_s, s2[order_s], kn, "right")
                d = s2[c2] - e1[ids][c1]
            if self_mode:
                m = ids[c1] != o2[c2]
                c1, c2, d = c1[m], c2[m], d[m]
            cand1.append(ids[c1])
            cand2.append(c2)
            dists.append(np.maximum(d, 0))
            flags.append(np.ones(c1.shape[0], dtype=np.int8))

    ids1 = np.concatenate(cand1)
    ids2 = np.concatenate(cand2)
    dd = np.concatenate(dists)
    fl = np.concatenate(flags)
    if ids1.shape[0]:
        order = np.lexsort([ids2, tie[ids2], fl, dd, ids1])
        ids1, ids2, dd = ids1[order], ids2[order], dd[order]
        # dedupe (a candidate can appear via both the overlap and a neighbor
        # path, e.g. a zero-length set-2 interval exactly at start1, with
        # overlap (dd=0, flag=0) and abutting (dd=0, flag=1) entries) —
        # global first-occurrence per pair; the array is sorted by
        # (ids1, dd, flag, ...) so first = min (dd, flag)
        _, first = np.unique(ids1 * (n2 + 1) + ids2, return_index=True)
        keep = np.sort(first)
        ids1, ids2, dd = ids1[keep], ids2[keep], dd[keep]
        borders = np.r_[True, ids1[1:] != ids1[:-1]]
        rank = np.arange(ids1.shape[0]) - np.maximum.accumulate(
            np.where(borders, np.arange(ids1.shape[0]), -1))
        m = rank < k
        ids1, ids2, dd = ids1[m], o2[ids2[m]], dd[m]

    # left-join semantics: set-1 rows with no candidate get a -1 row
    matched = np.zeros(n1, bool)
    matched[ids1] = True
    miss = np.flatnonzero(~matched)
    return (np.concatenate([ids1, miss]),
            np.concatenate([ids2, np.full(miss.shape[0], -1, np.int64)]),
            np.concatenate([dd, np.zeros(miss.shape[0], np.int64)]))


def closest_intervals(starts1, ends1, starts2=None, ends2=None, k=1,
                      tie_arr=None, ignore_overlaps=False,
                      ignore_upstream=False, ignore_downstream=False,
                      along=None):
    """Index pairs (ids1, ids2) of the ≤k closest set-2 intervals per
    set-1 interval (self-mode when set 2 is omitted, positional
    self-exclusion).  Runs :func:`closest_kernel`, the kernel every
    strategy of the distributed ``closest`` operator uses, so ties
    follow this engine's documented (distance, tie_arr, canonical
    (start, end)) rule — not the reference kernel's emergent positional
    order (see operators/closest.py module docstring for the deviation
    list)."""
    self_mode = starts2 is None and ends2 is None
    if self_mode:
        starts2, ends2 = starts1, ends1
    ids1, ids2, _ = closest_kernel(
        starts1, ends1, starts2, ends2, k=k, tie=tie_arr, along=along,
        ignore_overlaps=ignore_overlaps, ignore_upstream=ignore_upstream,
        ignore_downstream=ignore_downstream, self_mode=self_mode)
    hit = ids2 >= 0
    return ids1[hit], ids2[hit]


def coverage_intervals_rle(starts, ends, weights=None):
    """Run-length coverage profile: the sorted 2n interval borders and
    the running covered weight after each border.  Entries WITHIN a tie
    group of equal borders are order-dependent by construction (here:
    stable, starts before the ends that arrived later in the concat);
    the step-function value at each distinct border (the last entry per
    value) is canonical."""
    starts = np.asarray(starts)
    ends = np.asarray(ends)
    if weights is None:
        weights = np.ones(starts.shape[0], dtype=np.int64)
    weights = np.asarray(weights)
    borders = np.concatenate((starts, ends))
    deltas = np.concatenate((weights, -weights))
    order = np.argsort(borders, kind="stable")
    return borders[order], np.cumsum(deltas[order])


def first_fit_levels(starts, ends, order):
    """Greedy first-fit level assignment processing intervals in
    ``order``: each takes the lowest level whose last occupant ended at
    or before its start (half-open touch never collides).  The ONE
    sequential stacking loop — reference-order and plot-order callers
    differ only in the order array they pass."""
    levels = np.full(np.asarray(starts).shape[0], -1, dtype=np.int64)
    level_free_at: list[int] = []
    for i in order:
        placed = False
        for lvl, free_at in enumerate(level_free_at):
            if starts[i] >= free_at:
                levels[i] = lvl
                level_free_at[lvl] = ends[i]
                placed = True
                break
        if not placed:
            levels[i] = len(level_free_at)
            level_free_at.append(ends[i])
    return levels


def stack_intervals(starts, ends):
    """Greedy first-fit stacking levels, reference tie order: sweep
    borders left to right, free levels at an end border before filling
    a start border at the same coordinate, and among intervals starting
    together place the LONGER one first."""
    starts = np.asarray(starts)
    ends = np.asarray(ends)
    return first_fit_levels(starts, ends,
                            np.lexsort([-(ends - starts), starts]))
