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
    from ..operators.closest import _overlap_pairs

    # the sweep kernel re-applies the point rewrite internally; inputs
    # are already rewritten so it is a no-op there
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


def closest_intervals(starts1, ends1, starts2=None, ends2=None, k=1,
                      tie_arr=None, ignore_overlaps=False,
                      ignore_upstream=False, ignore_downstream=False,
                      along=None):
    """Index pairs (ids1, ids2) of the ≤k closest set-2 intervals per
    set-1 interval (self-mode when set 2 is omitted, positional
    self-exclusion).  Runs the SAME vectorized kernel the distributed
    ``closest`` operator uses, so ties follow this engine's documented
    (distance, tie_arr, canonical (start, end)) rule — not the
    reference kernel's emergent positional order (see
    operators/closest.py module docstring for the deviation list)."""
    import pandas as pd

    from ..operators.closest import _closest_kernel

    self_mode = starts2 is None and ends2 is None
    pdf1 = pd.DataFrame({
        "s": np.asarray(starts1), "e": np.asarray(ends1),
        "__pos": np.arange(len(np.asarray(starts1))),
    })
    if along is not None:
        pdf1["__along"] = np.where(np.asarray(along, dtype=bool), "+", "-")
    if self_mode:
        # the kernel's positional self-exclusion requires BOTH frames to
        # share one column set and one canonical order — hand it the
        # same frame twice
        if tie_arr is not None:
            pdf1["__tie"] = np.asarray(tie_arr)
        pdf2 = pdf1.copy()
    else:
        pdf2 = pd.DataFrame({
            "s": np.asarray(starts2), "e": np.asarray(ends2),
            "__pos": np.arange(len(np.asarray(starts2))),
        })
        if tie_arr is not None:
            pdf2["__tie"] = np.asarray(tie_arr)
    i1, i2, _dist, pdf1s, pdf2s = _closest_kernel(
        pdf1, pdf2, sk1="s", ek1="e", sk2="s", ek2="e", k=k,
        ignore_overlaps=ignore_overlaps, ignore_upstream=ignore_upstream,
        ignore_downstream=ignore_downstream,
        direction_col="__along" if along is not None else None,
        tie_breaking_col="__tie" if tie_arr is not None else None,
        self_mode=self_mode,
    )
    matched = i2 >= 0
    ids1 = pdf1s["__pos"].to_numpy()[i1[matched]]
    ids2 = pdf2s["__pos"].to_numpy()[i2[matched]]
    return ids1, ids2


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
