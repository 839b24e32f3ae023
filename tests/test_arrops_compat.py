"""Differential tests: the driver-side numpy compat layer
(bioframe_spark/core/arrops.py) vs the reference's public array kernels
(reference core/arrops.py) on seeded random geometry.

Documented divergences (see the compat module docstring) are tested as
such: closest_intervals compares per-row distance multisets (tie
IDENTITY follows this engine's canonical rule, not the reference's
emergent positional order), and coverage_intervals_rle compares the
border step function (within-tie-group partial sums are order-defined
in both implementations, differently).
"""

from __future__ import annotations

import numpy as np
import pytest

from bioframe_spark.core import arrops as ours
from test_reference_parity_ab import load_reference


@pytest.fixture(scope="module")
def ref_arrops():
    load_reference()
    import bioframe.core.arrops as ra
    return ra


def _rand_ivals(rng, n, span=200, max_len=30, points=True):
    starts = rng.integers(0, span, n)
    lens = rng.integers(0 if points else 1, max_len, n)
    return starts.astype(np.int64), (starts + lens).astype(np.int64)


SEEDS = [0, 1, 2, 7]


def test_natsort_family(ref_arrops):
    vals = ["chr10", "chr2", "chrX", "chr2_alt", "chrMT", "scaffold_11",
            "scaffold_2", "chr1:100-200"]
    assert ours.natsorted(vals) == ref_arrops.natsorted(vals)
    # argnatsort agrees on equal-length keys (the chromosome-name case);
    # on mixed-length keys the REFERENCE zip-truncates its keys and
    # disagrees with its own natsorted — our version is natsorted's
    # order (deviation documented in core/arrops.py)
    same_len = np.array(["chr10", "chr2", "chr7", "chr1"])
    np.testing.assert_array_equal(ours.argnatsort(same_len),
                                  ref_arrops.argnatsort(same_len))
    mixed = np.array(vals)
    got = ours.argnatsort(mixed)
    assert [mixed[i] for i in got] == ours.natsorted(vals)
    digits = ["10", "1", "2", "100"]  # homogeneous keys — mixing pure-digit
    # and text strings raises in BOTH implementations (int vs str keys)
    assert ours.natsorted(digits) == ref_arrops.natsorted(digits)
    assert ours.natsort_key("chr12b7") == ref_arrops.natsort_key("chr12b7")


@pytest.mark.parametrize("seed", SEEDS)
def test_small_utils(ref_arrops, seed):
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 100, 17)
    b = rng.integers(0, 100, 17)
    np.testing.assert_array_equal(ours.interweave(a, b),
                                  ref_arrops.interweave(a, b))
    arr = rng.integers(-5, 10, 50)
    starts = rng.integers(0, 40, 12)
    ends = starts + rng.integers(0, 10, 12)
    np.testing.assert_array_equal(ours.sum_slices(arr, starts, ends),
                                  ref_arrops.sum_slices(arr, starts, ends))
    np.testing.assert_array_equal(
        ours.arange_multi(starts, stops=ends),
        ref_arrops.arange_multi(starts, stops=ends))
    np.testing.assert_array_equal(
        ours.arange_multi(starts, lengths=ends - starts),
        ref_arrops.arange_multi(starts, lengths=ends - starts))


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("closed", [False, True])
def test_overlap_intervals(ref_arrops, seed, closed):
    rng = np.random.default_rng(seed)
    s1, e1 = _rand_ivals(rng, 60)
    s2, e2 = _rand_ivals(rng, 45)
    got = ours.overlap_intervals(s1, e1, s2, e2, closed=closed, sort=True)
    want = ref_arrops.overlap_intervals(s1, e1, s2, e2, closed=closed,
                                        sort=True)
    np.testing.assert_array_equal(got[0], want[0])
    np.testing.assert_array_equal(got[1], want[1])
    go = ours.overlap_intervals_outer(s1, e1, s2, e2, closed=closed)
    wo = ref_arrops.overlap_intervals_outer(s1, e1, s2, e2, closed=closed)
    np.testing.assert_array_equal(np.sort(go[2]), np.sort(wo[2]))
    np.testing.assert_array_equal(np.sort(go[3]), np.sort(wo[3]))


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("min_dist", [0, None, 3])
def test_merge_intervals(ref_arrops, seed, min_dist):
    rng = np.random.default_rng(seed)
    s, e = _rand_ivals(rng, 80)
    got = ours.merge_intervals(s, e, min_dist=min_dist)
    want = ref_arrops.merge_intervals(s, e, min_dist=min_dist)
    for g, w in zip(got, want):
        np.testing.assert_array_equal(g, w)


def _sequential_islands(s, e, w, min_dist):
    """One interval at a time in (start, end) order, with Python ints
    (no wrap): the island sweep's rule, written out."""
    out = []
    for i in sorted(range(len(s)), key=lambda i: (s[i], e[i])):
        si, ei, wi = int(s[i]), int(e[i]), int(w[i])
        if out:
            run = out[-1][2]
            joins = (si < run if min_dist is None
                     else si <= min(run + min_dist, ours.INT64_MAX))
            if joins:
                out[-1][2] = max(run, ei)
                out[-1][3] += wi
                continue
        out.append([i, si, ei, wi])
    return [list(col) for col in zip(*out)] if out else [[], [], [], []]


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("min_dist", [None, 0, 5])
def test_island_sweep(seed, min_dist):
    """``island_sweep`` (the engine's per-group kernel) against the
    reference mirror ``merge_intervals`` where nothing overflows, and
    against a sequential loop on INT64_MAX ends, where ``merge_intervals``
    wraps and the sweep saturates; weighted counts are island sums."""
    rng = np.random.default_rng(seed)
    for _ in range(40):
        s, e = _rand_ivals(rng, int(rng.integers(0, 40)), span=80, max_len=8)
        w = rng.integers(1, 5, len(s))
        first, gs, ge, gc = ours.island_sweep(s, e, w, min_dist=min_dist)
        if len(s):
            ids, ms, me = ours.merge_intervals(s, e, min_dist=min_dist)
            np.testing.assert_array_equal(gs, ms)
            np.testing.assert_array_equal(ge, me)
            np.testing.assert_array_equal(gc, np.bincount(ids, weights=w))
            np.testing.assert_array_equal(ids[first], np.arange(len(ms)))
        else:
            assert len(first) == len(gs) == len(ge) == len(gc) == 0
        unweighted = ours.island_sweep(s, e, min_dist=min_dist)[3]
        np.testing.assert_array_equal(
            unweighted, ours.island_sweep(s, e, np.ones(len(s)),
                                          min_dist=min_dist)[3])
        # sentinel ends: an interval reaching INT64_MAX swallows every
        # later start, and points at INT64_MAX stay exact
        m = ours.INT64_MAX
        s2 = np.concatenate([s, [m - 3, m, m, 40]]).astype(np.int64)
        e2 = np.concatenate([e, [m, m, m, m]]).astype(np.int64)
        w2 = np.concatenate([w, [1, 2, 3, 4]])
        got = [list(a) for a in ours.island_sweep(s2, e2, w2, min_dist)]
        assert got[1:] == _sequential_islands(s2, e2, w2, min_dist)[1:]
        assert [(s2[i], e2[i]) for i in got[0]] == [
            (s2[i], e2[i]) for i in _sequential_islands(s2, e2, w2,
                                                        min_dist)[0]]


@pytest.mark.parametrize("seed", SEEDS)
def test_complement_intervals(ref_arrops, seed):
    rng = np.random.default_rng(seed)
    s, e = _rand_ivals(rng, 40)
    for bounds in [(0, ours.INT64_MAX), (50, 150), (-10, 500)]:
        got = ours.complement_intervals(s, e, bounds=bounds)
        want = ref_arrops.complement_intervals(s, e, bounds=bounds)
        np.testing.assert_array_equal(got[0], want[0])
        np.testing.assert_array_equal(got[1], want[1])


@pytest.mark.parametrize("seed", SEEDS)
def test_coverage_rle_step_function(ref_arrops, seed):
    rng = np.random.default_rng(seed)
    s, e = _rand_ivals(rng, 50, points=False)
    w = rng.integers(1, 5, 50)
    for weights in (None, w):
        gb, gc = ours.coverage_intervals_rle(s, e, weights=weights)
        rb, rc = ref_arrops.coverage_intervals_rle(s, e, weights=weights)
        # compare as step functions: the final running value at each
        # distinct border (within-tie partial sums are order-defined)
        def step(borders, cov):
            out = {}
            for b, c in zip(borders, cov):
                out[int(b)] = int(c)  # later entries overwrite
            return out
        assert step(gb, gc) == step(rb, rc)


@pytest.mark.parametrize("seed", SEEDS)
def test_stack_intervals(ref_arrops, seed):
    rng = np.random.default_rng(seed)
    s, e = _rand_ivals(rng, 40, points=False)
    np.testing.assert_array_equal(ours.stack_intervals(s, e),
                                  ref_arrops.stack_intervals(s, e))


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("k", [1, 3])
def test_closest_intervals_distances(ref_arrops, seed, k):
    """Tie IDENTITY may legitimately differ (documented deviation); the
    per-row multiset of chosen DISTANCES must match the reference."""
    rng = np.random.default_rng(seed)
    s1, e1 = _rand_ivals(rng, 30, span=500)
    s2, e2 = _rand_ivals(rng, 25, span=500)

    def dmap(ids1, ids2, sa, ea, sb, eb):
        out = {}
        for i, j in zip(ids1, ids2):
            gap = max(int(sa[i]) - int(eb[j]), int(sb[j]) - int(ea[i]), 0)
            out.setdefault(int(i), []).append(gap)
        return {i: sorted(v) for i, v in out.items()}

    gi1, gi2 = ours.closest_intervals(s1, e1, s2, e2, k=k)
    ri1, ri2 = ref_arrops.closest_intervals(s1, e1, s2, e2, k=k)
    assert dmap(gi1, gi2, s1, e1, s2, e2) == dmap(ri1, ri2, s1, e1, s2, e2)


def test_closest_intervals_self_mode(ref_arrops):
    s = np.array([0, 10, 11, 50], dtype=np.int64)
    e = np.array([5, 11, 20, 60], dtype=np.int64)
    gi1, gi2 = ours.closest_intervals(s, e, k=1)
    # every interval gets a neighbor, never itself
    assert sorted(set(gi1.tolist())) == [0, 1, 2, 3]
    assert all(i != j for i, j in zip(gi1, gi2))
