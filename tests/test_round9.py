"""Round-9 regressions: the four r8 ADVICE defects.

1. ``incremental_dedup`` must take EVERY LSH parameter — including the
   shingle size ``n`` — from the stored index meta for its within-batch
   self-mine, not just for the probe.
2. ``ivf_topk`` / ``ivf_topk_indexed`` query-side assignment must stay
   exact (never the coarse two-level router), as the docstring promises.
3. ``stream_quality_score`` weight-table slots outside ``[0, dim)`` are
   skipped (batch broadcast-join semantics), never an IndexError and
   never a silent wrap-around write.
4. Session-memoized gate fixtures must not survive their session: a
   reused CPython ``id()`` (or a different live session) is a memo MISS.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bioframe_spark.datapipe import classifier as clf
from bioframe_spark.datapipe import dedup, similarity


def test_incremental_dedup_within_batch_uses_stored_n(spark, tmp_path):
    """Index built with n=1 (unigram shingles): a batch pair that is
    bag-of-words-identical but trigram-disjoint must be deduped by the
    within-batch pass. Before the fix the self-mine ran at the default
    n=3 and kept both."""
    old = spark.createDataFrame(
        [(i, f"unrelated indexed corpus entry number {i} about topic {i}")
         for i in range(5)],
        "doc_id long, text string")
    path = str(tmp_path / "mh_n1")
    dedup.build_minhash_index(old, path, num_hashes=16, bands=4, n=1)
    # same word multiset, reversed order: identical unigram shingle set
    # (jaccard 1.0 at n=1) but zero common trigrams (jaccard 0 at n=3)
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta"),
         (101, "zeta epsilon delta gamma beta alpha")],
        "doc_id long, text string")
    kept = dedup.incremental_dedup(batch, path, threshold=0.9,
                                   update=False)
    assert sorted(r["doc_id"] for r in kept.collect()) == [100]


def test_ivf_query_assignment_never_coarse(spark, tmp_path, monkeypatch):
    """Force the auto-coarse threshold to 2 centroids and forbid the
    router outright (coarse=False): the query side of both ivf_topk and
    ivf_topk_indexed must not touch the coarse kernel. Before the fix
    the query-side n_probe=1 assignment defaulted to auto and engaged
    it."""
    from test_round7 import _conf

    def _boom(*a, **k):  # the coarse kernel must be unreachable
        raise AssertionError("coarse router engaged")

    monkeypatch.setattr(similarity, "_centroid_assign_coarse", _boom)
    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)],
        "vec_id long, embedding array<double>")
    with _conf(spark, spark__bioframe__coarseAssignMinCentroids=2):
        out = similarity.ivf_topk(
            emb.filter("vec_id < 4"), emb, k=3, n_centroids=4,
            n_probe=1, train_iters=0, coarse=False)
        assert out.count() > 0
        path = str(tmp_path / "ivf")
        similarity.build_ivf_index(emb, path, n_centroids=4,
                                   train_iters=0, coarse=False)
        out2 = similarity.ivf_topk_indexed(
            emb.filter("vec_id < 4"), path, k=3, n_probe=1)
        assert out2.count() > 0


def test_stream_quality_out_of_range_slots_skipped(spark):
    """A weight table carrying slots the hash can never produce must
    score identically to the batch op (which silently never joins
    them) — in particular a negative slot must NOT write into the top
    of the dense vector."""
    from bioframe_spark.streaming import stream_ops

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon"), (3, None)],
        "doc_id long, text string")
    dim = 64
    # build the weight table from ACTUAL slots so the in-range part is
    # guaranteed to matter, then append junk slots
    slots = (docs.filter("text is not null")
             .select(F.explode(F.split("text", " ")).alias("t"))
             .select(clf.hash_slot(F.col("t"), dim, "xxhash64")
                     .alias("slot"))
             .distinct().collect())
    items = [(int(r["slot"]), 0.25 + 0.125 * i)
             for i, r in enumerate(slots)]
    junk = items + [(dim, 9.0), (dim + 7, -9.0), (-1, 99.0)]
    wdf_clean = spark.createDataFrame(items, "slot long, weight double")
    wdf_junk = spark.createDataFrame(junk, "slot long, weight double")
    batch = {r["doc_id"]: r["score"] for r in
             clf.hashed_text_score(docs, wdf_clean, dim=dim,
                                   bias=0.1).collect()}
    stream_clean = {r["doc_id"]: r["score"] for r in
                    stream_ops.stream_quality_score(
                        docs, wdf_clean, dim=dim, bias=0.1).collect()}
    stream_junk = {r["doc_id"]: r["score"] for r in
                   stream_ops.stream_quality_score(
                       docs, wdf_junk, dim=dim, bias=0.1).collect()}
    assert batch == stream_clean == stream_junk
    assert batch[3] is None
    # mapping weights get the same guard
    m_junk = dict(junk)
    stream_map = {r["doc_id"]: r["score"] for r in
                  stream_ops.stream_quality_score(
                      docs, m_junk, dim=dim, bias=0.1).collect()}
    assert stream_map == batch


def test_weight_df_bounded_collect(spark):
    """A corpus-sized frame passed as model weights fails loudly."""
    big = spark.range(0, 5000).select(
        F.col("id").alias("slot"), F.lit(1.0).alias("weight"))
    with pytest.raises(ValueError, match="more than dim"):
        clf.hashed_text_score(
            spark.createDataFrame([(1, "a")], "doc_id long, text string"),
            big, dim=16)


def test_session_memo_misses_on_id_reuse():
    """The fixture memo must key on session IDENTITY (weakref), not a
    reusable id(): a different object presenting the same dict key gets
    a rebuild, and a dead referent is a miss."""
    import __spark_entry__ as entry

    class S:  # stand-in session object
        pass

    s1 = S()
    built = []

    def _mk(tag):
        def _b():
            built.append(tag)
            return tag
        return _b

    key = ("t", "/sf")
    assert entry._session_memo(s1, key, _mk("one")) == "one"
    assert entry._session_memo(s1, key, _mk("dup")) == "one"  # hit
    s2 = S()  # new session, same key → rebuild, never a stale handout
    assert entry._session_memo(s2, key, _mk("two")) == "two"
    del s2  # referent gone → miss again
    assert entry._session_memo(S(), key, _mk("three")) == "three"
    assert built == ["one", "two", "three"]
    entry._STREAM_SRC.pop(key, None)


# ---------------------------------------------------------------------------
# r9 optimization round: BPE heap encoder / heap trainer equivalence.
# Both rewrites must reproduce the pre-r9 rescan forms EXACTLY (the
# operators' values are oracle/worked-example pinned); these pin the
# equivalence with the reference forms inlined verbatim.


def _ref_encode_rescan(word, ranks, eow):
    """The pre-r9 rescan encoder, verbatim."""
    from bioframe_spark.datapipe.tokenize import _merge_word

    syms = list(word) + [eow]
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for p in zip(syms, syms[1:]):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, p
        if best_pair is None:
            break
        syms = list(_merge_word(tuple(syms), *best_pair))
    return syms


def _ref_train_scan(words, freqs, n_merges):
    """The pre-r9 full-scan best-pair trainer loop, verbatim."""
    from bioframe_spark.datapipe.tokenize import _merge_word, _pair_stats

    counts, where = _pair_stats(words, freqs)
    merges = []
    for _ in range(n_merges):
        best = None
        for p, c in counts.items():
            if c <= 0:
                continue
            if best is None or c > counts[best] or \
                    (c == counts[best] and p < best):
                best = p
        if best is None:
            break
        merges.append(best)
        left, right = best
        for wi in list(where.get(best, ())):
            old = words[wi]
            new = _merge_word(old, left, right)
            if new == old:
                continue
            f = freqs[wi]
            for pair in zip(old, old[1:]):
                counts[pair] -= f
                s = where.get(pair)
                if s is not None:
                    s.discard(wi)
            for pair in zip(new, new[1:]):
                counts[pair] = counts.get(pair, 0) + f
                where.setdefault(pair, set()).add(wi)
            words[wi] = new
        counts.pop(best, None)
        where.pop(best, None)
    return merges


def test_bpe_heap_trainer_matches_scan_trainer():
    import random

    from bioframe_spark.datapipe.tokenize import END_OF_WORD, _bpe_merge_loop

    rng = random.Random(909)
    for _ in range(120):
        alpha = "abcdef"[: rng.randint(2, 6)]
        corpus = ["".join(rng.choice(alpha)
                          for _ in range(rng.randint(1, 12)))
                  for _ in range(rng.randint(1, 80))]
        freqs = [rng.randint(1, 20) for _ in corpus]
        words = [tuple(w) + (END_OF_WORD,) for w in corpus]
        n = rng.randint(0, 60)
        a = _ref_train_scan([tuple(w) for w in words], list(freqs), n)
        b = _bpe_merge_loop([tuple(w) for w in words], list(freqs), n)
        assert a == b


def test_bpe_heap_encoder_matches_rescan_encoder():
    import random

    from bioframe_spark.datapipe.tokenize import (
        END_OF_WORD, _bpe_merge_loop, _encode_word, _encode_word_heap)

    rng = random.Random(911)
    corpus = ["".join(rng.choice("abcdefghij")
                      for _ in range(rng.randint(1, 15)))
              for _ in range(2000)]
    words = [tuple(w) + (END_OF_WORD,) for w in corpus]
    merges = _bpe_merge_loop(words, [rng.randint(1, 50) for _ in corpus],
                             500)
    ranks = {p: i for i, p in enumerate(merges)}
    # trained table: every word length, spanning the dispatch threshold
    for _ in range(4000):
        w = "".join(rng.choice("abcdefghij")
                    for _ in range(rng.randint(1, 64)))
        assert _encode_word(w, ranks, END_OF_WORD) == \
            _ref_encode_rescan(w, ranks, END_OF_WORD)
    # adversarial rank tables (pairs of merged symbols, shuffled ranks —
    # inverted-rank creations the trained case never produces)
    for _ in range(1500):
        w = "".join(rng.choice("ab") for _ in range(rng.randint(1, 30)))
        pairs, syms = set(), ["a", "b"]
        for _ in range(rng.randint(1, 30)):
            left, right = rng.choice(syms), rng.choice(syms)
            pairs.add((left, right))
            syms.append(left + right)
        plist = list(pairs)
        rng.shuffle(plist)
        r2 = {p: i for i, p in enumerate(plist)}
        assert _encode_word_heap(list(w) + [END_OF_WORD], r2) == \
            _ref_encode_rescan(w, r2, END_OF_WORD)


def test_bpe_long_word_encodes_fast_and_right():
    import time

    from bioframe_spark.datapipe.tokenize import (
        END_OF_WORD, _encode_word)

    # 8k-char single word (a base64 blob is one "word" under the
    # alnum-run pre-tokenizer): the rescan form needs ~0.7 s, the heap
    # dispatch must stay well under that; output must round-trip.
    word = ("abcdabcdeabcdef" * 600)[:8000]
    ranks = {("a", "b"): 0, ("ab", "c"): 1, ("abc", "d"): 2,
             ("e", "f"): 3, ("abcd", "e"): 4}
    t0 = time.time()
    out = _encode_word(word, ranks, END_OF_WORD)
    dt = time.time() - t0
    assert "".join(out) == word + END_OF_WORD
    assert "abcd" in out and "abcde" in out and "ef" in out
    assert dt < 0.5, f"heap dispatch too slow: {dt:.2f}s"


def test_compact_minhash_index_preserves_probe(spark, tmp_path):
    """After N appends the banded table holds N+1 file sets; compaction
    must shrink the file count without changing a single probe row, keep
    the meta intact, and leave the index appendable."""
    path = str(tmp_path / "mh_soak")
    docs = [(i, f"the quick document number {i} talks about topic "
                f"{i % 7} and subject {i % 3}") for i in range(40)]
    base = spark.createDataFrame(docs[:20], "doc_id long, text string")
    dedup.build_minhash_index(base, path, num_hashes=16, bands=4)
    for lo in (20, 25, 30, 35):
        inc = spark.createDataFrame(docs[lo:lo + 5],
                                    "doc_id long, text string")
        dedup.update_minhash_index(inc, path)

    probe = spark.createDataFrame(
        [(100, docs[3][1]), (101, docs[33][1]),
         (102, "completely unrelated fresh text about nothing")],
        "doc_id long, text string")
    pre_rows = sorted(map(tuple, dedup.minhash_lsh_probe(
        probe, path, threshold=0.5).collect()))
    assert {r[0] for r in pre_rows} == {100, 101}

    before = dedup.minhash_index_stats(spark, path)
    out = dedup.compact_minhash_index(spark, path)
    after = dedup.minhash_index_stats(spark, path)
    assert out["files_before"] == before["n_files"]
    assert out["files_after"] == after["n_files"]
    assert after["n_files"] < before["n_files"]
    assert after["n_files"] >= 4  # one per band at this size
    import os as _os
    assert not _os.path.exists(f"{path}/banded.old")
    assert not _os.path.exists(f"{path}/banded.compacting")

    post_rows = sorted(map(tuple, dedup.minhash_lsh_probe(
        probe, path, threshold=0.5).collect()))
    assert post_rows == pre_rows

    # the compacted index keeps working as an increment target
    batch = spark.createDataFrame(
        [(200, docs[5][1]), (201, "genuinely new text payload here")],
        "doc_id long, text string")
    kept = dedup.incremental_dedup(batch, path, threshold=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == [201]


def test_minhash_index_writes_are_size_targeted(spark, tmp_path):
    """Build and every append must emit ONE file per band at small-batch
    sizes (not shuffle-tasks x bands — the accretion the soak measured);
    the probe must keep finding its duplicates through the new layout."""
    path = str(tmp_path / "mh_sized")
    docs = [(i, f"document number {i} discussing topic {i % 5} in "
                f"considerable and repetitive detail") for i in range(30)]

    def _pq(rows, name):
        # production shape: batches come from storage (a parquet scan
        # gives the accurate file-size estimate the sizing keys on;
        # a createDataFrame LogicalRDD estimates unknown -> sizing
        # correctly skips, covered below)
        p = str(tmp_path / name)
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.mode("overwrite").parquet(p)
        return spark.read.parquet(p)

    dedup.build_minhash_index(_pq(docs[:20], "base"), path,
                              num_hashes=16, bands=4)
    assert dedup.minhash_index_stats(spark, path)["n_files"] == 4
    for lo in (20, 25):
        dedup.update_minhash_index(_pq(docs[lo:lo + 5], f"b{lo}"), path)
    assert dedup.minhash_index_stats(spark, path)["n_files"] == 12
    probe = spark.createDataFrame([(100, docs[22][1])],
                                  "doc_id long, text string")
    hits = dedup.minhash_lsh_probe(probe, path, threshold=0.5).collect()
    assert 22 in {r["id_indexed"] for r in hits}


# ---------------------------------------------------------------------------
# round-9 session 4: assign_view broadcast kernel + frac_gene_coverage fusion
# ---------------------------------------------------------------------------

def _assign_ab_frames(spark, seed):
    """Adversarial interval frame + view for the assign_view A/B: dup
    rows, zero-length intervals (both sides), null coords, unmatched
    chroms, overlapping view regions, exact-tie overlaps, null name."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(300):
        c = rng.choice(["chr1", "chr2", "chr3", None])
        s = rng.choice([None, rng.randrange(0, 100)])
        if s is None:
            e = None if rng.random() < 0.5 else rng.randrange(0, 100)
        else:
            e = rng.choice([s, s + rng.randrange(0, 40)])
        rows.append((c, s, e, i % 37))  # i%37 -> guaranteed duplicates
    df = spark.createDataFrame(
        rows, "chrom string, start long, end long, tag long")
    view = [("chr1", 0, 20, "a"), ("chr1", 20, 40, "b"),
            ("chr1", 30, 60, "ovl"),          # overlapping regions
            ("chr1", 70, 70, "pt"),           # zero-length region
            ("chr2", 0, 50, None),            # null name
            ("chr2", 50, 100, "z")]           # chr3 unmatched
    return df, view


def test_assign_view_kernel_matches_window_path(spark):
    """The map-only broadcast kernel must be row-identical to the
    rid-window formulation (the oracle-pinned semantics) on adversarial
    inputs, including the tie rule (ovl desc, view start asc, name asc)
    and drop_unassigned."""
    import bioframe_spark as bf

    for seed in (1, 2, 3):
        df, view = _assign_ab_frames(spark, seed)
        got_k = bf.assign_view(df, view).collect()
        spark.conf.set("spark.bioframe.assignKernelMaxArms", "0")
        try:
            got_w = bf.assign_view(df, view).collect()
        finally:
            spark.conf.unset("spark.bioframe.assignKernelMaxArms")
        key = lambda r: tuple((v is None, v) for v in  # noqa: E731
                              (r["chrom"], r["start"], r["end"], r["tag"],
                               r["view_region"]))
        assert sorted(got_k, key=key) == sorted(got_w, key=key)
        assert [f.name for f in df.schema] + ["view_region"] == \
            [f.name for f in bf.assign_view(df, view).schema]


def test_assign_view_kernel_plan_is_map_only(spark):
    """With a small view the assign plan must contain no Exchange and no
    Window — one ArrowEvalPython over the input."""
    import bioframe_spark as bf

    df, view = _assign_ab_frames(spark, 7)
    plan = bf.assign_view(df, view)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "ArrowEvalPython" in plan


def test_frac_gene_coverage_single_collect_matches_composition(spark):
    """The fused one-collect kernel pair must equal the two-operator
    composition (forced by disabling the fused gate via the arms knob
    equivalent: an over-cap smallInputMaxRows)."""
    import bioframe_spark as bf

    df, _ = _assign_ab_frames(spark, 11)
    df = df.filter("chrom is not null and start is not null and end is not null") \
           .filter("end > start")
    genes = df.selectExpr("chrom", "start", "end").limit(40)
    fused = bf.frac_gene_coverage(df, genes).collect()
    spark.conf.set("spark.bioframe.smallInputMaxRows", "0")  # gate off ->
    try:  # composition (whose own kernel gates also fail -> join path)
        comp = bf.frac_gene_coverage(df, genes).collect()
    finally:
        spark.conf.unset("spark.bioframe.smallInputMaxRows")
    key = lambda r: tuple((v is None, v) for v in  # noqa: E731
                          (r["chrom"], r["start"], r["end"], r["tag"]))
    fused_s, comp_s = sorted(fused, key=key), sorted(comp, key=key)
    assert [r.asDict() for r in fused_s] == [r.asDict() for r in comp_s]


def test_assign_view_kernel_int64_edge(spark):
    """effective_end saturates at INT64_MAX in SQL (try_add+coalesce);
    the kernel must not wrap. Zero-length rows/arms AT the edge match
    nothing in both formulations; a real arm ending at the edge still
    wins normally."""
    import bioframe_spark as bf

    IMAX = (1 << 63) - 1
    df = spark.createDataFrame(
        [("chr1", IMAX, IMAX), ("chr1", IMAX - 5, IMAX),
         ("chr1", IMAX - 5, IMAX - 5), ("chr1", -IMAX - 1, -IMAX - 1)],
        "chrom string, start long, end long")
    view = [("chr1", IMAX, IMAX, "pt_edge"), ("chr1", IMAX - 10, IMAX, "tail"),
            ("chr1", -IMAX - 1, -IMAX + 10, "head")]
    got_k = bf.assign_view(df, view).collect()
    spark.conf.set("spark.bioframe.assignKernelMaxArms", "0")
    try:
        got_w = bf.assign_view(df, view).collect()
    finally:
        spark.conf.unset("spark.bioframe.assignKernelMaxArms")
    key = lambda r: (r["start"], r["end"], str(r["view_region"]))  # noqa: E731
    assert sorted(got_k, key=key) == sorted(got_w, key=key)


def test_binned_overlap_point_at_raw_max_end(spark):
    """_bin_stats hi must be the max EFFECTIVE end: a zero-length row AT
    the raw max end (effective end hi+1) bins to floor(hi/bin), past a
    partner clipped to a raw-end hi when hi lands on a bin boundary —
    the pair silently vanished (hypothesis-found: subtract dropped a
    point at the corpus max end). Pin subtract identity under a
    non-overlapping zero-length df2 AND the raw binned overlap pair."""
    import bioframe_spark as bf
    from bioframe_spark.operators import ops

    a = [("chr1", 74, 101), ("chr1", 0, 0), ("chr1", 197, 197)]
    s1 = spark.createDataFrame(a, "chrom string, start long, end long")
    s2 = spark.createDataFrame([("chr1", 0, 0)],
                               "chrom string, start long, end long")
    hint = ops._bin_stats(s1, "start", "end", s2, "start", "end")
    assert hint[1] == 198, f"hi must be max effective end, got {hint[1]}"
    got = sorted((r["chrom"], r["start"], r["end"])
                 for r in bf.subtract(s1, s2).collect())
    assert got == sorted(a)
    # the raw binned join keeps the point-at-hi pair too
    comp = spark.createDataFrame([("chr1", 0, ops.INT64_MAX)],
                                 "chrom string, start long, end long")
    ov = ops.overlap(s1, comp, how="inner", suffixes=("", "_"),
                     strategy="binned")
    assert ov.count() == 3
